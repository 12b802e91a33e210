package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Test staging for the living-index streaming specs
  * (`StreamingLshIngestSpec`, `StreamingAnnIngestSpec`). */
object StreamSlices {

  /** Stage `rows` into `nSlices` key-RANGE parquet files under `src`,
    * written oldest-first with strictly increasing mtimes — so the
    * file source's arrival order equals key order, which is what makes
    * a living index's sequential ground truth computable. */
  def stage(spark: SparkSession, rows: DataFrame, src: String, nSlices: Int,
            key: String = "doc_id"): Unit = {
    import spark.implicits._
    val ids = rows.select(col(key)).as[Long].collect().sorted
    val bounds = (1 until nSlices).map(k => ids(k * ids.length / nSlices))
    (0 until nSlices).foreach { k =>
      val lo = if (k == 0) Long.MinValue else bounds(k - 1)
      val hi = if (k == nSlices - 1) Long.MaxValue else bounds(k)
      rows.filter(col(key) >= lo && col(key) < hi)
        .coalesce(1).write.mode("overwrite").parquet(f"$src/slice$k%02d")
      Thread.sleep(30)
    }
  }
}
