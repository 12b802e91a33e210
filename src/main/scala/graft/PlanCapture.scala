package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.execution.ExplainMode

/** Dev tool for the optimization rounds: capture `.explain("formatted")`
  * for a named list of catalog queries into per-query files —
  * `plans/rNN/<query>_<suffix>.txt` — the before/after plan evidence the
  * optimization writeup cites. Runs the bench's session shape
  * ([[Sessions.builder]] at `SPARK_GRAFT_CPUS` cores, AQE defaults);
  * each query is executed once first so the AQE-FINAL plan is captured.
  *
  *   SPARK_GRAFT_CPUS=32 sbt "runMain graft.PlanCapture <sfDir> plans/r13 before q1,q2,..."
  */
object PlanCapture {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, suffix, list) = args
    val spark = Sessions.builder(Sessions.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(outDir))
    graft.operators.CatalogOps.ensure(spark, sfDir)
    SparkEntry.artifactBuilds.foreach { case (_, _, ensure) => ensure(spark, sfDir) }
    list.split(",").map(_.trim).filter(_.nonEmpty).foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      spark.sparkContext.setJobDescription(s"plancapture: $name")
      // Execute THIS queryExecution's AdaptiveSparkPlan — the explain
      // below then prints the AQE-FINAL plan (ReusedExchange, runtime
      // join strategy changes), not the initial estimate. A noop write
      // spawns a SEPARATE QueryExecution and leaves this one unexecuted
      // (the r12 first capture made exactly that mistake). Bounded
      // materialization, not collect(): foreachPartition on the
      // executed plan's own RDD runs every operator but transfers
      // nothing to the driver, so large-output queries (400k-row p5,
      // 100x captures) cannot OOM this tool (r12 ADVICE).
      df.queryExecution.executedPlan.execute().foreachPartition(_ => ())
      val plan = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      Files.writeString(Paths.get(s"$outDir/${name}_$suffix.txt"), plan.trim + "\n")
      spark.catalog.clearCache()
      System.err.println(s"[plancapture] wrote $outDir/${name}_$suffix.txt")
    }
    spark.stop()
  }
}
