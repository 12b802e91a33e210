package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions._

/** Direct calls into single modules, timed from outside. */
object Probes {
  /** Opens every fixture relation (file listing and footer reads);
    * returns the seconds it took. */
  def loadTables(spark: SparkSession, dir: String): Double = {
    val t0 = System.nanoTime()
    val t = Tables(spark, dir)
    Seq(t.region, t.nation, t.customer, t.supplier, t.part, t.orders, t.lineitem,
      t.events, t.documents, t.embeddings).foreach(_.schema)
    (System.nanoTime() - t0) / 1e9
  }

  /** Builds the 10× documents replica with `ScaleUp` under the run
    * directory; returns its directory and the seconds the build took. */
  def replica(spark: SparkSession, o: Opts, tr: Tracer): (String, Double) = {
    val out = s"${o.runDir}/replica"
    val t0 = System.nanoTime()
    tr.spans("scaleup.build")(graft.ScaleUp.run(spark, o.fixture, out, Replicas, Set("documents")))
    val s = (System.nanoTime() - t0) / 1e9
    loadTables(spark, out)
    (out, s)
  }

  val Replicas = 10

  /** Layers a traced run measures by direct calls when its workload
    * does not reach them: `ScaleUp` and the text kernels over the 10×
    * replica. */
  def replicaLayers(spark: SparkSession, o: Opts, tr: Tracer): Map[String, Double] = {
    val (dir, s) = replica(spark, o, tr)
    kernels(spark, tr, dir) + ("scaleup.build_s" -> s)
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Task time per document of each public text-kernel column builder:
    * a `noop` select of the kernel over the documents table, minus a
    * bare scan of the same column. Each is the fastest of five scans:
    * interference and the first call's code generation only add time. */
  def kernels(spark: SparkSession, tr: Tracer, dir: String): Map[String, Double] = {
    val docs = Tables(spark, dir).documents
    val n = docs.count().toDouble
    val text = col("text")
    val engine = tr.engine.get
    def taskNs(c: Column): Double =
      (1 to 5).map { _ =>
        tr.drain()
        val t0 = System.currentTimeMillis()
        noop(docs.select(c.as("k")))
        tr.drain()
        engine.window(t0, System.currentTimeMillis(), 1)("spark.task_s") * 1e9
      }.min
    val bare = tr.spans("kernel.bare_scan")(taskNs(text))
    def perDoc(name: String, c: Column): (String, Double) =
      s"kernel.${name}_ns_per_doc" -> tr.spans(s"kernel.$name")((taskNs(c) - bare) / n)
    Map(
      perDoc("stopword", StopwordStatsFunctions.stopwordStats(spark, text)),
      perDoc("scrub", ScrubStatsFunctions.scrubStats(spark, text)),
      perDoc("token", TokenStatsFunctions.tokenStats(spark, text)),
      perDoc("normalize", TextNormalizeFunctions.dedupNormalize(spark, lower(text))),
      perDoc("shingle", ShingleFunctions.shingleHashes(spark, text)))
  }

  /** Median microseconds of one `GraftAuth.verify`, in batches of 1000. */
  def authVerifyUs(secret: String, token: String): Double = {
    val batches = (1 to 9).map { _ =>
      val t0 = System.nanoTime()
      var ok = 0
      (1 to 1000).foreach(_ => if (graft.GraftAuth.verify(secret, token).isDefined) ok += 1)
      require(ok == 1000, "a valid token failed verification")
      (System.nanoTime() - t0) / 1e3 / 1000
    }
    Stats.median(batches)
  }
}
