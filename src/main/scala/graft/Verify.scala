package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // Same scratch hygiene as Bench: sweep dead runs' sinks/ckpts so
    // repeated verify passes can't accumulate box state.
    val (deadRuns, legacyDirs) = Scratch.sweepStale()
    System.err.println(s"[verify] scratch sweep: $deadRuns dead run roots, $legacyDirs legacy dirs")
    val Array(sfDir, outDir) = args
    val cpus = Sessions.cpus
    // SPARK_GRAFT_MASTER=local-cluster[2,4,4096] runs the SAME dump
    // with driver and executors in SEPARATE JVMs (r11 verdict #5):
    // local[N] never exercises closure serialization, broadcast
    // transfer, or executor-side classloading across a process
    // boundary — the last untested seam of the multi-executor posture.
    // Executors need the engine on their classpath explicitly (a
    // local-cluster worker spawns bare JVMs; there is no jar shipping).
    val master = sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]")
    val builder = Sessions.builder(cpus).master(master)
    if (master.startsWith("local-cluster"))
      builder.config("spark.executor.extraClassPath",
        System.getProperty("java.class.path"))
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Dev aid: SPARK_GRAFT_ONLY=a,b restricts the dump (driver leaves it unset).
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val failures = scala.collection.mutable.LinkedHashMap.empty[String, String]
    SparkEntry.queries
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .foreach { case (name, fn) =>
      try {
        // Materialize on the driver then rewrite from a single-partition
        // LocalRelation: `orderBy(...).coalesce(1).write` does NOT reliably
        // preserve the global sort (observed reordering under AQE), and the
        // driver's compare is order-sensitive. Queries are sf0.01-sized
        // here; this is harness plumbing, not the engine's scale path.
        // The >1 MB task-size WARNs in a verify log are THIS rewrite for
        // the handful of 15k-43k-row dumps (w13/p5/w5/j2-class): the
        // LocalRelation rides the task by design. The engine-side plans
        // carry no such closures — the full local-cluster[2,4,4096]
        // pass (r11 verdict #5) showed exactly five such WARNs
        // (1.9-2.9 MB), all from this rewrite, and no others.
        val df = fn(spark, sfDir)
        val rows = java.util.Arrays.asList(df.collect(): _*)
        spark.createDataFrame(rows, df.schema).coalesce(1)
          .write.mode("overwrite").parquet(s"$outDir/$name")
      } catch { case e: Throwable =>
        // A broken query must be a first-class artifact, not silent
        // absence (round-6 lesson: a catastrophic break produced NO
        // correctness rows instead of red ones) — collected into
        // _failures.json below.
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // The WHOLE cause chain: a decode/serialization failure's
        // headline names the symptom, the root cause names the bug.
        val chain = Iterator.iterate(e.asInstanceOf[Throwable])(_.getCause)
          .takeWhile(_ != null).take(5)
          .map(t => s"${t.getClass.getName}: ${String.valueOf(t.getMessage).take(300)}")
          .mkString(" <-CAUSED-BY- ")
        failures(name) = chain
      } finally {
        // Some queries persist() intermediates (d3/d4 shingles); drop them
        // so cached blocks don't accumulate across the ~200-query run.
        // The GC additionally lets ContextCleaner release per-invocation
        // localCheckpoint blocks (clearCache never touches RDD-level
        // storage); memoized frames stay referenced and alive.
        spark.catalog.clearCache()
        System.gc()
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val failJson = failures
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/_failures.json"), failJson)
    spark.stop()
    Scratch.deleteRecursively(new java.io.File(Scratch.root))
  }
}
