package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** A catalog program and whether it counts as a write in the
  * read/write latency split. */
final case class Program(name: String, write: Boolean)

/** The catalog workloads: a program list run one program at a time
  * through the `noop` sink, in whole passes, after one untimed pass
  * that writes every program's rows to parquet for the DuckDB check
  * (and compiles every plan shape). */
object Catalog {
  /** The 29 reference-surface programs. Writes are the w-family: the
    * batch forms of the service's insert, `$set`, `$inc`, delete and
    * capacity-guard writes. */
  val sqlPrograms: Seq[Program] =
    Seq("p1_point_lookup_key", "p2_point_lookup_id", "p3_conjunctive_lookup",
      "p4_filter_scan", "p5_ne_null_semantics", "p6_in_list", "p9_projection_rename",
      "a1_filtered_counts", "a2_compound_count", "a3_global_sum_empty0", "a4_filter_sum",
      "a5_conditional_counts", "a6_null_safe_sum", "a7_grouped_agg",
      "o1_sort_desc_feed", "o2_topk",
      "j1_semi_join", "j2_enrichment_join", "j3_two_hop_chase", "j4_existence_check",
      "j5_anti_join_guard",
      "flagship_buyer_home", "flagship_admin_home", "flagship_worker_home")
      .map(Program(_, write = false)) ++
    Seq("w1_insert_defaults", "w2_masked_update", "w3_balance_ledger",
      "w4_delete_rewrite", "w5_capacity_rule").map(Program(_, write = true))

  /** The nine text and dedup programs. Writes are the programs that
    * emit a rewritten corpus (rows per kept document); the rest return
    * scores, statistics or duplicate groups. */
  val pipelinePrograms: Seq[Program] =
    Seq("t5_quality_filter", "t9_tfidf_top_terms", "t21_quality_tiers", "t23_bigram_logprob",
      "d4_dedup_minhash_lsh", "d6_dedup_normalized").map(Program(_, write = false)) ++
    Seq("pipe1_corpus_prep", "t8_text_scrub", "t29_cdc_chunks").map(Program(_, write = true))

  /** The dashboard programs the service renders (/buyer/home,
    * /top-workers, /admin/stats). */
  val dashboardPrograms: Seq[Program] =
    Seq("flagship_buyer_home", "o2_topk", "a1_filtered_counts").map(Program(_, write = false))

  /** Every run times at least this many passes, then whole passes
    * until its seconds are up. Two passes give the 5 w-family programs
    * 10 timed executions; the first pass still runs ~20% slower than the
    * second (the JIT is warming), the same in every run. */
  val MinPasses = 2

  final case class Exec(p: Program, ok: Boolean, constructMs: Double, totalMs: Double,
                        c0: Long, c1: Long)
  /** One timed pass; `firstWrite` is the index of its first noop write
    * among those the write listener has seen (traced runs only). */
  final case class Pass(execs: Seq[Exec], t0: Long, t1: Long, firstWrite: Int)

  /** Runs `order` once, one program at a time, through the noop sink. */
  def timedPass(spark: SparkSession, tr: Tracer, dir: String, order: Seq[Program],
                problems: java.util.List[String]): Pass = {
    val firstWrite = tr.writes.fold(0) { w => tr.drain(); w.writes.size }
    val t0 = System.currentTimeMillis()
    val execs = order.map { p =>
      val c0 = System.currentTimeMillis()
      val n0 = System.nanoTime()
      var cMs = 0.0
      val ok = tr.spans(s"program.${p.name}") {
        try {
          val df = tr.spans("catalog.construct")(SparkEntry.queries(p.name)(spark, dir))
          cMs = (System.nanoTime() - n0) / 1e6
          tr.spans("catalog.write")(df.write.format("noop").mode("overwrite").save())
          true
        } catch { case e: Throwable =>
          problems.add(s"${p.name}: ${e.getClass.getSimpleName}: ${e.getMessage}")
          false
        }
      }
      val totalMs = (System.nanoTime() - n0) / 1e6
      // Per-program persists are released after each program, as
      // graft.Bench does: programs are self-contained.
      spark.catalog.clearCache()
      Exec(p, ok, cMs, totalMs, c0, c0 + math.round(cMs))
    }
    Pass(execs, t0, System.currentTimeMillis(), firstWrite)
  }

  /** Per-layer figures of one traced pass. */
  def layers(tr: Tracer, pass: Pass, cores: Int): Map[String, Double] = {
    val engine = tr.engine.get
    val recs = tr.writes.get.writes.toArray(Array.empty[WriteRec]).toSeq
      .slice(pass.firstWrite, pass.firstWrite + pass.execs.count(_.ok))
    val planS = recs.map(_.planMs).sum / 1000.0
    Map(
      "catalog.construct_s" -> pass.execs.map(_.constructMs).sum / 1000.0,
      "catalog.eager_jobs" -> pass.execs.map(e => engine.jobsStartedIn(e.c0, e.c1)).sum.toDouble,
      "catalog.plan_s" -> planS,
      "catalog.exec_s" -> (pass.execs.map(e => e.totalMs - e.constructMs).sum / 1000.0 - planS),
      "plan.exchanges" -> recs.map(_.exchanges).sum.toDouble,
      "plan.broadcasts" -> recs.map(_.broadcasts).sum.toDouble,
      "plan.codegen_stages" -> recs.map(_.codegen).sum.toDouble,
      "plan.cached_relations" -> recs.map(_.cached).sum.toDouble) ++
      engine.window(pass.t0, pass.t1, cores)
  }

  def medians(ms: Seq[Map[String, Double]]): Map[String, Double] =
    ms.head.keys.map(k => k -> Stats.median(ms.map(_(k)))).toMap

  def run(spark: SparkSession, o: Opts, tr: Tracer, programs: Seq[Program],
          replicate: Boolean): Outcome = {
    val rng = new Random(o.seed)
    val tablesLoadS = Probes.loadTables(spark, o.fixture)
    val (dir, scaleS) = if (replicate) Probes.replica(spark, o, tr) else (o.fixture, 0.0)

    // Untimed pass: each program's rows land in parquet for the DuckDB
    // check, and every plan shape is compiled once. Programs run
    // concurrently here, one per core: this pass is set-up, and mostly
    // driver-bound.
    val outDir = s"${o.runDir}/outputs"
    val problems = java.util.Collections.synchronizedList(new java.util.ArrayList[String]())
    val pool = java.util.concurrent.Executors.newFixedThreadPool(o.cores)
    val checked =
      try programs.map { p =>
        pool.submit(() => try {
          SparkEntry.queries(p.name)(spark, dir).write.mode("overwrite").parquet(s"$outDir/${p.name}")
          true
        } catch { case e: Throwable =>
          problems.add(s"${p.name} (check pass): ${e.getClass.getSimpleName}: ${e.getMessage}")
          false
        })
      }.zip(programs).filter(_._1.get()).map(_._2)
      finally pool.shutdown()
    spark.catalog.clearCache()
    Main.log("check pass done")
    Jvm.settle()

    val setupS = (System.currentTimeMillis() - Main.jvmStartMs) / 1000.0
    Main.log("set-up done")
    val gc0 = Jvm.gcSeconds
    val passes = mutable.ArrayBuffer.empty[Pass]
    val deadline = System.nanoTime() + o.seconds * 1000000000L
    do {
      passes += timedPass(spark, tr, dir, rng.shuffle(programs), problems)
      Main.log(f"pass ${passes.size}: ${(passes.last.t1 - passes.last.t0) / 1000.0}%.2f s")
      Jvm.settle()
    } while (passes.size < MinPasses || System.nanoTime() < deadline)
    val gcS = Jvm.gcSeconds - gc0
    val heapMb = Jvm.retainedHeapMb
    val execs = passes.flatMap(_.execs)

    val checks = Map[String, Any](
      "kind" -> "catalog", "fixture" -> dir, "outputs" -> outDir,
      "programs" -> checked.map(_.name),
      "oracle" -> programs.map(p => p.name -> SparkEntry.oracleSql.getOrElse(p.name, "")).toMap,
      "replicas" -> (if (replicate) Probes.Replicas else 1),
      "passes" -> passes.map(_.execs.map(e => Map("program" -> e.p.name, "ms" -> e.totalMs))))

    val metrics =
      if (!o.trace) {
        // Latency percentiles pool every timed execution of the class
        // (programs × passes), as the service pools its requests.
        val wallS = passes.map(p => (p.t1 - p.t0) / 1000.0)
        def ms(write: Option[Boolean]) =
          execs.filter(e => e.ok && write.forall(_ == e.p.write)).map(_.totalMs).toSeq
        Map(
          "setup_s" -> setupS,
          "pass_s" -> Stats.median(wallS.toSeq),
          "query_p50_ms" -> Stats.median(ms(None)),
          "rps" -> execs.count(_.ok) / wallS.sum,
          "read_p50_ms" -> Stats.median(ms(Some(false))),
          "read_p95_ms" -> Stats.quantile(ms(Some(false)), 0.95),
          "write_p95_ms" -> Stats.quantile(ms(Some(true)), 0.95),
          "retained_heap_mb" -> heapMb)
      } else {
        tr.drain()
        medians(passes.map(layers(tr, _, o.cores)).toSeq) ++
          Map("tables.load_s" -> tablesLoadS, "jvm.gc_s" -> gcS) ++ Serve.probe(spark, o, tr) ++
          (if (replicate) Probes.kernels(spark, tr, dir) + ("scaleup.build_s" -> scaleS)
           else Probes.replicaLayers(spark, o, tr))
      }
    Outcome(programs.size + execs.size, (programs.size - checked.size) + execs.count(!_.ok),
      metrics, problems.asScala.toSeq, checks)
  }
}
