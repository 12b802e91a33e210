package graft

import graft.operators.Dedup
import graft.streaming.StreamingLshIngest
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** The living LSH index under streaming delivery: flags must equal the
  * SEQUENTIAL ground truth — for every exact-Jaccard ≥ 0.8 pair among
  * history ∪ stream, the LATER-ARRIVED member is flagged against the
  * earlier — across a mid-stream kill/restart, and invariantly to the
  * micro-batch grain. The fixture carries both pair classes the
  * operator exists for: stream-vs-history pairs (d10's static probe
  * finds these too) and STREAM-VS-STREAM pairs landing in different
  * micro-batches, which a static-index probe is structurally blind to.
  *
  * Ground truth is `Dedup.jaccardPairs` (the d3 brute-force kernel) at
  * τ = 0.8 — exact verification over the same hashed-shingle arrays
  * the streaming probe verifies with, so equality is decided by the
  * CANDIDATE-GENERATION mechanics (banding recall, delta visibility,
  * arrival ordering), exactly what this operator adds. Banding recall
  * 1 at τ ≥ 0.8 on these fixtures is already pinned by d4's oracle
  * row; slices are doc_id-RANGE chunks written oldest-first, so
  * arrival order = doc_id order and the expected flag direction is
  * computable. */
class StreamingLshIngestSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  /** (flagged_doc, earlier_partner) per ground-truth pair: history
    * (even) docs precede every streamed (odd) doc; among streamed,
    * smaller doc_id arrives first (range-sliced, oldest-first). */
  private lazy val expectedFlags: Set[(Long, Long)] = {
    import spark.implicits._
    val pairs: Set[(Long, Long)] = Dedup.jaccardPairs(spark, dir, 0.8)
      .select($"i", $"j").as[(Long, Long)].collect().toSet
    pairs.flatMap { case (i, j) =>
      if (i % 2 == 0 && j % 2 == 0) None          // both history
      else if (j % 2 == 0) Some((i, j))           // i streamed vs history
      else if (i % 2 == 0) Some((j, i))           // j streamed vs history
      else Some((j, i))                           // both streamed: later flagged
    }
  }

  /** Range-slice staging (mtime ordering = arrival = doc_id order). */
  private def stageSlices(src: String, nSlices: Int): Unit = {
    import spark.implicits._
    StreamSlices.stage(spark,
      Tables(spark, dir).documents.filter($"doc_id" % 2 === 1), src, nSlices)
  }

  private def flagSet(statePath: String): Set[(Long, Long)] = {
    import spark.implicits._
    StreamingLshIngest.flags(spark, statePath)
      .select($"batch_id", $"hist_id").as[(Long, Long)].collect().toSet
  }

  test("streamed flags == sequential brute-force ground truth, across a mid-stream kill/restart") {
    import spark.implicits._
    assert(expectedFlags.nonEmpty, "fixture must carry ≥0.8 pairs")
    // The structural point: some expected pairs are stream-vs-stream —
    // invisible to any static-index probe.
    assert(expectedFlags.exists { case (a, b) => a % 2 == 1 && b % 2 == 1 },
      "fixture must carry cross-arrival stream pairs")

    val base = graft.Scratch.tempDir("lsh_ingest")
    val (src, ckpt, state) = (s"$base/src", s"$base/ckpt", s"$base/state")
    val schema = Tables(spark, dir).documents.schema
    stageSlices(src, 6)

    // Run 1: let ≥2 micro-batches commit, then kill mid-stream.
    val q1 = StreamingLshIngest.start(spark, dir, s"$src/*", schema, ckpt, state,
      Trigger.ProcessingTime(0))
    val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
    def committed(): Int = {
      val root = new org.apache.hadoop.fs.Path(s"$state/sketches")
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(root)) 0 else fs.listStatus(root).length
    }
    while (committed() < 2 && System.nanoTime() < deadline) Thread.sleep(100)
    q1.stop()
    // Progress-only assertion: on a fast box the stream may drain all 6
    // slices before the stop lands, making the restart a no-op — that
    // is not a product failure, so don't flake on it; the mid-stream
    // case is still exercised on every normally-paced run (and the
    // compaction test restarts across a deterministic 3/6 boundary).
    assert(committed() >= 2, "stream must have made progress before the kill")

    // Run 2: restart from the checkpoint, drain.
    val q2 = StreamingLshIngest.start(spark, dir, s"$src/*", schema, ckpt, state,
      Trigger.AvailableNow())
    q2.awaitTermination()

    assert(flagSet(state) == expectedFlags,
      s"streamed ${flagSet(state)} != ground truth $expectedFlags")
  }

  test("flags are invariant to the micro-batch grain (3 files per trigger)") {
    val base = graft.Scratch.tempDir("lsh_grain")
    val (src, ckpt, state) = (s"$base/src", s"$base/ckpt", s"$base/state")
    val schema = Tables(spark, dir).documents.schema
    stageSlices(src, 6)
    val q = StreamingLshIngest.start(spark, dir, s"$src/*", schema, ckpt, state,
      Trigger.AvailableNow(), maxFilesPerTrigger = 3)
    q.awaitTermination()
    assert(flagSet(state) == expectedFlags,
      "a coarser micro-batch grain changed the flag set")
  }

  test("delta compaction: fold mid-stream, flags unchanged, fan-in bounded") {
    val base = graft.Scratch.tempDir("lsh_compact")
    val (src, ckpt, state) = (s"$base/src", s"$base/ckpt", s"$base/state")
    val schema = Tables(spark, dir).documents.schema
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)

    // Drain the first 3 slices, then compact in the maintenance window.
    stageSlices(src, 6) // stage all; gate the stream by a 3-slice glob
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$base/held"))
    (3 until 6).foreach(k => fs.rename(
      new org.apache.hadoop.fs.Path(f"$src/slice$k%02d"),
      new org.apache.hadoop.fs.Path(f"$base/held/slice$k%02d")))
    val q1 = StreamingLshIngest.start(spark, dir, s"$src/*", schema, ckpt, state,
      Trigger.AvailableNow())
    q1.awaitTermination()
    StreamingLshIngest.compact(spark, state)
    // Folded: the delta dirs are gone, one complete base version exists.
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$state/bands/0")),
      "compaction must delete folded delta dirs")
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$state/base/v0/bands/_SUCCESS")))
    // Idempotent: a second compact with nothing to fold is a no-op.
    StreamingLshIngest.compact(spark, state)
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$state/base/v0/bands/_SUCCESS")))

    // Resume: the remaining slices probe the COMPACTED base — the final
    // flag set must equal the uncompacted runs' (the fixture's
    // stream-vs-stream pairs span the compaction boundary, so this also
    // proves the fold preserved the pre-compaction index content).
    (3 until 6).foreach(k => fs.rename(
      new org.apache.hadoop.fs.Path(f"$base/held/slice$k%02d"),
      new org.apache.hadoop.fs.Path(f"$src/slice$k%02d")))
    val q2 = StreamingLshIngest.start(spark, dir, s"$src/*", schema, ckpt, state,
      Trigger.AvailableNow())
    q2.awaitTermination()
    assert(flagSet(state) == expectedFlags,
      "compaction changed the flag set")
  }

  test("replay after compact() folded its own uncommitted delta: within-batch order survives, no reversed or self flags") {
    import spark.implicits._
    // Two synthetic near-dup docs (one appended word) in ONE batch, on
    // a vocabulary disjoint from the corpus — the only true pair is
    // (103 flagged against 101).
    val words = (1 to 40).map(i => s"qq$i").mkString(" ")
    val batch = spark.createDataFrame(Seq((101L, words), (103L, words + " qqzz")))
      .toDF("doc_id", "text").localCheckpoint(true)
    val state = graft.Scratch.tempDir("lsh_crashfold") + "/state"
    // The crash window: processBatch completes (deltas + flags
    // written), but the checkpoint commit never lands...
    StreamingLshIngest.processBatch(dir, state)(batch, 0L)
    assert(flagSet(state) == Set((103L, 101L)))
    // ...a maintenance-window compact() folds the batch's own rows
    // into the living base...
    StreamingLshIngest.compact(spark, state)
    // ...and the batch REPLAYS. Its own docs are now in the base: a
    // naive probe would emit the reversed (101, 103) — the earlier doc
    // flagged against the later — or self-pairs at jaccard 1. The
    // whole-batch anti-join must keep the flag set exactly sequential.
    StreamingLshIngest.processBatch(dir, state)(batch, 0L)
    assert(flagSet(state) == Set((103L, 101L)),
      s"crash+fold+replay corrupted flags: ${flagSet(state)}")
  }

  test("replay idempotence, and the cross-batch near-dup a static probe misses") {
    import spark.implicits._
    val state = graft.Scratch.tempDir("lsh_replay") + "/state"
    val docs = Tables(spark, dir).documents.filter($"doc_id" % 2 === 1)
    val b0 = docs.filter($"doc_id" < 200).localCheckpoint(true)

    // Batch 0 twice (the foreachBatch replay contract): byte-identical
    // flags and index deltas — overwrite, never accumulate.
    StreamingLshIngest.processBatch(dir, state)(b0, 0L)
    val once = flagSet(state)
    val bandsOnce = spark.read.parquet(s"$state/bands/0").count()
    StreamingLshIngest.processBatch(dir, state)(b0, 0L)
    assert(flagSet(state) == once)
    assert(spark.read.parquet(s"$state/bands/0").count() == bandsOnce)

    // Batch 1 carries a near-duplicate (one appended word — high
    // Jaccard, NOT exact) of a batch-0 doc. The base index knows only
    // the even history, so a static probe of batch 1 alone cannot see
    // the pair; the living index must.
    val seed = b0.orderBy($"doc_id").limit(1)
      .select($"doc_id", $"text").as[(Long, String)].head()
    val b1 = spark.createDataFrame(Seq((999999L, seed._2 + " zzz")))
      .toDF("doc_id", "text").localCheckpoint(true)
    val staticProbe = Dedup.nearDupPairs(spark, b1.select($"doc_id",
      graft.functions.ShingleFunctions.shingleHashes(spark, $"text").as("hs")))
    assert(!staticProbe.collect().map(_.getAs[Long]("batch_id")).contains(999999L),
      "the static d10 probe must be blind to a stream-vs-stream pair")
    StreamingLshIngest.processBatch(dir, state)(b1, 1L)
    assert(flagSet(state).contains((999999L, seed._1)),
      "the living index must flag the cross-batch near-dup")
  }
}
