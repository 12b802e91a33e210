package graft

import graft.operators.Similarity
import graft.streaming.StreamingAnnIngest
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** The living vector index under streaming delivery: every arriving
  * vector's retrieval-at-arrival hits must equal the SEQUENTIAL ground
  * truth — exact-cosine top-10 over its SRP-LSH candidates among
  * history (even vec_ids) ∪ earlier arrivals — across a mid-stream
  * kill/restart, invariantly to the micro-batch grain, and unchanged
  * by a mid-stream delta compaction. Ground truth replays the
  * IDENTICAL candidate rule and cosine expression as a batch DataFrame
  * program, so equality is decided by the streaming mechanics (delta
  * visibility, arrival ordering, replay overwrite) — exactly what the
  * operator adds over s3/s6's static index. */
class StreamingAnnIngestSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  /** The sequential ground truth, computed by the batch twin of the
    * streaming rule: for every odd (streamed) vector q, candidates =
    * vectors sharing ≥1 flattened SRP bucket that are history (even)
    * or earlier-streamed (odd, vec_id < q); exact cosine, top-10 by
    * (sim_r desc, neighbor_id). Same bucket family, same codegen'd
    * dot fold, same rounding — bit-identical sims by construction. */
  private lazy val expectedHits: Set[(Long, Long, Long, Double)] = {
    import spark.implicits._
    val dim = Tables.embeddingDim(spark, dir)
    val (bits, tables) = Similarity.annFamily(spark, dir)
    // The sf0.001 history (250 vectors) sits below the adaptive
    // threshold, so the family the stream derives IS the oracle-gated
    // 8-bit/8-table one — pinned so a fixture regrowth that silently
    // crossed the threshold can't make this spec vacuous about the s3
    // family.
    assert((bits, tables) == (8, 8),
      s"sf0.001 history should use the fixed family, got ($bits, $tables)")
    val emb = Tables(spark, dir).embeddings
    val vecs = emb.select($"vec_id", $"embedding",
      Similarity.vecNorm(spark, $"embedding").as("nrm")).cache()
    val bk = emb.select($"vec_id",
      Similarity.srpBkeys(dim, bits, tables).as("bkey"))
    val cand = bk.join(
        bk.filter($"vec_id" % 2 === 1)
          .select($"vec_id".as("query_id"), $"bkey"), Seq("bkey"))
      .filter($"vec_id" % 2 === 0 || $"vec_id" < $"query_id")
      .select($"vec_id".as("neighbor_id"), $"query_id")
      .distinct()
    val sims = cand
      .join(vecs.select($"vec_id".as("neighbor_id"),
        $"embedding".as("ne"), $"nrm".as("nn")), Seq("neighbor_id"))
      .join(vecs.select($"vec_id".as("query_id"),
        $"embedding".as("qe"), $"nrm".as("qn")), Seq("query_id"))
      .select($"query_id", $"neighbor_id",
        round(call_function("float_dot", $"qe", $"ne") / ($"qn" * $"nn"), 6)
          .as("sim_r"))
      .distinct()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"query_id").orderBy($"sim_r".desc, $"neighbor_id")
    val out = sims.withColumn("rank", row_number().over(w).cast("long"))
      .filter($"rank" <= StreamingAnnIngest.TopK)
      .select($"query_id", $"rank", $"neighbor_id", $"sim_r")
      .as[(Long, Long, Long, Double)].collect().toSet
    vecs.unpersist()
    out
  }

  private def streamedOdds: DataFrame = {
    import spark.implicits._
    Tables(spark, dir).embeddings.filter($"vec_id" % 2 === 1)
  }

  private def stageSlices(src: String, nSlices: Int): Unit =
    StreamSlices.stage(spark, streamedOdds, src, nSlices, key = "vec_id")

  private def hitSet(statePath: String): Set[(Long, Long, Long, Double)] = {
    import spark.implicits._
    StreamingAnnIngest.hits(spark, statePath)
      .select($"query_id", $"rank", $"neighbor_id", $"sim_r")
      .as[(Long, Long, Long, Double)].collect().toSet
  }

  /** Living-index topK for the standard 5-vector payload. */
  private def servedTopK(statePath: String): Set[(Long, Long, Long, Double)] = {
    import spark.implicits._
    val queries = Tables(spark, dir).embeddings.filter($"vec_id" < 5)
      .select($"vec_id".as("query_id"), $"embedding")
    StreamingAnnIngest.topK(spark, dir, statePath, queries)
      .as[(Long, Long, Long, Double)].collect().toSet
  }

  /** The batch-rebuild twin of [[servedTopK]] under an explicit family:
    * candidates share ≥1 flattened bucket over the FULL corpus (history
    * ∪ every streamed vector), self excluded, exact-cosine top-10. */
  private def topKTwin(bits: Int, tables: Int): Set[(Long, Long, Long, Double)] = {
    import spark.implicits._
    val dim = Tables.embeddingDim(spark, dir)
    val emb = Tables(spark, dir).embeddings
    val vecs = emb.select($"vec_id", $"embedding",
      Similarity.vecNorm(spark, $"embedding").as("nrm"))
    val bk = emb.select($"vec_id",
      Similarity.srpBkeys(dim, bits, tables).as("bkey"))
    val cand = bk.join(
        bk.filter($"vec_id" < 5).select($"vec_id".as("query_id"), $"bkey"),
        Seq("bkey"))
      .filter($"vec_id" =!= $"query_id")
      .select($"vec_id".as("neighbor_id"), $"query_id").distinct()
    val sims = cand
      .join(vecs.select($"vec_id".as("neighbor_id"),
        $"embedding".as("ne"), $"nrm".as("nn")), Seq("neighbor_id"))
      .join(vecs.select($"vec_id".as("query_id"),
        $"embedding".as("qe"), $"nrm".as("qn")), Seq("query_id"))
      .select($"query_id", $"neighbor_id",
        round(call_function("float_dot", $"qe", $"ne") / ($"qn" * $"nn"), 6)
          .as("sim_r")).distinct()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"query_id").orderBy($"sim_r".desc, $"neighbor_id")
    sims.withColumn("rank", row_number().over(w).cast("long"))
      .filter($"rank" <= StreamingAnnIngest.TopK)
      .select($"query_id", $"rank", $"neighbor_id", $"sim_r")
      .as[(Long, Long, Long, Double)].collect().toSet
  }

  test("adaptive family: width floor 8 / log-growth / cap 16; tables grow to hold the design recall") {
    // The fixture regime and the floor: exactly the oracle-gated family.
    assert(Similarity.adaptiveSrpFamily(0) == ((8, 8)))
    assert(Similarity.adaptiveSrpFamily(250) == ((8, 8)))  // sf fixtures
    assert(Similarity.adaptiveSrpFamily(4096) == ((8, 8))) // last of the floor
    // Width grows with log(n); the table count grows alongside so the
    // cos-0.9 collision recall stays ≥ the 8-bit/8-table design value.
    val q = 1.0 - math.acos(0.9) / math.Pi
    val r8 = 1.0 - math.pow(1.0 - math.pow(q, 8), 8)
    for (n <- Seq(4097L, 65536L, 1L << 20, 1L << 30)) {
      val (bits, tables) = Similarity.adaptiveSrpFamily(n)
      assert(bits == math.min(16, math.max(8,
        math.ceil(math.log(n / 16.0) / math.log(2.0)).toInt)))
      val recall = 1.0 - math.pow(1.0 - math.pow(q, bits), tables)
      assert(recall >= r8 - 1e-12,
        f"family ($bits,$tables) at n=$n holds recall $recall%.4f < design $r8%.4f")
      // ...and doesn't overshoot: one table fewer would drop below.
      val under = 1.0 - math.pow(1.0 - math.pow(q, bits), tables - 1)
      assert(under < r8, s"family ($bits,$tables) at n=$n wastes tables")
    }
    assert(Similarity.adaptiveSrpFamily(1L << 30)._1 == 16) // injectivity cap
  }

  test("streamed hits == sequential ground truth, across a mid-stream kill/restart") {
    assert(expectedHits.nonEmpty, "fixture must produce retrieval hits")
    // The structural point: some arrivals retrieve STREAMED neighbors —
    // pairs a static history-only index is blind to.
    assert(expectedHits.exists { case (_, _, n, _) => n % 2 == 1 },
      "fixture must carry stream-vs-stream retrievals")

    val base = graft.Scratch.tempDir("ann_ingest")
    val (src, ckpt, state) = (s"$base/src", s"$base/ckpt", s"$base/state")
    val schema = streamedOdds.schema
    stageSlices(src, 6)

    val q1 = StreamingAnnIngest.start(spark, dir, s"$src/*", schema, ckpt,
      state, Trigger.ProcessingTime(0))
    val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
    def committed(): Int = {
      val root = new org.apache.hadoop.fs.Path(s"$state/vectors")
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(root)) 0 else fs.listStatus(root).length
    }
    while (committed() < 2 && System.nanoTime() < deadline) Thread.sleep(100)
    q1.stop()
    // Progress-only assertion (no flake when a fast box drains first).
    assert(committed() >= 2, "stream must have made progress before the kill")

    val q2 = StreamingAnnIngest.start(spark, dir, s"$src/*", schema, ckpt,
      state, Trigger.AvailableNow())
    q2.awaitTermination()
    assert(hitSet(state) == expectedHits)
  }

  test("hits are invariant to the micro-batch grain (3 files per trigger)") {
    val base = graft.Scratch.tempDir("ann_grain")
    val (src, ckpt, state) = (s"$base/src", s"$base/ckpt", s"$base/state")
    stageSlices(src, 6)
    val q = StreamingAnnIngest.start(spark, dir, s"$src/*",
      streamedOdds.schema, ckpt, state, Trigger.AvailableNow(),
      maxFilesPerTrigger = 3)
    q.awaitTermination()
    assert(hitSet(state) == expectedHits,
      "a coarser micro-batch grain changed the hit set")
  }

  test("delta compaction mid-stream: hits unchanged, fan-in bounded, living topK == batch-rebuild twin") {
    import spark.implicits._
    val base = graft.Scratch.tempDir("ann_compact")
    val (src, ckpt, state) = (s"$base/src", s"$base/ckpt", s"$base/state")
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    stageSlices(src, 6)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$base/held"))
    (3 until 6).foreach(k => fs.rename(
      new org.apache.hadoop.fs.Path(f"$src/slice$k%02d"),
      new org.apache.hadoop.fs.Path(f"$base/held/slice$k%02d")))
    val q1 = StreamingAnnIngest.start(spark, dir, s"$src/*",
      streamedOdds.schema, ckpt, state, Trigger.AvailableNow())
    q1.awaitTermination()
    StreamingAnnIngest.compact(spark, state)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$state/buckets/0")),
      "compaction must delete folded delta dirs")
    assert(fs.exists(
      new org.apache.hadoop.fs.Path(s"$state/base/v0/buckets/_SUCCESS")))
    StreamingAnnIngest.compact(spark, state) // idempotent no-op
    assert(fs.exists(
      new org.apache.hadoop.fs.Path(s"$state/base/v0/buckets/_SUCCESS")))

    (3 until 6).foreach(k => fs.rename(
      new org.apache.hadoop.fs.Path(f"$base/held/slice$k%02d"),
      new org.apache.hadoop.fs.Path(f"$src/slice$k%02d")))
    val q2 = StreamingAnnIngest.start(spark, dir, s"$src/*",
      streamedOdds.schema, ckpt, state, Trigger.AvailableNow())
    q2.awaitTermination()
    assert(hitSet(state) == expectedHits, "compaction changed the hit set")

    // Serving over the living index: a fresh query payload's top-k must
    // equal the batch twin over history ∪ ALL streamed vectors — the
    // full-corpus rule with the query excluded from its own neighbors.
    val (bits, tables) = Similarity.annFamily(spark, dir)
    assert(servedTopK(state) == topKTwin(bits, tables),
      "living-index serving diverged from the batch-rebuild twin")
  }

  test("reindex: maintenance-window re-shard — family pinned, everything rehashed, continuity across the boundary") {
    import spark.implicits._
    val state = graft.Scratch.tempDir("ann_reindex") + "/state"
    val b0 = streamedOdds.filter($"vec_id" < 250).localCheckpoint(true)
    val b1 = streamedOdds.filter($"vec_id" >= 250).localCheckpoint(true)
    StreamingAnnIngest.processBatch(dir, state)(b0, 0L)
    StreamingAnnIngest.processBatch(dir, state)(b1, 1L)
    assert(hitSet(state) == expectedHits) // sanity under the default family

    // Re-shard to a deliberately wider family (the fixture never crosses
    // the adaptive threshold on its own).
    StreamingAnnIngest.reindex(spark, dir, state, force = Some((10, 12)))
    assert(StreamingAnnIngest.familyOf(spark, dir, state) == ((10, 12)),
      "the published family marker must pin the new family")
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$state/buckets/0")),
      "reindex must have folded the deltas")
    // Every indexed vector's bucket rows were rehashed: exactly 12 per
    // vector (flattened keys are distinct across tables by construction).
    val perVec = spark.read.parquet(s"$state/base/v1/buckets")
      .groupBy($"vec_id").count().select($"count").distinct()
      .as[Long].collect().toSeq
    assert(perVec == Seq(12L), s"rehash must emit 12 bucket rows/vector: $perVec")

    // Hits are immutable arrival-time facts — unchanged by the re-shard.
    assert(hitSet(state) == expectedHits, "reindex must not rewrite hits")

    // Serving equals the batch twin UNDER THE NEW FAMILY (consistency is
    // the contract; the candidate rule legitimately changes with it).
    assert(servedTopK(state) == topKTwin(10, 12),
      "post-reindex serving diverged from the new-family twin")

    // Continuity: a post-reindex arrival whose nearest neighbor was
    // indexed PRE-reindex (under 8/8) must still retrieve it — the
    // rehash made the old rows reachable in the new key space.
    val seed = b0.orderBy($"vec_id").limit(1)
      .select($"vec_id", $"embedding").as[(Long, Seq[Float])].head()
    val b2 = spark.createDataFrame(Seq((8888888L, seed._2.map(_ * 2.0f))))
      .toDF("vec_id", "embedding").localCheckpoint(true)
    StreamingAnnIngest.processBatch(dir, state)(b2, 2L)
    val top = StreamingAnnIngest.hits(spark, state)
      .filter($"query_id" === 8888888L && $"rank" === 1)
      .select($"neighbor_id", $"sim_r").as[(Long, Double)].collect()
    assert(top.nonEmpty && top.head._1 == seed._1 && top.head._2 == 1.0,
      s"post-reindex arrival must retrieve its pre-reindex twin: ${top.toSeq}")
  }

  test("design-point recall on PLANTED structure: cos≈0.9+ neighbors retrieved at the family's design rate") {
    import spark.implicits._
    // The probe's corpus-wide recall@10 (≈0.08) reflects near-orthogonal
    // synthetic vectors — SRP-LSH's documented hard case, where "top-10"
    // means cosines the family was never designed to catch. The family's
    // actual claim is at the DESIGN POINT (R₈ ≈ 0.935 at cosine 0.9), so
    // measure it on planted structure: mix pairs w = v + 0.3·u with
    // measured cosine(v, w) ∈ [0.88, 0.98], stream the planted vectors
    // AFTER their partners, and count partners retrieved in the top-10.
    // A planted partner at cos ≥ 0.88 towers over every random cosine,
    // so retrieval == bucket collision — the family recall, isolated.
    val state = graft.Scratch.tempDir("ann_planted") + "/state"
    val odds = streamedOdds.localCheckpoint(true)
    StreamingAnnIngest.processBatch(dir, state)(odds, 0L)

    val vecs = odds.select($"vec_id", $"embedding")
      .as[(Long, Seq[Float])].collect().sortBy(_._1)
    val planted = vecs.indices.dropRight(2).take(80).map { i =>
      val (vid, v) = vecs(i)
      val (_, u) = vecs(i + 2)
      (9500000L + i, v.zip(u).map { case (a, b) => a + 0.3f * b }, vid)
    }
    val b1 = spark.createDataFrame(planted.map(p => (p._1, p._2)))
      .toDF("vec_id", "embedding").localCheckpoint(true)
    StreamingAnnIngest.processBatch(dir, state)(b1, 1L)

    // Exact cosine per planted pair (the engine's own fold), keeping
    // only pairs inside the design band.
    val pairsDf = spark.createDataFrame(planted.map(p => (p._1, p._2, p._3)))
      .toDF("pid", "pe", "partner")
      .join(odds.select($"vec_id".as("partner"), $"embedding".as("ve")),
        Seq("partner"))
      .select($"pid", $"partner",
        (call_function("float_dot", $"pe", $"ve") /
          (operators.Similarity.vecNorm(spark, $"pe")
            * operators.Similarity.vecNorm(spark, $"ve"))).as("cos"))
      .filter($"cos" >= 0.88 && $"cos" <= 0.98)
    val band = pairsDf.select($"pid", $"partner").as[(Long, Long)].collect()
    assert(band.length >= 40, s"need a real sample, got ${band.length}")

    val got = StreamingAnnIngest.hits(spark, state)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    val recall = band.count(got.contains).toDouble / band.length
    info(f"planted design-point recall: $recall%.3f over ${band.length} pairs")
    // Design recall at cos 0.9 is 0.935 and rises toward 0.99 by 0.95;
    // ≥0.85 leaves binomial-sample room below the band's floor.
    assert(recall >= 0.85,
      f"planted design-point recall $recall%.2f below the family's claim " +
        f"(${band.length} pairs in the cos band)")
  }

  test("reindex replay window: a batch folded then replayed under the NEW family leaves exactly ONE hit set") {
    import spark.implicits._
    val state = graft.Scratch.tempDir("ann_reindex_replay") + "/state"
    // One crafted vector whose rank-1 neighbor is a HISTORY vector (an
    // exact-direction twin of even vec 2) — collides in every family.
    val seed = Tables(spark, dir).embeddings
      .filter($"vec_id" === 2).select($"embedding").as[Seq[Float]].head()
    val batch = spark.createDataFrame(Seq((9100001L, seed.map(_ * 2.0f))))
      .toDF("vec_id", "embedding").localCheckpoint(true)
    // The window: processBatch completes, the checkpoint commit never
    // lands, and a maintenance reindex folds the batch's hits AND
    // changes the family...
    StreamingAnnIngest.processBatch(dir, state)(batch, 0L)
    StreamingAnnIngest.reindex(spark, dir, state, force = Some((10, 12)))
    // ...then the batch REPLAYS under the new family. Its rewritten
    // top-10 is self-consistent under (10,12) but may differ from the
    // folded attempt's — the delta must SUPERSEDE the frozen base copy,
    // or (query_id, rank) stops being a key forever.
    StreamingAnnIngest.processBatch(dir, state)(batch, 0L)
    val perRank = StreamingAnnIngest.hits(spark, state)
      .groupBy($"query_id", $"rank").count()
      .agg(max($"count")).as[Long].head()
    assert(perRank == 1L,
      "reindex+replay left divergent hit sets for the same (query_id, rank)")
    val top = StreamingAnnIngest.hits(spark, state)
      .filter($"query_id" === 9100001L && $"rank" === 1)
      .select($"neighbor_id", $"sim_r").as[(Long, Double)].collect()
    assert(top.toSeq == Seq((2L, 1.0)), s"rank-1 must be the twin: ${top.toSeq}")
    // A later fold keeps the supersede outcome (delta wins, then folds).
    StreamingAnnIngest.compact(spark, state)
    assert(StreamingAnnIngest.hits(spark, state)
      .groupBy($"query_id", $"rank").count()
      .agg(max($"count")).as[Long].head() == 1L)
  }

  test("replay after compact() folded its own uncommitted delta: within-batch order survives, no reversed or self hits") {
    import spark.implicits._
    // Two same-direction vectors (cosine 1) in ONE batch, ids far above
    // the corpus — each other's only possible streamed partner.
    val seed = Tables(spark, dir).embeddings
      .filter($"vec_id" === 1).select($"embedding")
      .as[Seq[Float]].head().toArray
    val batch = spark.createDataFrame(Seq(
        (9000001L, seed.toSeq), (9000003L, seed.map(_ * 2.0f).toSeq)))
      .toDF("vec_id", "embedding").localCheckpoint(true)
    val state = graft.Scratch.tempDir("ann_crashfold") + "/state"
    // Crash window: processBatch completes, checkpoint commit never lands.
    StreamingAnnIngest.processBatch(dir, state)(batch, 0L)
    def pairs(): Set[(Long, Long)] = {
      import spark.implicits._
      StreamingAnnIngest.hits(spark, state)
        .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
        .filter { case (q, n) => q >= 9000000L && n >= 9000000L }
    }
    val first = pairs()
    assert(first.contains((9000003L, 9000001L)) &&
      !first.contains((9000001L, 9000003L)),
      s"within-batch arrival order broken before the fold: $first")
    // Maintenance compact folds the batch's own rows into the base...
    StreamingAnnIngest.compact(spark, state)
    // ...and the batch replays. The whole-batch anti-join must keep the
    // hit set exactly sequential: no reversed pair, no self-hit.
    StreamingAnnIngest.processBatch(dir, state)(batch, 0L)
    assert(pairs() == first, s"crash+fold+replay corrupted hits: ${pairs()}")
    val self = StreamingAnnIngest.hits(spark, state)
      .filter($"query_id" === $"neighbor_id").count()
    assert(self == 0, "self-hits after replay")
  }

  test("replay idempotence, and the cross-batch neighbor a static probe misses") {
    import spark.implicits._
    val state = graft.Scratch.tempDir("ann_replay") + "/state"
    val b0 = streamedOdds.filter($"vec_id" < 200).localCheckpoint(true)

    StreamingAnnIngest.processBatch(dir, state)(b0, 0L)
    val once = hitSet(state)
    val bucketsOnce = spark.read.parquet(s"$state/buckets/0").count()
    StreamingAnnIngest.processBatch(dir, state)(b0, 0L)
    assert(hitSet(state) == once)
    assert(spark.read.parquet(s"$state/buckets/0").count() == bucketsOnce)

    // Batch 1 carries a same-direction twin of a batch-0 vector: its
    // nearest neighbor arrived in an EARLIER micro-batch. The history
    // index knows only even vec_ids, so a static probe cannot retrieve
    // it; the living index must, at rank 1 with cosine 1.
    val seed = b0.orderBy($"vec_id").limit(1)
      .select($"vec_id", $"embedding").as[(Long, Seq[Float])].head()
    // ×4 (an exact power-of-two float scale): same direction exactly,
    // so every SRP bucket matches and the rounded cosine is exactly 1.
    val b1 = spark.createDataFrame(Seq((9999999L, seed._2.map(_ * 4.0f))))
      .toDF("vec_id", "embedding").localCheckpoint(true)
    StreamingAnnIngest.processBatch(dir, state)(b1, 1L)
    val top = StreamingAnnIngest.hits(spark, state)
      .filter($"query_id" === 9999999L && $"rank" === 1)
      .select($"neighbor_id", $"sim_r").as[(Long, Double)].collect()
    assert(top.nonEmpty && top.head._1 == seed._1 && top.head._2 == 1.0,
      s"living index must retrieve the cross-batch twin at rank 1: ${top.toSeq}")
  }

  test("maintain(): a stream that outgrows its birth family re-shards ITSELF on the next maintenance pass") {
    import spark.implicits._
    // A scratch corpus whose HISTORY is tiny (birth family = the (8,8)
    // floor, capacity 16·2^8 = 4096) and whose stream then pushes the
    // visible corpus past that boundary — the drift reindex() exists
    // for, previously fired only when an operator remembered to call it
    // (the r9 verdict's #3).
    val root = Scratch.tempDir("ann_maintain")
    val dim = 4
    val rnd = new scala.util.Random(7)
    def mk(ids: Seq[Long]) =
      ids.map(i => (i, s"l${i % 3}", Seq.fill(dim)(rnd.nextFloat() * 2f - 1f)))
    spark.createDataFrame(mk(0L until 100L by 2))
      .toDF("vec_id", "label", "embedding")
      .write.mode("overwrite").parquet(s"$root/embeddings.parquet")
    assert(Similarity.annFamily(spark, root) == (8, 8))

    val state = s"$root/state"
    val streamed = spark.createDataFrame(mk(1L to 8400L by 2))
      .toDF("vec_id", "label", "embedding").select($"vec_id", $"embedding")
      .localCheckpoint(true)
    StreamingAnnIngest.processBatch(root, state)(streamed, 0L)
    assert(StreamingAnnIngest.familyOf(spark, root, state) == (8, 8),
      "ingest alone must not re-shard — that is the maintenance pass's job")

    // The maintenance pass: detects 50 + 4200 = 4250 > 4096, re-shards.
    val expected = Similarity.adaptiveSrpFamily(4250)
    assert(expected._1 > 8, s"the spec corpus must actually cross the boundary: $expected")
    assert(StreamingAnnIngest.maintain(spark, root, state),
      "maintain must report the drift re-shard")
    assert(StreamingAnnIngest.familyOf(spark, root, state) == expected)
    // Candidate volume is re-bounded BY CONSTRUCTION: every indexed
    // vector now carries exactly `tables` bucket rows under the wider
    // family (occupancy per table-bucket halved at +1 bit) — verified
    // against the folded base, and against the next arrival's delta.
    val baseBuckets = spark.read.parquet(s"$state/base/v1/buckets")
    assert(baseBuckets.count() == 4200L * expected._2)
    val next = spark.createDataFrame(mk(Seq(9001L)))
      .toDF("vec_id", "label", "embedding").select($"vec_id", $"embedding")
      .localCheckpoint(true)
    StreamingAnnIngest.processBatch(root, state)(next, 1L)
    assert(spark.read.parquet(s"$state/buckets/1").count() == expected._2.toLong,
      "post-maintain arrivals must index under the re-sharded family")
    // Steady state: a second pass finds no drift and folds only.
    assert(!StreamingAnnIngest.maintain(spark, root, state))
    assert(StreamingAnnIngest.familyOf(spark, root, state) == expected)
  }
}
