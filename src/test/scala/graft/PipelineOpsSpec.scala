package graft

import graft.operators.{Joins, Olap, PipelineOps, Scalars, TextAnalysis, WritePath}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Behavior + plan contracts for the round-2 pipeline operators:
  * train/test splitting, per-source capping, bloom-pruned semi-join,
  * partitioned sink, CSV round-trip. */
class PipelineOpsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  test("t10 split is ~80/10/10, exhaustive, and dup-consistent") {
    val rows = TextAnalysis.queries("t10_train_split")(spark, dir).collect()
    val n = rows.length.toDouble
    val bySplit = rows.groupBy(_.getString(1)).view.mapValues(_.length / n).toMap
    assert(bySplit.keySet == Set("train", "val", "test"))
    assert(math.abs(bySplit("train") - 0.797) < 0.08, bySplit)
    assert(math.abs(bySplit("val") - 0.102) < 0.05, bySplit)
    // Content-keyed: byte-identical documents always share a split, so
    // exact dups can never straddle train/test.
    import spark.implicits._
    val docs = Tables(spark, dir).documents
    val assigned = docs.select($"doc_id", $"text")
      .join(TextAnalysis.queries("t10_train_split")(spark, dir), "doc_id")
    val straddling = assigned.groupBy($"text")
      .agg(countDistinct($"split").as("k")).filter($"k" > 1).count()
    assert(straddling == 0)
  }

  test("e19 A/B verdict equals the textbook sqrt z-test and flips on a real effect") {
    import graft.operators.Events
    val row = Events.queries("e19_ab_test")(spark, dir).head()
    val (nA, cA, nB, cB) =
      (row.getLong(0), row.getLong(1), row.getLong(2), row.getLong(3))
    // Non-degenerate fixture: both variants exposed, conversion strictly
    // between 0 and 1 (the plain-purchase goal was vacuously 100%).
    assert(nA > 0 && nB > 0 && cA > 0 && cA < nA && cB > 0 && cB < nB)
    // Textbook replay WITH the sqrt the operator algebraically removed.
    def textbook(na: Long, ca: Long, nb: Long, cb: Long): Boolean = {
      val (p1, p2) = (ca.toDouble / na, cb.toDouble / nb)
      val p = (ca + cb).toDouble / (na + nb)
      val z = (p1 - p2) / math.sqrt(p * (1 - p) * (1.0 / na + 1.0 / nb))
      math.abs(z) > 1.96
    }
    assert(row.getBoolean(4) == textbook(nA, cA, nB, cB))
    // Discriminativeness: the same squared-form expression must FIRE on
    // a real effect and stay quiet on a null one — evaluated through the
    // engine's own SQL expression, not just the Scala replay.
    def engineVerdict(na: Long, ca: Long, nb: Long, cb: Long): Boolean =
      spark.sql(
        s"""SELECT (($ca / $na - $cb / $nb) * ($ca / $na - $cb / $nb))
           |        > 3.8416 * (($ca + $cb) / ($na + $nb))
           |          * (1.0 - ($ca + $cb) / ($na + $nb))
           |          * (1.0 / $na + 1.0 / $nb) AS s""".stripMargin)
        .head().getBoolean(0)
    assert(engineVerdict(1000, 300, 1000, 200)) // strong effect: z ≈ 5
    assert(!engineVerdict(1000, 300, 1000, 295)) // null effect
    assert(engineVerdict(1000, 300, 1000, 200) == textbook(1000, 300, 1000, 200))
    assert(engineVerdict(1000, 300, 1000, 295) == textbook(1000, 300, 1000, 295))
  }

  test("sketch rollup: daily-union estimate equals the one-pass sketch and is partition-order invariant") {
    import spark.implicits._
    val ev = Tables(spark, dir).events
      .select($"ts".cast("date").as("day"), $"user_id")
    // Mergeability — the property the operator exists for: folding the
    // per-day sketches with hll_union_agg gives the SAME estimate as
    // one hll_sketch_agg pass over the whole range (register-wise max
    // is associative), so pre-aggregated daily sketches answer any
    // range without rescanning the log.
    val daily = ev.groupBy($"day").agg(hll_sketch_agg($"user_id", 12).as("sk"))
    val viaUnion = daily.agg(hll_sketch_estimate(hll_union_agg($"sk")))
      .head().getLong(0)
    val onePass = ev.agg(hll_sketch_estimate(hll_sketch_agg($"user_id", 12)))
      .head().getLong(0)
    assert(viaUnion == onePass)
    // Determinism: the estimate survives an adversarial repartition
    // (different partial-merge order) bit-identically.
    val shuffled = daily.repartition(7, $"sk")
      .agg(hll_sketch_estimate(hll_union_agg($"sk"))).head().getLong(0)
    assert(shuffled == viaUnion)
    // At fixture cardinalities lgK=12 runs in sparse mode: the
    // estimate is exact, so the catalog's 5% certification bound has
    // real slack only at production scale.
    val exact = ev.agg(countDistinct($"user_id")).head().getLong(0)
    assert(math.abs(viaUnion - exact) <= math.max(1L, exact / 20))
  }

  test("observe: in-flight pipeline metrics match a direct recount with zero extra scans") {
    import spark.implicits._
    // The ops posture for a 100 TB pipeline: row counts and value
    // totals are collected ON the data in flight (accumulator-backed,
    // map-side) rather than by re-scanning the input — a second scan
    // of the corpus just to count what passed is exactly the kind of
    // job a petabyte pipeline can't afford.
    val obs = new org.apache.spark.sql.Observation("prep_metrics")
    val docs = Tables(spark, dir).documents
    val kept = docs
      .observe(obs, count(lit(1)).as("n_in"),
        sum(length($"text")).as("chars_in"),
        count(when($"lang" === "en", 1)).as("n_en"))
      .filter($"n_chars" >= 100)
      .count()
    val m = obs.get
    val direct = docs.agg(count(lit(1)), sum(length($"text")),
      count(when($"lang" === "en", 1))).head()
    assert(m("n_in") == direct.getLong(0))
    assert(m("chars_in") == direct.getLong(1))
    assert(m("n_en") == direct.getLong(2))
    // The metrics describe the PRE-filter stream even though only the
    // filtered count was executed: one pass produced both numbers.
    assert(kept < m("n_in").asInstanceOf[Long])
  }

  test("t11 caps every source at 50 and picks a deterministic subset") {
    val out = TextAnalysis.queries("t11_source_cap")(spark, dir)
    val perSource = out.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(perSource.values.forall(_ <= 50), perSource)
    assert(perSource.nonEmpty)
    val again = TextAnalysis.queries("t11_source_cap")(spark, dir)
      .collect().map(_.getLong(0)).toSet
    assert(again == out.collect().map(_.getLong(0)).toSet)
  }

  test("j7 bloom prune is at the fact scan and is semantically transparent") {
    import spark.implicits._
    val df = Joins.queries("j7_bloom_semi_join")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("might_contain"), plan)
    // Transparent: same result as the plain semi-join.
    val t = Tables(spark, dir)
    val dim = t.supplier
      .join(t.nation.filter($"n_name" === "NATION_19"),
        $"s_nationkey" === $"n_nationkey", "left_semi")
      .select($"s_suppkey")
    val plain = t.lineitem
      .join(dim, $"l_suppkey" === $"s_suppkey", "left_semi")
      .groupBy($"l_suppkey")
      .agg(count(lit(1)).as("n_items"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val bloomed = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(bloomed == plain)
    assert(plain.nonEmpty)
  }

  test("w7 read-back prunes partitions on the lang filter") {
    import spark.implicits._
    // Run the query (which writes the partitioned layout), then check a
    // filtered read-back plans directory pruning, not a full scan.
    WritePath.queries("w7_partitioned_write")(spark, dir).collect()
    val out = graft.Scratch.dir("w7_partitioned")
    val filtered = spark.read.parquet(out).filter($"lang" === "en")
    val scan = filtered.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters: [isnotnull(lang"), scan)
    // And the partition column round-trips as data.
    assert(filtered.count() ==
      Tables(spark, dir).documents.filter($"lang" === "en").count())
  }

  test("x2 CSV round-trip is lossless for count, keys, and decimal sum") {
    import spark.implicits._
    val row = Scalars.queries("x2_csv_roundtrip")(spark, dir).head()
    val src = Tables(spark, dir).supplier
    assert(row.getLong(0) == src.count())
    assert(row.getLong(1) == src.select(countDistinct($"s_suppkey")).head().getLong(0))
  }

  test("j8 salted join equals the plain unsalted join") {
    import spark.implicits._
    val salted = Joins.queries("j8_skew_salted_join")(spark, dir).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSet
    val t = Tables(spark, dir)
    val plain = t.lineitem
      .join(t.supplier, $"l_suppkey" === $"s_suppkey")
      .groupBy($"s_nationkey")
      .agg(count(lit(1)).as("n_items"),
        graft.operators.dsum($"l_extendedprice").as("revenue"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSet
    assert(salted == plain)
    assert(salted.nonEmpty)
  }

  test("pipe3 manifest is consistent with its component queries (d2, t10, t1)") {
    import spark.implicits._
    val rows = graft.operators.PipelineOps.queries("pipe3_train_manifest")(spark, dir)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(rows.keySet == Set("train", "val", "test"))
    // Total docs = d2's exact-dedup survivor count.
    val d2Count = graft.operators.Dedup.queries("d2_dedup_exact_select")(spark, dir).count()
    assert(rows.values.map(_._1).sum == d2Count)
    // Packing: ceiling division, per split.
    rows.values.foreach { case (_, toks, seqs) =>
      assert(seqs == (toks + 511) / 512 && toks > 0)
    }
    // Content-keyed split lands near 80/10/10 (md5 is uniform).
    val total = rows.values.map(_._1).sum.toDouble
    assert(rows("train")._1 / total > 0.70 && rows("train")._1 / total < 0.90)
  }

  test("j11 grid kernel: crafted adjacency/containment/multi-cell cases equal brute force, no duplicates") {
    import spark.implicits._
    // [0,7) vs [7,14): adjacent, NO overlap; [10,30): spans 4 grid
    // cells (the exactly-once claim matters); [0,100): contains
    // everything; [29,36): overlap of exactly 1 day with [10,30).
    val a = Seq((1L, 0L, 7L), (2L, 10L, 30L), (3L, 5L, 12L))
      .toDF("ak", "astart", "aend")
    val b = Seq((10L, 7L, 14L), (11L, 0L, 100L), (12L, 29L, 36L))
      .toDF("bk", "bstart", "bend")
    val got = Joins.intervalOverlapGrid(a, b).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got.length == got.distinct.length, "each pair exactly once")
    val brute = for {
      (ak, as_, ae) <- Seq((1L, 0L, 7L), (2L, 10L, 30L), (3L, 5L, 12L))
      (bk, bs, be) <- Seq((10L, 7L, 14L), (11L, 0L, 100L), (12L, 29L, 36L))
      if as_ < be && bs < ae
    } yield (ak, bk, math.min(ae, be) - math.max(as_, bs))
    assert(got.toSet == brute.toSet, s"got ${got.toSet} vs $brute")
    assert(!brute.exists { case (ak, bk, _) => ak == 1L && bk == 10L },
      "adjacent intervals must not pair")
    assert(brute.exists { case (ak, bk, d) => ak == 2L && bk == 12L && d == 1L })
  }

  test("pipe4 curation report is consistent with its component queries (d13, d2-rank)") {
    val row = graft.operators.PipelineOps.queries("pipe4_curation_report")(spark, dir).head()
    val (tot, ed, sd, sh, cur) =
      (row.getLong(0), row.getLong(1), row.getLong(2), row.getLong(3), row.getLong(4))
    // Scope is the embedded corpus.
    assert(tot == spark.read.parquet(s"$dir/embeddings.parquet").count())
    // The semantic-dup flag count IS d13's dropped count.
    val semDropped = graft.operators.Similarity
      .queries("d13_semantic_dedup")(spark, dir)
      .filter(!col("kept")).count()
    assert(sd == semDropped && sd > 0)
    // Inclusion-exclusion bounds on the conjunction.
    assert(cur >= tot - ed - sd - sh)
    assert(cur <= tot - Seq(ed, sd, sh).max)
    assert(cur > 0, "curation must keep something")
  }

  test("t28 resample: copies match the content-keyed fractional-epoch rule exactly") {
    val out = graft.operators.PipelineOps.queries("t28_mixture_resample")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    // Copy indexes are 1..n contiguous per doc.
    val byDoc = out.groupBy(_._1).view.mapValues(_.map(_._3).sorted.toVector).toMap
    byDoc.foreach { case (id, cs) =>
      assert(cs == (1L to cs.length).toVector, s"doc $id copies $cs")
    }
    // Driver-side recompute of the rule from t17's own factors: every
    // doc's copy count is floor(f) + [hashfrac < frac(f)] — exactly.
    val fac = graft.operators.PipelineOps.queries("t17_mixture_weights")(spark, dir)
      .collect().map(r => r.getString(0) -> r.getDouble(4)).toMap
    val md = java.security.MessageDigest.getInstance("MD5")
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "source", "text").collect()
    var extras = 0
    docs.foreach { r =>
      val f = fac(r.getString(1))
      val hex = md.digest(r.getString(2).getBytes("UTF-8"))
        .take(3).map(b => f"${b & 0xff}%02x").mkString
      val frac = java.lang.Long.parseLong(hex, 16).toDouble / (1 << 24)
      val extra = if (frac < f - math.floor(f)) 1L else 0L
      extras += extra.toInt
      val n = math.floor(f).toLong + extra
      assert(byDoc.get(r.getLong(0)).map(_.length.toLong).getOrElse(0L) == n,
        s"doc ${r.getLong(0)}")
    }
    assert(extras > 0, "fixture factors should exercise the fractional branch")
    // Content-keyed: byte-identical docs in one source resample identically.
    val byText = docs.groupBy(r => (r.getString(1), r.getString(2)))
    byText.values.filter(_.length > 1).foreach { g =>
      val ns = g.map(r => byDoc.get(r.getLong(0)).map(_.length).getOrElse(0)).distinct
      assert(ns.length == 1)
    }
  }

  test("w12 incremental rollup is bit-identical to the direct aggregate of the final state") {
    import spark.implicits._
    val out = WritePath.queries("w12_incremental_rollup")(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    val dec = org.apache.spark.sql.types.DecimalType(18, 6)
    val p = when($"o_orderkey" % 10 === 4, $"o_totalprice".cast(dec) * 2)
      .otherwise($"o_totalprice".cast(dec))
    val direct = Tables(spark, dir).orders
      .filter($"o_orderkey" % 10 =!= 5)
      .select($"o_orderpriority", p.cast(dec).as("p"))
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n"), sum($"p").cast("double").as("s"))
      .orderBy($"o_orderpriority").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(out.toSeq == direct.toSeq)
    assert(out.nonEmpty)
    // The IVM identity is exact — doubles compare with ==, not tolerance.
  }

  test("w11 CDC apply: tombstones drop, updates win, inserts survive") {
    import spark.implicits._
    val got = WritePath.queries("w11_cdc_apply")(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getDouble(2))).toMap
    val orders = Tables(spark, dir).orders
      .select($"o_orderkey", $"o_totalprice").collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    orders.foreach { case (k, price) =>
      if (k % 7 == 0) assert(!got.contains(k), s"key $k should be tombstoned")
      else if (k % 3 == 0) assert(got(k) == ("U", price + 10.0), s"key $k update")
      else assert(got(k) == ("I", price), s"key $k insert")
    }
    assert(got.size == orders.count(_._1 % 7 != 0))
  }

  test("w13 time travel: each version is the op-log prefix state; v3 equals w11") {
    import spark.implicits._
    val got = WritePath.queries("w13_time_travel")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val orders = Tables(spark, dir).orders
      .select($"o_orderkey", $"o_totalprice").collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    orders.foreach { case (k, price) =>
      // v1: the freshly-inserted table — every key at its base price.
      assert(got((1L, k)) == price, s"v1 key $k")
      // v2: updates applied, nothing deleted yet.
      assert(got((2L, k)) == (if (k % 3 == 0) price + 10.0 else price), s"v2 key $k")
      // v3: deletes tombstone; survivors keep their v2 value.
      if (k % 7 == 0) assert(!got.contains((3L, k)), s"v3 key $k should be gone")
      else assert(got((3L, k)) == got((2L, k)), s"v3 key $k")
    }
    assert(got.size == 2 * orders.length + orders.count(_._1 % 7 != 0))
    // The latest version IS w11's current state, column-for-column.
    val w11Rows = WritePath.queries("w11_cdc_apply")(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val v3 = got.collect { case ((3L, k), p) => k -> p }
    assert(v3 == w11Rows)
  }

  test("t27 quality rules equal a driver-side recount; battery splits the corpus") {
    import spark.implicits._
    val stop = Set("the", "a", "of", "and", "is", "to", "in")
    val docs = Tables(spark, dir).documents.select($"doc_id", $"text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val expected = docs.map { case (id, text) =>
      val ws = text.split("\\s+").filter(_.nonEmpty)
      val freq = ws.groupBy(identity).view.mapValues(_.length).toMap
      val nW = ws.length.toLong
      val mwl = ws.map(_.length).sum.toDouble / nW
      val twf = freq.values.max.toDouble / nW
      val dwf = 1.0 - freq.size.toDouble / nW
      val nStop = freq.keySet.count(stop).toLong
      val rules = Seq(nW >= 40 && nW <= 100000, mwl >= 3.0 && mwl <= 10.0,
        nStop >= 2, twf <= 0.10, dwf <= 0.60)
      (id, nW, nStop, mwl, twf, dwf, rules(0), rules(1), rules(2), rules(3),
        rules(4), rules.forall(identity))
    }.sortBy(_._1)
    val got = TextAnalysis.queries("t27_quality_rules")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5), r.getBoolean(6), r.getBoolean(7),
        r.getBoolean(8), r.getBoolean(9), r.getBoolean(10), r.getBoolean(11)))
    assert(got.toSeq == expected.toSeq) // bit-exact, doubles included
    // The battery must actually discriminate at fixture scale: some
    // docs kept, some dropped, and at least two DIFFERENT rules firing.
    val kept = got.count(_._12)
    assert(kept > 0 && kept < got.length)
    val firing = Seq(7, 8, 9, 10, 11).map(i => got.count(r => !r.productElement(i - 1)
      .asInstanceOf[Boolean])).count(_ > 0)
    assert(firing >= 2, "expected at least two distinct rules to fire")
  }

  test("pipe5 audit: metrics equal driver-side recounts; the red check is real") {
    import spark.implicits._
    val got = PipelineOps.queries("pipe5_data_audit")(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(got.keySet == Set("orders_pk_unique", "lineitem_orders_ri",
      "lineitem_qty_bounds", "lineitem_price_positive", "customer_nation_ri",
      "customer_acctbal_nonneg", "events_type_domain", "documents_nchars_consistent"))
    // pass is DERIVED from the metric, never asserted independently.
    got.values.foreach { case (m, p) => assert(p == (m == 0L)) }
    val t = Tables(spark, dir)
    // The fixture's negative balances keep one check legitimately red —
    // the report must show a failure, not rubber-stamp.
    val negBal = t.customer.filter($"c_acctbal" < 0).count()
    assert(negBal > 0)
    assert(got("customer_acctbal_nonneg") == ((negBal, false)))
    val orders = t.orders.select($"o_orderkey").collect().map(_.getLong(0))
    assert(got("orders_pk_unique")._1 == orders.length - orders.distinct.length)
    val okeys = orders.toSet
    val orphans = t.lineitem.select($"l_orderkey").collect()
      .map(_.getLong(0)).count(!okeys(_))
    assert(got("lineitem_orders_ri")._1 == orphans)
    val qtyBad = t.lineitem.filter($"l_quantity" < 1 || $"l_quantity" > 50).count()
    assert(got("lineitem_qty_bounds")._1 == qtyBad)
  }

  test("w14 dynamic overwrite rewrites ONLY the en partition; siblings byte-identical") {
    import spark.implicits._
    val got = WritePath.queries("w14_dynamic_overwrite")(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val docs = Tables(spark, dir).documents.select($"lang", $"text").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val exp = docs.groupBy(_._1).map { case (l, rs) =>
      l -> ((rs.length.toLong,
        rs.map(_._2.length.toLong + (if (l == "en") 6L else 0L)).sum))
    }
    assert(got == exp)
    // Physical isolation: the store's non-en partitions carry the
    // ORIGINAL rows (dynamic overwrite never touched their dirs); en
    // carries exactly the suffixed rewrite.
    val out = graft.Scratch.dir("w14_dynover")
    val store = spark.read.parquet(out)
      .select($"doc_id", $"text", $"lang").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val orig = Tables(spark, dir).documents
      .select($"doc_id", $"text", $"lang").collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getString(2)))).toMap
    assert(store.length == orig.size)
    store.foreach { case (id, text, lang) =>
      val (t0, l0) = orig(id)
      assert(lang == l0)
      assert(text == (if (lang == "en") t0 + " en-v2" else t0), s"doc $id")
    }
  }

  test("w15 expectations: routing partitions the feed, precedence holds, nothing lost") {
    import spark.implicits._
    val got = WritePath.queries("w15_expectations")(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val events = Tables(spark, dir).events
      .select($"event_id", $"event_type", $"value").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    val domain = Set("click", "view", "signup", "purchase", "error")
    var (nOk, nVal, nType) = (0L, 0L, 0L)
    events.foreach { case (id, t, v) =>
      val v2 = if (id % 11 == 0) -v - 1.0 else v
      val t2 = if (id % 13 == 0) "unknown_" + t else t
      if (v2 < 0) nVal += 1            // precedence: value rule first
      else if (!domain(t2)) nType += 1
      else nOk += 1
    }
    assert(got(("store", "ok")) == nOk)
    assert(got(("quarantine", "value_range")) == nVal)
    assert(got(("quarantine", "type_domain")) == nType)
    assert(got.values.sum == events.length, "routing must lose nothing")
    assert(nVal > 0 && nType > 0 && nOk > 0, "all three routes exercised")
    // Rows failing BOTH rules (id % 143 == 0) land in value_range only.
    val both = events.count { case (id, _, _) => id % 143 == 0 && id != 0 }
    if (both > 0) {
      // Quarantine store really contains those rows under value_range.
      val base = graft.Scratch.dir("w15_expect")
      val q = spark.read.parquet(s"$base/quarantine")
        .filter($"event_id" % 143 === 0 && $"event_id" =!= 0)
        .select($"rule").collect().map(_.getString(0))
      assert(q.nonEmpty && q.forall(_ == "value_range"))
    }
  }

  test("w8 merged snapshot equals latest-event-per-user over the full log") {
    import spark.implicits._
    val merged = WritePath.queries("w8_merge_upsert")(spark, dir)
      .select($"user_id", $"event_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // Updates-win-by-recency over a time-split log == global latest.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id").orderBy($"ts".desc, $"event_id".desc)
    val latest = Tables(spark, dir).events
      .withColumn("rn", row_number().over(w)).filter($"rn" === 1)
      .select($"user_id", $"event_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(merged == latest)
    assert(merged.nonEmpty)
  }

  test("e9 retention triangle: week-0 equals cohort size and bounds later weeks") {
    val rows = graft.operators.Events.queries("e9_cohort_retention")(spark, dir)
      .collect().map(r => (r.getDate(0), r.getLong(1), r.getLong(2)))
    assert(rows.nonEmpty)
    val week0 = rows.filter(_._2 == 0L).map(r => r._1 -> r._3).toMap
    // Every cohort has a week-0 cell (the purchase event itself is
    // activity at offset 0), and no later week exceeds it.
    rows.foreach { case (cohort, _, n) =>
      assert(week0.contains(cohort), s"cohort $cohort missing week 0")
      assert(n <= week0(cohort), s"cohort $cohort retention exceeds size")
    }
  }

  test("d8 incremental dedup equals a direct text-level anti-join") {
    import spark.implicits._
    val viaHash = graft.operators.Dedup.queries("d8_incremental_dedup")(spark, dir)
      .collect().map(_.getLong(0)).toSet
    val docs = Tables(spark, dir).documents
    val histTexts = docs.filter($"doc_id" % 2 === 0).select($"text").distinct()
    val direct = docs.filter($"doc_id" % 2 === 1)
      .groupBy($"text").agg(min($"doc_id").as("doc_id"))
      .join(histTexts, Seq("text"), "left_anti")
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(viaHash == direct)
    assert(viaHash.nonEmpty)
  }

  test("t12 top bigrams: counts match a driver-side recount") {
    val rows = TextAnalysis.queries("t12_bigram_top")(spark, dir).collect()
      .map(r => r.getString(0) -> r.getLong(1))
    assert(rows.length == 20)
    // Sorted by (n desc, bigram asc).
    assert(rows.sliding(2).forall { case Array(a, b) =>
      a._2 > b._2 || (a._2 == b._2 && a._1 < b._1) })
    // Recount every reported bigram naively over the raw text.
    val texts = Tables(spark, dir).documents.select("text")
      .collect().map(_.getString(0))
    val naive = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    texts.foreach { t =>
      val w = t.split("\\s+").filter(_.nonEmpty)
      w.sliding(2).filter(_.length == 2).foreach(p => naive(p.mkString(" ")) += 1)
    }
    rows.foreach { case (bg, n) => assert(naive(bg) == n, s"bigram '$bg'") }
  }

  test("t13 repetition ratio matches a naive per-doc recount") {
    import spark.implicits._
    val got = TextAnalysis.queries("t13_repetition_ratio")(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    val docs = Tables(spark, dir).documents.select($"doc_id", $"text")
      .collect().map(r => r.getLong(0) -> r.getString(1))
    assert(got.size == docs.length)
    docs.foreach { case (id, text) =>
      val w = text.split("\\s+").filter(_.nonEmpty)
      val grams = if (w.length >= 3) w.sliding(3).map(_.mkString(" ")).toSeq else Seq.empty
      val (n, nd) = (grams.length.toLong, grams.distinct.length.toLong)
      val ratio = if (n > 0) BigDecimal(1.0 - nd.toDouble / n)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble else 0.0
      assert(got(id) == ((n, nd, ratio)), s"doc $id")
    }
  }

  test("olap_corr matches the builtin corr to float tolerance") {
    import spark.implicits._
    val exact = Olap.queries("olap_corr")(spark, dir).collect()
      .map(r => r.getString(0) -> r.getDouble(2)).toMap
    val builtin = Tables(spark, dir).lineitem
      .groupBy($"l_returnflag")
      .agg(corr($"l_quantity", $"l_extendedprice").as("c"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(exact.keySet == builtin.keySet)
    exact.foreach { case (k, v) =>
      assert(math.abs(v - builtin(k)) < 1e-9, s"$k: $v vs ${builtin(k)}")
      assert(v >= -1.0 && v <= 1.0)
    }
  }

  test("e15 anomaly flags equal a float z-score recompute; short-history days never flag") {
    import graft.operators.Events
    val got = Events.queries("e15_count_anomaly")(spark, dir).collect()
      .map(r => (r.getDate(0).toString, r.getLong(1), r.getLong(2), r.getBoolean(3)))
    // Driver replay in plain floating point: the cleared-of-division
    // BIGINT inequality must agree with the textbook z > 2 test
    // (strict inequality on both sides, exact integer moments).
    val series = got.map { case (d, n, _, _) => (d, n) }.sortBy(_._1)
    series.zipWithIndex.foreach { case ((d, n), i) =>
      val base = series.slice(math.max(0, i - 7), i).map(_._2)
      val expected =
        if (base.length < 7) false
        else {
          val mu = base.sum.toDouble / 7
          val s2 = base.map(x => (x - mu) * (x - mu)).sum / 6.0
          (n - mu) * (n - mu) > 4.0 * s2
        }
      val row = got.find(_._1 == d).get
      assert(row._4 == expected, s"day $d")
      assert(row._3 == base.length.toLong)
    }
    // The fixture keeps the detector discriminative at this SF.
    assert(got.count(_._4) > 0, "expected at least one flagged day")
    assert(got.exists(!_._4))
  }

  test("e10 outliers all exceed 3 sigma and match a stddev_samp recompute") {
    import spark.implicits._
    val out = graft.operators.Events.queries("e10_zscore_outliers")(spark, dir)
      .collect()
    assert(out.nonEmpty)
    assert(out.forall(r => math.abs(r.getDouble(3)) > 3.0))
    val expected = Tables(spark, dir).events.as("e")
      .join(Tables(spark, dir).events.groupBy($"event_type")
        .agg(avg($"value").as("m"), stddev_samp($"value").as("sd")), Seq("event_type"))
      .filter(abs(($"value" - $"m") / $"sd") > 3.0)
      .count()
    assert(out.length.toLong == expected)
  }

  test("ntile quartiles: per segment, sizes are balanced and ranges are ordered") {
    val rows = Olap.queries("olap_ntile_quartiles")(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))
    rows.groupBy(_._1).foreach { case (seg, qs) =>
      assert(qs.length == 4, s"$seg has ${qs.length} quartiles")
      val sizes = qs.sortBy(_._2).map(_._3)
      assert(sizes.max - sizes.min <= 1, s"$seg sizes $sizes")
      // Quartile k's hi <= quartile k+1's lo (ties allowed).
      val sorted = qs.sortBy(_._2)
      sorted.sliding(2).foreach { case Array(a, b) =>
        assert(a._5 <= b._4, s"$seg ranges overlap: $a $b")
      }
    }
  }

  // ---- round-3 curation operators ----

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private def collectedDocs: Array[(Long, String, Seq[String])] =
    Tables(spark, dir).documents.select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1),
        r.getString(1).split("\\s+").filterNot(_.isEmpty).toSeq))

  test("t14 decontamination matches a brute-force 5-gram recount") {
    val out = PipelineOps.queries("t14_decontamination")(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.keys.forall(_ % 10 != 7), "eval docs must never be flagged")
    def grams(w: Seq[String]): Set[String] =
      if (w.length < 5) Set.empty else w.sliding(5).map(_.mkString(" ")).toSet
    val docs = collectedDocs
    val evalGrams = docs.filter(_._1 % 10 == 7).flatMap(d => grams(d._3)).toSet
    val expect = docs.filter(_._1 % 10 != 7)
      .map { case (id, _, w) => id -> grams(w).count(evalGrams.contains).toLong }
      .filter(_._2 > 0).toMap
    assert(out == expect)
  }

  test("t15 chunks tile every doc: count, lengths, and hashes recompute") {
    val out = PipelineOps.queries("t15_doc_chunks")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
    val byDoc = out.groupBy(_._1)
    collectedDocs.foreach { case (id, text, _) =>
      val len = text.length
      val chunks = byDoc.getOrElse(id, Array.empty).sortBy(_._2)
      if (len == 0) assert(chunks.isEmpty)
      else {
        assert(chunks.length == (len - 1) / 384 + 1, s"doc $id chunk count")
        chunks.foreach { case (_, idx, start, clen, hash) =>
          assert(start == idx * 384 + 1)
          val s = (start - 1).toInt
          val sub = text.substring(s, math.min(s + 512, len))
          assert(clen == sub.length && hash == md5hex(sub), s"doc $id chunk $idx")
        }
      }
    }
  }

  test("t16 packing: packs are contiguous doc ranges conserving all tokens") {
    val out = PipelineOps.queries("t16_seq_packing")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .sortBy(_._1)
    val totalTokens = collectedDocs.map(_._3.length.toLong).sum
    assert(out.map(_._3).sum == totalTokens, "token conservation")
    assert(out.map(_._2).sum == collectedDocs.length.toLong, "doc conservation")
    // Doc-id ranges partition the corpus in order: pack k's last_doc
    // precedes pack k+1's first_doc, with no gaps in coverage.
    out.sliding(2).foreach { case Array(a, b) =>
      assert(a._5 < b._4, s"pack ranges overlap: $a $b")
      case _ => ()
    }
    // Each pack's id equals floor(tokens-before-pack / 1024): replay the
    // running sum over docs in order.
    var cum = 0L
    val expected = collectedDocs.sortBy(_._1).map { case (id, _, w) =>
      val pack = cum / 1024
      cum += w.length
      id -> pack
    }.toMap
    val firstDocPack = out.map(t => t._4 -> t._1).toMap
    firstDocPack.foreach { case (doc, pack) =>
      assert(expected(doc) == pack, s"doc $doc pack")
    }
  }

  test("t16 two-pass prefix sum is row-identical to the global-window form") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    // The shipped operator computes the running sum as bucketed local
    // cumsums + prefix-summed bucket offsets; this is the one-window
    // specification form it must equal exactly (kept OUT of the shipped
    // plan: an empty-partition window is a single-task corpus sort).
    val w = Window.orderBy($"doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val windowForm = Tables(spark, dir).documents
      .select($"doc_id",
        size(filter(split($"text", "\\s+"), t => t =!= lit("")))
          .cast("long").as("n_tok"))
      .withColumn("cum", sum($"n_tok").over(w))
      .select($"doc_id", $"n_tok",
        floor(($"cum" - $"n_tok").cast("double") / 1024.0).cast("long").as("pack_id"))
      .groupBy($"pack_id")
      .agg(count(lit(1)).as("n_docs"), sum($"n_tok").as("n_tokens"),
        min($"doc_id").as("first_doc"), max($"doc_id").as("last_doc"))
      .orderBy($"pack_id")
      .collect().map(_.toSeq).toSeq
    val twoPass = PipelineOps.queries("t16_seq_packing")(spark, dir)
      .collect().map(_.toSeq).toSeq
    assert(twoPass == windowForm)
  }

  test("t5b approx tier agrees with the exact percentile filter within sketch error") {
    // The tier-disagreement bound now lives IN the catalog row (the
    // boolean the DuckDB oracle hash-pins to true); here we assert the
    // certification against independently-recomputed exact facts.
    val exact = TextAnalysis.queries("t5_quality_filter")(spark, dir).count()
    val row = TextAnalysis.queries("t5b_quality_filter_approx")(spark, dir).head()
    assert(row.getLong(0) == Tables(spark, dir).documents.count())
    assert(row.getLong(1) == exact, "exact-tier survivor count drifted")
    assert(row.getBoolean(2),
      s"approx tier disagrees with exact beyond max(1, N/100) docs")
  }

  test("t18 char entropy matches a per-doc frequency replay") {
    import spark.implicits._
    val out = TextAnalysis.queries("t18_char_entropy")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val docs = Tables(spark, dir).documents
      .select($"doc_id", $"text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out.length == docs.count { case (_, t) => t.nonEmpty })
    out.foreach { case (id, nChars, h) =>
      val text = docs(id)
      // Code points, not UTF-16 units — the contract t18 now splits on.
      val cps = text.codePoints().toArray
      assert(nChars == cps.length.toLong, s"doc $id char count")
      val counts = cps.groupBy(identity).values.map(_.length)
      val n = cps.length
      val expect = math.log(n.toDouble) -
        counts.map(c => BigDecimal(c * math.log(c.toDouble))
          .setScale(9, BigDecimal.RoundingMode.HALF_UP)).sum.toDouble / n
      assert(math.abs(h - expect) < 1e-5, s"doc $id entropy $h vs $expect")
      // Entropy bounds: 0 (single repeated char) .. ln(alphabet size).
      assert(h >= -1e-9 && h <= math.log(counts.size.toDouble) + 1e-9)
    }
  }

  test("t18 counts non-BMP characters as single code points") {
    import spark.implicits._
    // An emoji is one code point but two UTF-16 units; a UTF-16-unit
    // splitter would count it twice (as surrogate halves) and shift the
    // entropy. Run t18 on a crafted corpus to pin the code-point contract.
    val tmp = graft.Scratch.tempDir("t18_nonbmp")
    Seq(
      (1L, "😀😀abc", "en", "web", 5L), // 😀😀abc = 5 cps
      (2L, "aaaa", "en", "web", 4L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = graft.operators.TextAnalysis.queries("t18_char_entropy")(spark, tmp)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(out(1L)._1 == 5L, s"emoji doc counted ${out(1L)._1} chars, want 5")
    // Distribution {😀:2, a:1, b:1, c:1} over n=5.
    val expect1 = math.log(5.0) -
      (2 * math.log(2.0)) / 5.0 // the three singleton terms are ln(1)=0
    assert(math.abs(out(1L)._2 - expect1) < 1e-5)
    assert(out(2L)._1 == 4L && math.abs(out(2L)._2) < 1e-9)
  }

  test("t17 mixture weights sum to one and follow sqrt-token scaling") {
    val rows = PipelineOps.queries("t17_mixture_weights")(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))
    val wSum = rows.map(_._4).sum
    assert(math.abs(wSum - 1.0) < 1e-4, s"weights sum to $wSum")
    // Monotone: more tokens, >= weight; and oversample inverts share.
    val sorted = rows.sortBy(_._3)
    sorted.sliding(2).foreach { case Array(a, b) =>
      assert(a._4 <= b._4 + 1e-9, s"weight not monotone: $a $b")
      case _ => ()
    }
    val totalTok = rows.map(_._3).sum.toDouble
    rows.foreach { case (src, _, nTok, w, over) =>
      val expectOver = w * totalTok / nTok
      assert(math.abs(over - expectOver) < 1e-5, s"$src oversample")
    }
  }

  test("d9 block dedup matches a brute-force block-hash recount") {
    val out = PipelineOps.queries("d9_block_dedup")(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val blocks = collectedDocs.flatMap { case (id, _, w) =>
      w.grouped(10).map(b => id -> md5hex(b.mkString(" ")))
    }
    val expect = blocks.groupBy(_._2).map { case (h, occ) =>
      (h, occ.map(_._1).distinct.length.toLong, occ.length.toLong)
    }.filter(_._2 >= 2).toSet
    assert(out == expect)
    assert(out.forall(_._2 >= 2))
  }

  test("t22 zipf fit matches a driver-side least-squares recompute; flags the synthetic corpus") {
    import org.apache.spark.sql.functions._
    val row = TextAnalysis.queries("t22_zipf_fit")(spark, dir).head()
    val (n, slope, intercept, r2) =
      (row.getLong(0), row.getDouble(1), row.getDouble(2), row.getDouble(3))
    // Recompute from the raw counts with plain doubles.
    val counts = spark.read.parquet(s"$dir/documents.parquet")
      .select(explode(split(col("text"), "\\s+")).as("w"))
      .filter(col("w") =!= "")
      .groupBy("w").count()
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .sortBy { case (w, c) => (-c, w) }.take(100)
    assert(n == counts.length)
    val xs = counts.indices.map(i => math.log(i + 1.0))
    val ys = counts.map(c => math.log(c._2.toDouble))
    val (sx, sy) = (xs.sum, ys.sum)
    val sxx = xs.map(x => x * x).sum
    val sxy = xs.zip(ys).map { case (x, y) => x * y }.sum
    val syy = ys.map(y => y * y).sum
    val den = n * sxx - sx * sx
    val expSlope = (n * sxy - sx * sy) / den
    assert(math.abs(slope - expSlope) < 1e-6, s"slope $slope vs $expSlope")
    assert(math.abs(intercept - (sy - expSlope * sx) / n) < 1e-6)
    val expR2 = (n * sxy - sx * sy) * (n * sxy - sx * sy) /
      (den * (n * syy - sy * sy))
    assert(math.abs(r2 - expR2) < 1e-6)
    // The gauge WORKING: the synthetic fixture's near-uniform 31-word
    // pool is exactly the template-text shape the diagnostic exists to
    // flag — far from a natural corpus's slope ≈ -1, r2 ≳ 0.9.
    assert(slope < 0, s"counts are non-increasing in rank: slope $slope")
    assert(r2 >= 0 && r2 <= 1)
    info(f"zipf slope=$slope%.3f r2=$r2%.3f over n=$n ranks (non-Zipfian, as expected for synthetic text)")
  }

  test("olap_rolling_range: 7-day RANGE frame matches a calendar recompute (gaps respected)") {
    import graft.operators.Windows
    val rows = Windows.queries("olap_rolling_range")(spark, dir).collect()
      .map { r =>
        val day = r.get(0) match {
          case d: java.time.LocalDate     => d.toEpochDay
          case d: java.sql.Date           => d.toLocalDate.toEpochDay
          case t: java.time.LocalDateTime => t.toLocalDate.toEpochDay
          case t: java.sql.Timestamp      => t.getTime / 86400000L
        }
        (day, r.getDouble(1), r.getDouble(2))
      }
    val byDay = rows.map { case (d, rev, _) => d -> rev }.toMap
    rows.foreach { case (d, _, rev7) =>
      val expect = (d - 6 to d).flatMap(byDay.get).sum
      assert(math.abs(rev7 - expect) < 1e-6, s"day $d: $rev7 vs $expect")
    }
    // The frame is CALENDAR-based, not row-based: wherever the 7-day
    // lookback spans a missing day, a ROWS 6-PRECEDING frame would sum
    // a different set — assert the fixture actually exercises that.
    val days = rows.map(_._1).sorted
    val hasGap = days.sliding(2).exists { case Array(a, b) => b - a > 1; case _ => false }
    if (hasGap) {
      val idx = days.zipWithIndex.toMap
      val divergent = rows.exists { case (d, _, rev7) =>
        val i = idx(d)
        val rowsSum = days.slice(math.max(0, i - 6), i + 1).map(byDay).sum
        math.abs(rowsSum - rev7) > 1e-6
      }
      assert(divergent, "gaps exist but ROWS and RANGE frames never diverge")
    }
  }

  test("t21 tiers partition the corpus with quartile-bounded head/tail") {
    val rows = TextAnalysis.queries("t21_quality_tiers")(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(rows.keySet == Set("head", "middle", "tail"))
    val nDocs = TextAnalysis.queries("t19_unigram_logprob")(spark, dir).count()
    assert(rows.values.map(_._1).sum == nDocs) // tiers cover every doc once
    // Strict-inequality cutpoints put boundary ties in 'middle': head
    // and tail each hold AT MOST a quartile, middle at least half.
    assert(rows("head")._1 <= nDocs / 4 + 1, rows.toString)
    assert(rows("tail")._1 <= nDocs / 4 + 1, rows.toString)
    // Ordering sanity: head scores above middle above tail.
    assert(rows("head")._3 > rows("middle")._3)
    assert(rows("middle")._3 > rows("tail")._3)
  }

  test("t21's score histogram equals the per-doc cutpoint and tier form, and leaves no cached frame") {
    // The per-doc form t21 had before: exact percentiles over every
    // doc's score, the tier CASE per doc, then the tier sums.
    val scored = TextAnalysis.queries("t19_unigram_logprob")(spark, dir)
    val cuts = scored.agg(
      percentile(round(col("mean_logprob"), 6), lit(0.25)).as("c_lo"),
      percentile(round(col("mean_logprob"), 6), lit(0.75)).as("c_hi"))
    val perDoc = scored.crossJoin(cuts)
      .select(col("n_tok"), col("mean_logprob"),
        when(col("mean_logprob") < col("c_lo"), "tail")
          .when(col("mean_logprob") > col("c_hi"), "head")
          .otherwise("middle").as("tier"))
      .groupBy(col("tier"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("total_tokens"),
        round(sum(col("mean_logprob").cast("decimal(18,6)")).cast("double")
          / count(lit(1)), 6).as("mean_score"))
      .orderBy(col("tier"))
    val persisted = spark.sparkContext.getPersistentRDDs.keySet
    val t21 = TextAnalysis.queries("t21_quality_tiers")(spark, dir)
    assert(t21.collect().toSeq == perDoc.collect().toSeq) // bit-exact doubles included
    // No cache entry: its plan reads no cached relation, and running it
    // left no persisted block set behind.
    assert(t21.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.columnar.InMemoryRelation => r }.isEmpty)
    assert((spark.sparkContext.getPersistentRDDs.keySet -- persisted).isEmpty,
      "t21 left a persisted frame behind")
  }

  test("t24 BPE merge trace equals a driver-side trainer replay") {
    import spark.implicits._
    val got = graft.operators.TextAnalysis.queries("t24_bpe_merges")(spark, dir)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
    // Driver replay: word-type counts, then 8 greedy merges with the
    // same (count desc, pair asc) selection and left-to-right
    // non-overlapping application (String.replace's semantics).
    val wordRe = "[a-z]+".r
    var vocab: Map[String, Long] = Tables(spark, dir).documents
      .select($"text").collect().map(_.getString(0))
      .flatMap(t => wordRe.findAllIn(t.toLowerCase).toSeq)
      .groupBy(w => w.map(_.toString).mkString(" "))
      .view.mapValues(_.size.toLong).toMap
    val trace = (1 to 8).map { step =>
      val counts = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
      for ((sym, c) <- vocab) {
        val units = sym.split(" ")
        for (j <- 0 until units.length - 1)
          counts(units(j) + " " + units(j + 1)) += c
      }
      val (pair, n) = counts.toSeq.minBy { case (p, c) => (-c, p) }
      vocab = vocab.toSeq
        .map { case (sym, c) => (sym.replace(pair, pair.replace(" ", "")), c) }
        .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
      (step, pair, n)
    }
    assert(got.toSeq == trace)
    // Merge counts are non-increasing in a greedy trainer only per
    // pair lineage, not globally — but every selected count must be
    // positive and every pair two space-separated units.
    got.foreach { case (_, p, n) => assert(n > 0 && p.split(" ").length == 2) }

    // t25: encoding with the trained merges must match a driver replay
    // applying the same merge sequence to every word occurrence.
    val unitCount: String => Long = { w =>
      var sym = w.map(_.toString).mkString(" ")
      for ((_, pair, _) <- trace) sym = sym.replace(pair, pair.replace(" ", ""))
      sym.split(" ").length.toLong
    }
    val docs = Tables(spark, dir).documents
      .select($"doc_id", $"text").collect().map(r => (r.getLong(0), r.getString(1)))
    val expected = docs.map { case (id, text) =>
      val ws = wordRe.findAllIn(text.toLowerCase).toSeq
      (id, ws.size.toLong, ws.map(unitCount).sum, ws.map(_.length.toLong).sum)
    }.sortBy(_._1)
    val enc = graft.operators.TextAnalysis.queries("t25_bpe_encode")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    assert(enc.map(e => (e._1, e._2, e._3, e._4)).toSeq == expected.toSeq)
    // Subword bounds: every word is >= 1 unit, every unit >= 1 char.
    enc.foreach { case (_, nw, nt, nc, ratio) =>
      assert(nt >= nw && nc >= nt)
      assert(ratio >= 1.0)
    }
  }
}
