package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** M2 — join parity (SURVEY.md §2.3). The reference has zero server-side
  * joins: every join is hand-rolled application JS — a 2-step `$in`
  * semi-join (index.js:550-554), an N+1 `Promise.all(findOne)` enrichment
  * loop (index.js:350-359), a point-chase (index.js:205-206), and an
  * existence check as authorization (index.js:808). Here each becomes one
  * declarative join that Catalyst plans:
  *
  * Scale stance (100 TB): the build sides below are dimension-sized
  * (filtered orders / customer), so Catalyst + AQE pick BroadcastHashJoin
  * — no shuffle of the fact table. When both sides are fact-sized the
  * plan degrades gracefully to sort-merge on the join key; nothing here
  * hand-schedules that choice. The N+1 pathology (one network round trip
  * per row) simply cannot be expressed.
  */
object Joins extends QueryModule {

  /** J1 — semi-join: "submissions whose task_id ∈ buyer's task ids"
    * (index.js:550-554). Left-semi keeps lineitem's columns only and
    * never duplicates rows on multi-matches. */
  private def j1(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val t = Tables(spark, dir)
    val urgentOrders = t.orders
      .filter($"o_orderpriority" === "1-URGENT")
      .select($"o_orderkey")
    // (l_orderkey, l_linenumber) is not unique in the fixture; include
    // l_partkey/l_suppkey for a total output order (the j2/j3 texts too).
    t.lineitem
      .join(urgentOrders, $"l_orderkey" === $"o_orderkey", "left_semi")
      .select($"l_orderkey", $"l_linenumber", $"l_partkey", $"l_suppkey", $"l_quantity")
      .orderBy($"l_orderkey", $"l_linenumber", $"l_partkey", $"l_suppkey")
  }

  /** Anti-join — the duplicate-registration guard (index.js:388-391) in
    * batch form: rows with NO match on the key. */
  private def jAnti(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val t = Tables(spark, dir)
    t.customer
      .join(t.orders.select($"o_custkey"), $"c_custkey" === $"o_custkey", "left_anti")
      .select($"c_custkey", $"c_name")
      .orderBy($"c_custkey")
  }

  /** J6 — range (interval) join: orders banded into irregular price
    * tiers. The reference has no range joins (SURVEY §2.3); this is the
    * engine extension for them. With a dimension-sized interval table
    * the correct plan at ANY scale is a broadcast theta join (5 bands ×
    * n rows, evaluated as a codegen'd predicate — no shuffle of the
    * fact side); for fact×fact range joins, band both sides to a
    * common grid first and equi-join on the grid key. */
  private def j6(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val bands = Seq(
      ("T1_micro", 0.0, 50000.0), ("T2_small", 50000.0, 150000.0),
      ("T3_mid", 150000.0, 300000.0), ("T4_large", 300000.0, 450000.0),
      ("T5_jumbo", 450000.0, Double.MaxValue))
      .toDF("tier", "lo", "hi")
    Tables(spark, dir).orders
      .join(broadcast(bands), $"o_totalprice" >= $"lo" && $"o_totalprice" < $"hi")
      .groupBy($"tier")
      .agg(count(lit(1)).as("n"), dsum0($"o_totalprice").as("sum_price"))
      .orderBy($"tier")
  }

  /** j11 — fact×fact INTERVAL-OVERLAP join: the large×large range join
    * j6's scaladoc promises ("band both sides to a common grid first
    * and equi-join on the grid key"), delivered. Two order-interval
    * sets (7-day activity windows for two disjoint customer cohorts)
    * are paired wherever their intervals overlap. The naive plan is a
    * theta join — O(n·m) pair evaluation, a BroadcastNestedLoop or
    * cartesian at any real size. The grid form replicates each
    * interval to the ≤2 seven-day grid cells it touches (replication
    * factor ⌈len/grid⌉+1-bounded BY CONSTRUCTION) and EQUI-joins on
    * the cell, so Catalyst plans a hash/sort-merge join that scales
    * like any keyed join. Each overlapping pair is emitted EXACTLY
    * once with no distinct: it is claimed only by the cell containing
    * max(astart, bstart) — the overlap's first day, which both
    * intervals provably cover.
    *
    * The ORACLE is the direct range-predicate join — the engine must
    * reach the identical pair set through the grid (j10's
    * blocked-vs-direct contract for the temporal domain). Shared
    * dialect (epoch_us/divide/greatest/least): parity-surface member.
    * Scale: shuffle keys are grid cells; a hot cell means many
    * intervals genuinely coexist in one week — salt the cell key like
    * j8 if a cohort concentrates. */
  private val J11GridDays = 7L

  /** Frame-parametric grid kernel: a(ak, astart, aend) × b(bk, bstart,
    * bend), half-open [start, end) day intervals → (ak, bk,
    * overlap_days), each overlapping pair exactly once. */
  private[graft] def intervalOverlapGrid(a: DataFrame, b: DataFrame,
      grid: Long = J11GridDays): DataFrame = {
    def cells(df: DataFrame, s: String, e: String) =
      df.withColumn("cell",
        explode(sequence(expr(s"$s div $grid"), expr(s"($e - 1) div $grid"))))
    cells(a, "astart", "aend").join(cells(b, "bstart", "bend"), Seq("cell"))
      .filter(col("astart") < col("bend") && col("bstart") < col("aend"))
      .filter(col("cell") === expr(s"greatest(astart, bstart) div $grid"))
      .select(col("ak"), col("bk"),
        (least(col("aend"), col("bend"))
          - greatest(col("astart"), col("bstart"))).as("overlap_days"))
  }

  private def j11(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // CAST first: o_orderdate decodes as TIMESTAMP_NTZ in current
    // fixture generations; the cast is a no-op for instant timestamps
    // and the UTC-pinned conversion for NTZ (Tables.events' posture).
    val day = expr("unix_micros(CAST(o_orderdate AS TIMESTAMP)) div 86400000000")
    def side(m: Int, k: String, s: String, e: String) =
      Tables(spark, dir).orders
        .filter($"o_custkey" % 100 === m)
        .select($"o_orderkey".as(k), day.as(s), (day + J11GridDays).as(e))
    intervalOverlapGrid(
      side(0, "ak", "astart", "aend"), side(1, "bk", "bstart", "bend"))
      .orderBy($"ak", $"bk")
  }

  /** j12 — AS-OF join (the trades×quotes temporal join; kdb+ `aj`,
    * DuckDB/Pandas ASOF JOIN, Flink temporal table join — public
    * semantics): each left row picks the single latest right row with
    * the same key whose timestamp is AT OR BEFORE the left row's, or
    * NULL when no prior right row exists. Here: every `purchase` event
    * is annotated with the user's most recent prior `view` — the
    * "state the user last saw" enrichment every event pipeline runs
    * (price-at-trade, config-at-request, page-before-checkout).
    *
    * THE SCALE RE-EXPRESSION IS THE POINT. The textbook form is a
    * non-equi join (v.ts <= p.ts) + per-left-row argmax: at any real
    * size that join explodes to O(|views/user| · |purchases/user|)
    * intermediate rows per user before the argmax collapses them — and
    * that IS the oracle below, which the kernel must match exactly.
    * The shipped kernel never joins at all: both streams are tagged
    * and UNION'd, one window per key ordered by (ts, side, rid) runs
    * `last(payload, ignoreNulls)` over ROWS UNBOUNDED PRECEDING →
    * CURRENT ROW, and left rows read the answer in place. One shuffle
    * (the per-key window partition, events' e6/e10/e14 shape), zero
    * Join nodes in the plan (PlanSpec pins that), intermediate volume
    * exactly |L| + |R| rows. Ties: a view at the purchase's own
    * microsecond DOES match ("at or before"; side 0 sorts before side
    * 1 at equal ts), and same-microsecond views resolve to the larger
    * event_id (rid is the last sort key) — the oracle's argmax over
    * the identical packed (us, id) sort key, so tie semantics are
    * pinned, not accidental.
    *
    * Relation to e7 (`Events.scala`): e7 is this semantics pre-composed
    * over ONE table (both event types already share the log, so no
    * union is needed) with strictly-before matching, and its oracle
    * restates the same window algorithm. j12 is the GENERAL kernel —
    * two arbitrary frames, a carried payload struct, at-or-before with
    * pinned same-instant ties — and its oracle is the INDEPENDENT
    * textbook formulation, so the gate would catch a kernel bug e7's
    * same-algorithm oracle cannot. */
  private def j12(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables(spark, dir).events
    val views = ev.filter($"event_type" === "view")
      .select($"user_id".as("key"), unix_micros($"ts").as("ts"),
        struct(unix_micros($"ts").as("vus"), $"event_id".as("rid"),
          $"value".as("view_value")).as("m"))
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"event_id".as("purchase_id"), $"user_id".as("key"),
        unix_micros($"ts").as("ts"))
    asofJoin(purchases, views)
      .select($"purchase_id", $"key".as("user_id"), $"m.rid".as("view_id"),
        $"m.view_value".as("view_value"), ($"ts" - $"m.vus").as("staleness_us"))
      .orderBy($"purchase_id")
  }

  /** The as-of kernel, frame-parametric: `left` carries (`key`, `ts`,
    * payload…); `right` carries (`key`, `ts`, `m`) where `m` is a
    * struct whose `rid` field breaks same-instant ties (larger wins).
    * Returns the left rows with `m` = the latest right struct at-or-
    * before each left `ts` (NULL when none). Union + one per-key
    * window — no join, O(|L|+|R|) rows moved. */
  private[graft] def asofJoin(left: DataFrame, right: DataFrame): DataFrame = {
    import left.sparkSession.implicits._
    import org.apache.spark.sql.expressions.Window
    val tagged = right.select($"key", $"ts", lit(0).as("side"), $"m")
      .unionByName(left.withColumn("side", lit(1)), allowMissingColumns = true)
    val w = Window.partitionBy($"key").orderBy($"ts", $"side", $"m.rid")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tagged
      .withColumn("m", last($"m", ignoreNulls = true).over(w))
      .filter($"side" === 1)
      .drop("side")
  }

  /** J7 — bloom-filter pre-pruned semi-join: lineitem against the
    * suppliers of one nation. The dimension's key set is sketched into
    * a bloom filter (built by Spark's own `BloomFilterAggregate`, the
    * machinery behind Catalyst's runtime-filter injection, registered
    * for explicit use); the sketch evaluates as a scalar-subquery
    * predicate AT THE FACT SCAN, so non-matching rows die before the
    * join shuffle. The exact semi-join afterwards removes bloom false
    * positives — the sketch trades cost, never correctness, which is
    * why the oracle is the plain semi-join.
    *
    * Scale rationale (100 TB): when the dim key set is selective but
    * too large for a broadcast hash relation, a few-MB bloom still
    * broadcasts fine, and fact rows are pruned at scan parallelism
    * with zero shuffle. (Catalyst injects this automatically in some
    * shapes — spark.sql.optimizer.runtime.bloomFilter — but an engine
    * must also offer it as an explicit operator for pipelines that
    * persist the sketch across jobs.) */
  private def j7(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.functions.BloomFunctions.register(spark)
    val t = Tables(spark, dir)
    val dim = t.supplier
      .join(t.nation.filter($"n_name" === "NATION_19"), $"s_nationkey" === $"n_nationkey", "left_semi")
      .select($"s_suppkey")
    // might_contain's bloom argument must be foldable or a scalar
    // subquery (Catalyst type check) — hence `scalar()`.
    val bloom = dim.agg(call_function("graft_bloom_agg", $"s_suppkey")).scalar()
    val pruned = t.lineitem.select($"l_suppkey", $"l_extendedprice")
      .filter(call_function("graft_might_contain", bloom, $"l_suppkey"))
    pruned.join(dim, pruned("l_suppkey") === dim("s_suppkey"), "left_semi")
      .groupBy($"l_suppkey")
      .agg(count(lit(1)).as("n_items"), dsum0($"l_extendedprice").as("sum_price"))
      .orderBy($"l_suppkey")
  }

  /** J8 — explicit hot-key SALTED join, the join-side twin of
    * `skew_salted_agg`. When one join key carries a disproportionate
    * share of fact rows, a plain shuffle join sends the whole hot key
    * to ONE reducer; salting replicates each build-side row S times
    * (one per salt) and assigns each fact row a deterministic salt in
    * [0, S), so the hot key fans out across S tasks. The join condition
    * gains `AND salt = salt`; results are identical to the unsalted
    * join — salting is topology, not semantics — which is why the
    * oracle is the plain join.
    *
    * Scale rationale (100 TB): AQE's skew-join split handles
    * sort-merge skew automatically, but only AFTER materializing the
    * skewed shuffle files; pre-salting with a known hot-key list (or a
    * sampled histogram) avoids writing the skewed partition at all,
    * and is the only option when the engine must bucket/pre-partition
    * the output. Build-side replication cost is S × |dim| rows —
    * choose S ≈ hot-partition-bytes / target-partition-bytes. */
  private def j8(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val S = 8
    val t = Tables(spark, dir)
    val dim = t.supplier
      .select($"s_suppkey", $"s_nationkey",
        explode(sequence(lit(0), lit(S - 1))).as("salt"))
    val fact = t.lineitem
      .select($"l_suppkey", $"l_extendedprice",
        pmod(xxhash64($"l_orderkey", $"l_linenumber", $"l_partkey"), lit(S))
          .cast("int").as("salt"))
    fact.join(dim,
        fact("l_suppkey") === dim("s_suppkey") && fact("salt") === dim("salt"))
      .groupBy($"s_nationkey")
      .agg(count(lit(1)).as("n_items"), dsum($"l_extendedprice").as("revenue"))
      .orderBy($"s_nationkey")
  }

  /** J9 — runtime-bloom-eligible LARGE ⋈ LARGE join: lineitem against
    * the selectively-filtered orders (high-priority only), the shape
    * Catalyst's `InjectRuntimeFilter` rule targets. When BOTH sides are
    * big enough to shuffle (orders at 100 TB does not broadcast), the
    * optimizer plants a `BloomFilterAggregate` over the filtered
    * orders' keys and a `might_contain` predicate at the lineitem
    * scan, so ~4/5 of fact rows (the non-urgent-order lines) die
    * BEFORE the join shuffle — the automatic twin of j7's explicit
    * bloom semi-join.
    *
    * At fixture scale the rule correctly declines: the filtered dim
    * broadcasts (so there is no shuffle to protect) and the fact scan
    * is under `...bloomFilter.applicationSideScanSizeThreshold`
    * (10 GB) — injection would be pure overhead, and the catalog query
    * deliberately mutates NO session conf (plans must not depend on
    * which catalog query ran first). `PlanSpec` proves eligibility
    * executable-y: the same plan builder under cluster-realistic
    * forced conditions (no broadcast, threshold 0) carries
    * `might_contain` on the fact side of the final plan. */
  private[graft] def j9(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val t = Tables(spark, dir)
    val sel = t.orders.filter($"o_orderpriority" === "2-HIGH")
      .select($"o_orderkey", $"o_orderdate")
    val fact = t.lineitem.select($"l_orderkey", $"l_extendedprice", $"l_discount")
    fact.join(sel, $"l_orderkey" === $"o_orderkey")
      .groupBy(month($"o_orderdate").cast("long").as("month"))
      .agg(count(lit(1)).as("n_items"),
        dsum($"l_extendedprice" * (lit(1.0) - $"l_discount")).as("revenue"))
      .orderBy($"month")
  }

  /** j10 — fuzzy (approximate-string) self-join: every supplier-name
    * pair within Levenshtein distance ≤ 1 — the entity-resolution /
    * vendor-master-dedup primitive, and the catalog's one join whose
    * predicate no equality key can express directly.
    *
    * The naive form is an O(n²) cross join with an edit-distance
    * filter. The scalable re-expression is SymSpell's deletion-
    * neighborhood blocking (Garbe's symmetric-delete algorithm; public):
    * N(s) = {s} ∪ {s minus one character}. Two strings are within
    * distance 1 iff they share a neighborhood member — substitution ⇒
    * deleting the differing position from both yields the same string;
    * insertion/deletion ⇒ the shorter string IS a member of the
    * longer's neighborhood — so blocking recall is exactly 1, proven,
    * not tuned. Each row emits |s|+1 variants (in-task transform), the
    * equi-join on the variant key generates candidates, and one exact
    * `levenshtein` verify removes the false positives the pigeonhole
    * admits. Shuffle volume is O(n·|s|) variant rows, never O(n²);
    * a hot variant bucket costs its own candidates only (the d4/d5
    * banding discipline). Both engines implement standard Levenshtein,
    * so the verified distance is integer-identical. */
  private def j10(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val s = Tables(spark, dir).supplier
      .select($"s_suppkey".as("id"), $"s_name".as("name"))
    presentSorted(fuzzyPairs(s), col("i"), col("j"))
  }

  /** The blocking + verify kernel of j10, frame-parametric (columns
    * `id`, `name`) so ScalaTest can drive crafted insertion/deletion/
    * substitution cases the fixed-width fixture names never exercise. */
  private[graft] def fuzzyPairs(names: DataFrame): DataFrame = {
    import names.sparkSession.implicits._
    val variants = names.select($"id", $"name", explode(array_union(
      array($"name"),
      expr("transform(sequence(1, length(name)), i -> " +
        "concat(substring(name, 1, i-1), substring(name, i+1, length(name)-i)))")))
      .as("v"))
    val cand = variants.as("a").join(variants.as("b"),
        $"a.v" === $"b.v" && $"a.id" < $"b.id")
      .select($"a.id".as("i"), $"a.name".as("na"),
        $"b.id".as("j"), $"b.name".as("nb"))
      .distinct()
    cand.filter(levenshtein($"na", $"nb") <= 1)
      .select($"i", $"j", levenshtein($"na", $"nb").cast("long").as("distance"))
  }

  val oracles: Map[String, String] = Map(
    // j12: the oracle is the TEXTBOOK form the kernel replaces — the
    // non-equi (ts <= ts) join + per-row argmax over the packed
    // (us, id) sort key (e14's fixed-width idiom), then a join back to
    // recover the winning view's payload. The engine must reach the
    // identical rows through the union+window kernel with no join.
    "j12_asof_join" ->
      """WITH v AS (SELECT user_id, epoch_us(ts) AS vus,
        |                  event_id AS view_id, value AS view_value
        |           FROM events WHERE event_type = 'view'),
        |p AS (SELECT event_id AS purchase_id, user_id, epoch_us(ts) AS pus
        |      FROM events WHERE event_type = 'purchase'),
        |k AS (SELECT p.purchase_id, p.user_id, p.pus,
        |             max(lpad(CAST(v.vus AS VARCHAR(20)), 20, '0')
        |                 || lpad(CAST(v.view_id AS VARCHAR(20)), 20, '0')) AS mk
        |      FROM p LEFT JOIN v
        |        ON v.user_id = p.user_id AND v.vus <= p.pus
        |      GROUP BY p.purchase_id, p.user_id, p.pus)
        |SELECT k.purchase_id, k.user_id, v.view_id, v.view_value,
        |       k.pus - v.vus AS staleness_us
        |FROM k LEFT JOIN v ON v.view_id = CAST(substr(k.mk, 21, 20) AS BIGINT)
        |ORDER BY k.purchase_id""".stripMargin,
    // j11: the DIRECT range-predicate join — the engine must reproduce
    // it through the grid equi-join. epoch_us is the bridged micros
    // spelling (= unix_micros under the pinned UTC session).
    "j11_interval_overlap" ->
      """WITH a AS (
        |  SELECT o_orderkey AS ak,
        |         divide(epoch_us(o_orderdate), 86400000000) AS astart,
        |         divide(epoch_us(o_orderdate), 86400000000) + 7 AS aend
        |  FROM orders WHERE o_custkey % 100 = 0),
        |b AS (
        |  SELECT o_orderkey AS bk,
        |         divide(epoch_us(o_orderdate), 86400000000) AS bstart,
        |         divide(epoch_us(o_orderdate), 86400000000) + 7 AS bend
        |  FROM orders WHERE o_custkey % 100 = 1)
        |SELECT ak, bk,
        |       least(aend, bend) - greatest(astart, bstart) AS overlap_days
        |FROM a JOIN b ON astart < bend AND bstart < aend
        |ORDER BY ak, bk""".stripMargin,
    // j10: the oracle is the quadratic form the blocking replaces —
    // brute-force levenshtein over all pairs. The engine must reach the
    // identical pair set through the deletion-neighborhood join.
    "j10_fuzzy_join" ->
      """SELECT a.s_suppkey AS i, b.s_suppkey AS j,
        |       CAST(levenshtein(a.s_name, b.s_name) AS BIGINT) AS distance
        |FROM supplier a JOIN supplier b ON a.s_suppkey < b.s_suppkey
        |WHERE levenshtein(a.s_name, b.s_name) <= 1
        |ORDER BY i, j""".stripMargin,
    // Runtime-filter injection is execution strategy, not semantics:
    // the oracle is the plain filtered join.
    "j9_runtime_bloom_join" ->
      s"""SELECT CAST(month(o_orderdate) AS BIGINT) AS month,
         |       count(*) AS n_items,
         |       ${sqlDsum("l_extendedprice * (1.0 - l_discount)")} AS revenue
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |WHERE o_orderpriority = '2-HIGH'
         |GROUP BY month(o_orderdate)
         |ORDER BY month""".stripMargin,
    // Salting is topology, not semantics: the oracle is the plain join.
    "j8_skew_salted_join" ->
      s"""SELECT s_nationkey, count(*) AS n_items,
         |       ${sqlDsum("l_extendedprice")} AS revenue
         |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
         |GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin,
    // The bloom sketch is execution strategy, not semantics: the oracle
    // is the plain semi-join it accelerates.
    "j7_bloom_semi_join" ->
      s"""SELECT l_suppkey, count(*) AS n_items,
         |       ${sqlDsum0("l_extendedprice")} AS sum_price
         |FROM lineitem
         |WHERE l_suppkey IN (
         |  SELECT s_suppkey FROM supplier JOIN nation
         |    ON s_nationkey = n_nationkey
         |  WHERE n_name = 'NATION_19')
         |GROUP BY l_suppkey ORDER BY l_suppkey""".stripMargin,
    "j6_range_band_join" ->
      s"""WITH bands(tier, lo, hi) AS (VALUES
         |  ('T1_micro', 0.0, 50000.0), ('T2_small', 50000.0, 150000.0),
         |  ('T3_mid', 150000.0, 300000.0), ('T4_large', 300000.0, 450000.0),
         |  ('T5_jumbo', 450000.0, 1.7976931348623157e308))
         |SELECT tier, count(*) AS n, ${sqlDsum0("o_totalprice")} AS sum_price
         |FROM orders JOIN bands ON o_totalprice >= lo AND o_totalprice < hi
         |GROUP BY tier ORDER BY tier""".stripMargin,
    "j1_semi_join" ->
      """SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity
        |FROM lineitem
        |WHERE l_orderkey IN
        |  (SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT')
        |ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey""".stripMargin,
    // J2 — the N+1 findOne enrichment loop with 'Unknown' defaults (index.js:350-359).
    "j2_enrichment_join" ->
      """SELECT l.l_orderkey, l.l_linenumber, l.l_partkey, l.l_suppkey,
        |       coalesce(o.o_orderpriority, 'Unknown Task') AS task_title,
        |       l.l_extendedprice AS payable_amount,
        |       coalesce(CAST(o.o_custkey AS STRING), 'Unknown Buyer') AS buyer_name
        |FROM lineitem l LEFT OUTER JOIN orders o ON l.l_orderkey = o.o_orderkey
        |WHERE l.l_returnflag = 'A'
        |ORDER BY l.l_orderkey, l.l_linenumber, l.l_partkey, l.l_suppkey""".stripMargin,
    // J3 — two-hop point-chase: submission → task → buyer (index.js:205-206).
    "j3_two_hop_chase" ->
      """SELECT l.l_orderkey, l.l_linenumber, l.l_partkey, l.l_suppkey,
        |       o.o_orderpriority, c.c_name
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |WHERE l.l_orderkey < 100
        |ORDER BY l.l_orderkey, l.l_linenumber, l.l_partkey, l.l_suppkey""".stripMargin,
    // J4 — existence join as authorization (index.js:808,862).
    "j4_existence_check" ->
      """SELECT count(*) > 0 AS authorized FROM orders
        |WHERE o_orderkey = 7 AND o_orderstatus IS DISTINCT FROM 'F'""".stripMargin,
    "j5_anti_join_guard" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
        |ORDER BY c_custkey""".stripMargin)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "j10_fuzzy_join" -> (j10 _),
    "j9_runtime_bloom_join" -> (j9 _),
    "j8_skew_salted_join" -> (j8 _),
    "j7_bloom_semi_join"  -> (j7 _),
    "j11_interval_overlap" -> (j11 _),
    "j12_asof_join" -> (j12 _),
    "j6_range_band_join"  -> (j6 _),
    "j1_semi_join"        -> (j1 _),
    "j2_enrichment_join"  -> SqlProgram(oracles("j2_enrichment_join")),
    "j3_two_hop_chase"    -> SqlProgram(oracles("j3_two_hop_chase")),
    "j4_existence_check"  -> SqlProgram(oracles("j4_existence_check")),
    "j5_anti_join_guard"  -> (jAnti _))
}
