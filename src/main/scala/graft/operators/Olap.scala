package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** M4 — grouped/OLAP generalizations (SURVEY.md §2.4 A7, §2.6, §7.2 M4).
  * The reference computes per-key totals one key at a time per HTTP
  * request (index.js:562-565, 593-629); the relational generalization is
  * GROUP BY — plus the OLAP surface the north star requires (rollup,
  * cube, grouping sets, distinct, count-distinct, approximate distinct,
  * set operations) and TPC-H-style smoke queries over the star schema.
  *
  * Scale notes:
  *   - Every grouped aggregate here is partial+final hash agg — map-side
  *     combine means the shuffle carries one row per (partition × group),
  *     not per input row.
  *   - rollup/cube expand grouping sets BEFORE the shuffle but partial
  *     aggregation still applies; at 100 TB prefer low-cardinality
  *     grouping columns (as here: flags/status/priority).
  *   - `approx_count_distinct` (HyperLogLog++) is the scale path for
  *     distinct counts: constant memory per group vs a shuffle of every
  *     distinct value; exact `countDistinct` kept for parity-checkable
  *     results.
  *   - Exact double sums route through decimal (see package object) so
  *     results are independent of partition merge order — a correctness
  *     property at ANY cluster size, not just vs the oracle.
  */
object Olap extends QueryModule {

  /** Approximate distinct (HLL++) — the 100 TB path. The sketch itself
    * is engine-internal, so the catalog row CERTIFIES it instead of
    * exposing it: the exact per-group count (oracle-able) rides along
    * and the sketch estimate is emitted only as a within-rsd-bound
    * boolean the oracle pins to `true` (rsd 0.01, slack ×5 — HLL++'s
    * error is ~rsd with overwhelming probability, and the sketch union
    * is register-wise max, so the estimate is deterministic regardless
    * of partition order). Production at 100 TB runs the approx column
    * ALONE (constant memory, mergeable); the co-computed exact count
    * here is the certification harness, not the serving shape. */
  private def approxDistinctQ(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // Pre-dedup (flag, partkey) so exact count and sketch share one
    // pass with NO Expand (mixing countDistinct with a non-distinct
    // agg doubles the shuffled rows via Expand): HLL insertion is
    // idempotent — the sketch over distinct values is bit-identical to
    // the sketch over the raw column — so certifying on the deduped
    // frame certifies the production estimate.
    Tables(spark, dir).lineitem
      .select($"l_returnflag", $"l_partkey").distinct()
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n_parts_exact"),
        approx_count_distinct($"l_partkey", 0.01).as("approx"))
      .select($"l_returnflag", $"n_parts_exact",
        (abs($"approx" - $"n_parts_exact").cast("double")
          <= greatest(lit(1.0), lit(0.05) * $"n_parts_exact"))
          .as("approx_within_5pct"))
      .orderBy($"l_returnflag")
  }

  /** Sketch ROLLUP — the property that makes approximate-distinct the
    * 100 TB path is not the estimate, it's MERGEABILITY: a nightly job
    * folds each day's log into one constant-size HLL sketch
    * (DataSketches binary, `hll_sketch_agg`), the sketch table is
    * persisted as parquet, and every coarser rollup thereafter —
    * weekly/monthly/arbitrary date ranges — is answered from the
    * sketch table ALONE via `hll_union_agg`, never rescanning the raw
    * log (distinct counts don't pre-aggregate; sketches do). This
    * entry runs the full pattern: one log pass → 30 daily sketches →
    * parquet → read back → weekly distinct-user estimates from
    * register-wise-max unions. Certification follows
    * olap_approx_distinct's shape: the exact weekly distinct rides
    * along for the oracle, and the union estimate is emitted only as
    * a within-bound boolean pinned to `true` (HLL union is
    * deterministic regardless of partition/merge order; lgK=12 is
    * exact in sparse mode at fixture cardinalities and ~1.6% rsd
    * dense). The week index is pure integer math on microsecond day
    * indexes — no float, no calendar dependence on either engine. */
  private def sketchRollupQ(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables(spark, dir).events
      .select($"ts".cast("date").as("day"), $"user_id")
    // Stage 1 — the "nightly" build: one map-combined pass over the
    // log, constant bytes per (day, sketch) row, persisted.
    val out = Scalars.materializedSink(spark, dir, "olap_hll_daily") { p =>
      ev.groupBy($"day").agg(hll_sketch_agg($"user_id", 12).as("sk"))
        .write.mode("overwrite").parquet(p)
    }
    val wkOf = expr(
      "(unix_micros(cast(day as timestamp)) - unix_micros(cast(d0 as timestamp)))" +
        " div 604800000000")
    // Stage 2 — serving: the weekly rollup touches ONLY the sketch
    // table (its week base is the sketch table's own min day; the raw
    // log appears below solely as the certification harness).
    val skTable = spark.read.parquet(out)
    // One d0 frame serves both legs: the sketch table holds exactly the
    // event days, so its min(day) IS the log's min(day) — re-deriving
    // it from `ev` would cost a whole extra log scan per run.
    val d0 = broadcast(skTable.agg(min($"day").as("d0")))
    val weekly = skTable
      .crossJoin(d0)
      .withColumn("wk", wkOf)
      .groupBy($"wk")
      .agg(count(lit(1)).as("n_days"),
        hll_sketch_estimate(hll_union_agg($"sk")).as("est"))
    // Certification harness (not the serving shape): exact weekly
    // distincts from the raw log, oracle-recomputable.
    val exact = ev.crossJoin(d0)
      .withColumn("wk", wkOf)
      .groupBy($"wk").agg(countDistinct($"user_id").as("n_users_exact"))
    weekly.join(exact, "wk")
      .select($"wk", $"n_days", $"n_users_exact",
        (abs($"est" - $"n_users_exact").cast("double")
          <= greatest(lit(1.0), lit(0.05) * $"n_users_exact"))
          .as("union_within_5pct"))
      .orderBy($"wk")
  }

  /** Approximate percentiles — the 100 TB companion to
    * `olap_percentiles`: mergeable KLL-style sketches, no per-group
    * sort. The sketch output is engine-internal, so the catalog row is
    * a CERTIFICATION: per group it emits the (oracle-able) row count
    * and, per quantile, a boolean restating the sketch's own rank-error
    * guarantee — the returned value's true rank interval must cover the
    * target rank within ±N·ε at ε = 10/accuracy (slack ×10, tie-robust
    * because the interval test uses both the `<` and `<=` ranks). The
    * ranks are recomputed with one conditional-count pass against the
    * broadcast sketch outputs; the oracle pins the booleans to `true`.
    * Production at 100 TB serves the sketch columns alone. */
  private def approxPctQ(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = Tables(spark, dir).lineitem
    val sk = li.groupBy($"l_returnflag")
      .agg(
        expr("approx_percentile(l_quantity, 0.5, 1000)").as("p50_approx"),
        expr("approx_percentile(l_quantity, 0.9, 1000)").as("p90_approx"))
    li.join(broadcast(sk), Seq("l_returnflag"))
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n_items"),
        first($"p50_approx").as("p50_approx"),
        first($"p90_approx").as("p90_approx"),
        sum(when($"l_quantity" < $"p50_approx", 1L).otherwise(0L)).as("lt50"),
        sum(when($"l_quantity" <= $"p50_approx", 1L).otherwise(0L)).as("le50"),
        sum(when($"l_quantity" < $"p90_approx", 1L).otherwise(0L)).as("lt90"),
        sum(when($"l_quantity" <= $"p90_approx", 1L).otherwise(0L)).as("le90"))
      .select($"l_returnflag", $"n_items",
        ($"lt50".cast("double") <= (lit(0.5) + lit(0.01)) * $"n_items" &&
         $"le50".cast("double") >= (lit(0.5) - lit(0.01)) * $"n_items")
          .as("p50_within_bound"),
        ($"lt90".cast("double") <= (lit(0.9) + lit(0.01)) * $"n_items" &&
         $"le90".cast("double") >= (lit(0.9) - lit(0.01)) * $"n_items")
          .as("p90_within_bound"))
      .orderBy($"l_returnflag")
  }

  /** PIVOT — wide-form conditional aggregation (explicit value list:
    * deterministic output schema, and Spark skips the extra
    * distinct-values job — the right call at scale). */
  private def pivotQ(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir).lineitem
      .groupBy($"l_linestatus")
      .pivot("l_returnflag", Seq("A", "N", "R"))
      .agg(count(lit(1)))
      .orderBy($"l_linestatus")
  }

  /** UNPIVOT (melt) — long-form restatement of wide columns. */
  private def unpivotQ(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir).customer
      .filter($"c_custkey" < 50L)
      .unpivot(Array($"c_custkey"), Array($"c_acctbal", $"c_nationkey".cast("double").as("c_nationkey")),
        "metric", "value")
      .orderBy($"c_custkey", $"metric")
  }

  /** NTILE bucketing — per-segment account-balance quartiles, then
    * per-bucket stats: the "assign every row to a quantile bucket, then
    * profile the buckets" pattern behind score binning and equi-depth
    * histograms. `ntile` is partitioned by segment, so parallelism is
    * |segments| — fine for bounded group counts. A GLOBAL ntile would
    * force all rows into one window partition; at 100 TB compute
    * approx percentile cutpoints first and bucket by comparison
    * instead (`t5_quality_filter` demonstrates exactly that shape). */
  private def ntileQ(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"c_mktsegment").orderBy($"c_acctbal", $"c_custkey")
    Tables(spark, dir).customer
      // .cast("long"): DuckDB's ntile returns BIGINT, Spark's INT — match
      // the oracle's schema (same convention as w5's row_number).
      .withColumn("quartile", ntile(4).over(w).cast("long"))
      .groupBy($"c_mktsegment", $"quartile")
      .agg(count(lit(1)).as("n"),
        min($"c_acctbal").as("lo"),
        max($"c_acctbal").as("hi"),
        davg($"c_acctbal").as("avg_bal"))
      .orderBy($"c_mktsegment", $"quartile")
  }

  /** Per-group moments for olap_regr (olap_corr's text spells the same
    * moments, `sqlQmomentsCte`): EXACT integer moments rather than the
    * builtin `corr`/`regr_*`, whose one-pass float accumulation is
    * partition-order-dependent and engine-divergent. Inputs quantize
    * to 1e-2 units (floor(v·100 + 0.5) — both columns are 2-decimal
    * money/quantity values, verified exact) and the six moments (n, Σx, Σy, Σx²,
    * Σy², Σxy) accumulate as plain BIGINT sums in ONE map-combined
    * pass. Σy² alone would overflow BIGINT (yq² ≤ 1.2e14 × corpus),
    * so it accumulates as TWO limbs — Σ(yq² div 10⁶) and Σ(yq² %
    * 10⁶) — recombined exactly in width-sized DECIMAL at the
    * per-group tail. The final statistic is a fixed order of IEEE
    * ops on bit-identical inputs, rounded to 9 decimals.
    *
    * This replaced the earlier wide-DECIMAL moment sums: Spark's
    * checked 128-bit decimal accumulation measured ~0.35 s PER SUM at
    * sf0.1 (olap_corr ~2.0 s — the top of the whole catalog's bench
    * profile); plain long sums run at hash-aggregate speed
    * (~0.25 s total, 8×). Same shuffle topology either way — partials
    * carry seven longs per group. DECIMAL widths are sized to ≥10×
    * fixture headroom (spelled so p1+p2 ≤ 38 holds in BOTH engines'
    * multiply rules — the warehouse dialect ERRORS past 38 where
    * Spark saturates); a 10¹²-row deployment widens the limbs (three
    * instead of two) and these widths, same plan shape. Quantization
    * cancels in corr (scale-free). */
  private def qmoments(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val xq = floor($"l_quantity" * 100 + 0.5).cast("long")
    val yq = floor($"l_extendedprice" * 100 + 0.5).cast("long")
    Tables(spark, dir).lineitem
      .select($"l_returnflag", xq.as("xq"), yq.as("yq"))
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum($"xq").as("sx"), sum($"yq").as("sy"),
        sum($"xq" * $"xq").as("sxx"),
        sum(expr("(yq * yq) div 1000000")).as("syyh"),
        sum(expr("(yq * yq) % 1000000")).as("syyl"),
        sum($"xq" * $"yq").as("sxy"))
  }

  /** The exact per-group deltas n·Σxx−Σx², n·Σyy−Σy², n·Σxy−ΣxΣy in
    * width-sized decimals (see `qmoments`), cast to double at the end
    * (correctly rounded in both engines). */
  private def qdeltas(m: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.col
    // Width budget, constrained by THREE rules at once: Spark's
    // multiply result precision p1+p2+1 caps at 38 (lossless here —
    // scale 0, values bounded below 10³⁸); the warehouse dialect BINDS
    // only when p1+p2 ≤ 38; and that dialect COMPUTES a multiply in
    // the wider operand's storage class — two ≤dec(18) operands
    // multiply in int64 and overflow at 9.2·10¹⁸ regardless of the
    // declared result width (measured: dec(15)² threw at sf0.01's
    // Σy = 1.06·10¹¹), so every operand whose product can exceed int64
    // is cast to dec(19)+ (int128). Widths: n→dec(11) (10¹¹ rows per
    // group), sx/sy/sxx/sxy→dec(19) (the BIGINT moment bound), the
    // recombined Σy²→dec(25) (≤ 9.2·10²⁴ by the syyh limb's own
    // BIGINT bound). The r11 100× pass overflowed the old dec(20) Σy²
    // at 7.4·10²⁰ — these widths carry ~10⁸ rows PER GROUP exactly
    // (binding cap: the Σxy BIGINT moment); past that, Σxy splits
    // into limbs like Σy² does (the documented third-limb escape).
    val n8 = col("n").cast("decimal(11,0)")
    val syy = col("syyh").cast("decimal(19,0)") * lit(1000000L).cast("decimal(7,0)") +
      col("syyl").cast("decimal(19,0)")
    m.select(col("l_returnflag"), col("n"),
      (n8 * col("sxx").cast("decimal(19,0)")
        - col("sx").cast("decimal(19,0)") * col("sx").cast("decimal(19,0)"))
        .cast("double").as("dxx"),
      (n8 * syy.cast("decimal(25,0)")
        - col("sy").cast("decimal(19,0)") * col("sy").cast("decimal(19,0)"))
        .cast("double").as("dyy"),
      (n8 * col("sxy").cast("decimal(19,0)")
        - col("sx").cast("decimal(19,0)") * col("sy").cast("decimal(19,0)"))
        .cast("double").as("dxy"),
      col("sx").cast("double").as("sxd"),
      col("sy").cast("double").as("syd"))
  }

  /** Least-squares regression per group (slope, intercept, R²) —
    * y = l_extendedprice on x = l_quantity — from the same exact
    * integer moments as olap_corr (the builtin regr_* family shares
    * corr's engine-divergent float accumulation). One map-combined
    * pass of long sums; ratios are fixed-order IEEE ops rounded to 9.
    * Quantization scale cancels in slope and r² (x and y scale by the
    * same 100); the intercept is in 1e-2 units, rescaled by the final
    * /100 — exact, since it folds into the /n division. The moments
    * shape is THE scalable form for any per-group statistic: partials
    * carry seven longs regardless of group size. */
  private def regrQ(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val slope = $"dxy" / $"dxx"
    qdeltas(qmoments(spark, dir))
      .select($"l_returnflag", $"n",
        // round9stable, not round(_, 9): slope/intercept magnitudes reach
        // 1e3-1e5, where the two engines' round implementations can flip
        // the 9th decimal (see the helper's scaladoc).
        // Degenerate-group guard (e10's discipline): zero x-variance (or,
        // for r2, zero y-variance) → NULL like the builtin regr_* family.
        when($"dxx" =!= 0.0, round9stable(slope)).as("slope"),
        when($"dxx" =!= 0.0,
          round9stable(($"syd" - slope * $"sxd") / ($"n" * 100.0))).as("intercept"),
        when($"dxx" =!= 0.0 && $"dyy" =!= 0.0,
          round9stable(($"dxy" * $"dxy") / ($"dxx" * $"dyy"))).as("r2"))
      .orderBy($"l_returnflag")
  }

  private val sumDiscPrice =
    sqlDsum("l_extendedprice * (1.0 - l_discount)")

  /** Shared moment/delta CTE for olap_corr/olap_regr — the quantized
    * BIGINT moments with the Σy² limb split, deltas recombined in
    * width-sized DECIMALs (every multiply keeps p1+p2 ≤ 38, the
    * warehouse dialect's hard cap) and cast to double once. Shared
    * dialect throughout (`divide` is the bridged integer-division
    * spelling), so both texts stay on the verbatim parity surface. */
  private val sqlQmomentsCte =
    """WITH m AS (
      |  SELECT l_returnflag, count(*) AS n,
      |         CAST(sum(xq) AS BIGINT) AS sx, CAST(sum(yq) AS BIGINT) AS sy,
      |         CAST(sum(xq * xq) AS BIGINT) AS sxx,
      |         CAST(sum(divide(yq * yq, 1000000)) AS BIGINT) AS syyh,
      |         CAST(sum((yq * yq) % 1000000) AS BIGINT) AS syyl,
      |         CAST(sum(xq * yq) AS BIGINT) AS sxy
      |  FROM (SELECT l_returnflag,
      |               CAST(floor(l_quantity * 100 + 0.5) AS BIGINT) AS xq,
      |               CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS yq
      |        FROM lineitem) q
      |  GROUP BY l_returnflag),
      |d AS (
      |  SELECT l_returnflag, n,
      |         CAST(CAST(n AS DECIMAL(11,0)) * CAST(sxx AS DECIMAL(19,0))
      |              - CAST(sx AS DECIMAL(19,0)) * CAST(sx AS DECIMAL(19,0))
      |            AS DOUBLE) AS dxx,
      |         CAST(CAST(n AS DECIMAL(11,0))
      |                * CAST(CAST(syyh AS DECIMAL(19,0))
      |                         * CAST(1000000 AS DECIMAL(7,0))
      |                       + CAST(syyl AS DECIMAL(19,0)) AS DECIMAL(25,0))
      |              - CAST(sy AS DECIMAL(19,0)) * CAST(sy AS DECIMAL(19,0))
      |            AS DOUBLE) AS dyy,
      |         CAST(CAST(n AS DECIMAL(11,0)) * CAST(sxy AS DECIMAL(19,0))
      |              - CAST(sx AS DECIMAL(19,0)) * CAST(sy AS DECIMAL(19,0))
      |            AS DOUBLE) AS dxy,
      |         CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd
      |  FROM m)""".stripMargin

  val oracles: Map[String, String] = Map(
    // The approx-sketch entries are CERTIFICATION rows: the exact
    // columns are recomputed by the oracle, and the sketch-accuracy
    // booleans — true exactly when the engine's sketch meets its own
    // published error bound — are pinned to literal `true`. A sketch
    // regression (or a fixture that breaks the bound) flips the
    // boolean on the Spark side and fails the hash compare loudly.
    "olap_approx_distinct" ->
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts_exact,
        |       true AS approx_within_5pct
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    // olap_sketch_rollup: the weekly exact distincts are recomputed by
    // the oracle from the raw log; the sketch-union estimate appears
    // only as its certification boolean (pinned true) — a sketch,
    // union, or parquet-binary-round-trip regression flips it on the
    // Spark side and fails the hash loudly. The week index is integer
    // microsecond math shared by both engines (epoch_us + divide).
    "olap_sketch_rollup" ->
      """WITH m AS (SELECT min(CAST(ts AS DATE)) AS d0 FROM events),
        |     e AS (SELECT divide(epoch_us(CAST(CAST(ts AS DATE) AS TIMESTAMP))
        |                         - epoch_us(CAST((SELECT d0 FROM m) AS TIMESTAMP)),
        |                         604800000000) AS wk,
        |                  CAST(ts AS DATE) AS day, user_id
        |           FROM events)
        |SELECT wk, count(DISTINCT day) AS n_days,
        |       count(DISTINCT user_id) AS n_users_exact,
        |       true AS union_within_5pct
        |FROM e GROUP BY wk ORDER BY wk""".stripMargin,
    "olap_approx_percentiles" ->
      """SELECT l_returnflag, count(*) AS n_items,
        |       true AS p50_within_bound, true AS p90_within_bound
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "olap_corr" ->
      s"""$sqlQmomentsCte
         |SELECT l_returnflag, n,
         |       CASE WHEN dxx <> 0 AND dyy <> 0
         |            THEN round(dxy / sqrt(dxx * dyy), 9)
         |       END AS corr_qty_price
         |FROM d ORDER BY l_returnflag""".stripMargin,
    "olap_regr" ->
      s"""$sqlQmomentsCte
         |SELECT l_returnflag, n,
         |       CASE WHEN dxx <> 0
         |            THEN ${sqlRound9("dxy / dxx")}
         |       END AS slope,
         |       CASE WHEN dxx <> 0
         |            THEN ${sqlRound9("(syd - (dxy / dxx) * sxd) / (n * 100.0)")}
         |       END AS intercept,
         |       CASE WHEN dxx <> 0 AND dyy <> 0
         |            THEN ${sqlRound9("(dxy * dxy) / (dxx * dyy)")}
         |       END AS r2
         |FROM d ORDER BY l_returnflag""".stripMargin,
    "olap_ntile_quartiles" ->
      s"""SELECT c_mktsegment, quartile, count(*) AS n,
         |       min(c_acctbal) AS lo, max(c_acctbal) AS hi,
         |       ${sqlDavg("c_acctbal")} AS avg_bal
         |FROM (
         |  SELECT c_mktsegment, c_acctbal,
         |         ntile(4) OVER (PARTITION BY c_mktsegment
         |                        ORDER BY c_acctbal, c_custkey) AS quartile
         |  FROM customer)
         |GROUP BY c_mktsegment, quartile
         |ORDER BY c_mktsegment, quartile""".stripMargin,
    "olap_histogram" ->
      """SELECT CAST(floor(o_totalprice / 25000.0) AS BIGINT) AS bucket,
        |       count(*) AS n_orders,
        |       min(o_totalprice) AS lo,
        |       max(o_totalprice) AS hi
        |FROM orders GROUP BY 1 ORDER BY bucket""".stripMargin,
    "olap_pivot" ->
      """SELECT l_linestatus,
        |       count(*) FILTER (WHERE l_returnflag = 'A') AS A,
        |       count(*) FILTER (WHERE l_returnflag = 'N') AS N,
        |       count(*) FILTER (WHERE l_returnflag = 'R') AS R
        |FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin,
    "olap_unpivot" ->
      """SELECT c_custkey, metric, value FROM (
        |  SELECT c_custkey, 'c_acctbal' AS metric, c_acctbal AS value FROM customer
        |  UNION ALL
        |  SELECT c_custkey, 'c_nationkey', CAST(c_nationkey AS DOUBLE) FROM customer)
        |WHERE c_custkey < 50
        |ORDER BY c_custkey, metric""".stripMargin,
    "olap_scalar_subquery" ->
      s"""SELECT o_orderkey, o_totalprice
         |FROM orders
         |WHERE o_totalprice > 2 * (SELECT ${sqlDavg("o_totalprice")} FROM orders)
         |ORDER BY o_orderkey""".stripMargin,
    "a7_grouped_agg" ->
      s"""SELECT o_custkey, count(*) AS n_orders,
         |       ${sqlDsum0("o_totalprice")} AS total_spend
         |FROM orders GROUP BY o_custkey ORDER BY o_custkey""".stripMargin,
    "olap_rollup" ->
      s"""SELECT l_returnflag, l_linestatus, count(*) AS n,
         |       ${sqlDsum0("l_quantity")} AS sum_qty
         |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
         |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin,
    "olap_cube" ->
      s"""SELECT o_orderstatus, o_orderpriority, count(*) AS n,
         |       ${sqlDsum0("o_totalprice")} AS sum_price
         |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
         |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin,
    "olap_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin,
    "olap_bool_aggregates" ->
      """SELECT l_returnflag,
        |       bool_and(l_quantity > 0) AS all_positive_qty,
        |       bool_or(l_discount > 0.05) AS any_big_discount,
        |       count(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "olap_string_agg" ->
      """SELECT l_returnflag,
        |       array_to_string(list_sort(list_distinct(list(l_linestatus))), ',')
        |         AS statuses
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "olap_distinct" ->
      """SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "olap_count_distinct" ->
      """SELECT l_returnflag, count(DISTINCT l_suppkey) AS n_suppliers,
        |       count(*) AS n_items
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "set_union" ->
      """SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        |UNION
        |SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'P'
        |ORDER BY custkey""".stripMargin,
    "set_intersect" ->
      """SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        |INTERSECT
        |SELECT o_custkey AS custkey FROM orders
        |ORDER BY custkey""".stripMargin,
    "set_except" ->
      """SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        |EXCEPT
        |SELECT o_custkey AS custkey FROM orders
        |ORDER BY custkey""".stripMargin,
    // q1: the quantized-moment restatement — the four measures are exact
    // 2-decimal values, so BIGINT sums of exact 1e-2/1e-4/1e-6-unit
    // products replace decimal sums (~0.4 s against 1.7 s at sf0.1),
    // with one double conversion per group at the tail.
    "tpch_q1" ->
      """WITH q AS (
        |  SELECT l_returnflag, l_linestatus,
        |         CAST(floor(l_quantity * 100 + 0.5) AS BIGINT) AS qq,
        |         CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS pq,
        |         CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS dq,
        |         CAST(floor(l_tax * 100 + 0.5) AS BIGINT) AS tq
        |  FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'),
        |m AS (
        |  SELECT l_returnflag, l_linestatus,
        |         CAST(sum(qq) AS BIGINT) AS sq, CAST(sum(pq) AS BIGINT) AS sp,
        |         CAST(sum(pq * (100 - dq)) AS BIGINT) AS sdp,
        |         CAST(sum(pq * (100 - dq) * (100 + tq)) AS BIGINT) AS sch,
        |         CAST(sum(dq) AS BIGINT) AS sd,
        |         count(*) AS count_order
        |  FROM q GROUP BY l_returnflag, l_linestatus)
        |SELECT l_returnflag, l_linestatus,
        |       CAST(sq AS DOUBLE) / 100.0 AS sum_qty,
        |       CAST(sp AS DOUBLE) / 100.0 AS sum_base_price,
        |       CAST(sdp AS DOUBLE) / 10000.0 AS sum_disc_price,
        |       CAST(sch AS DOUBLE) / 1000000.0 AS sum_charge,
        |       CAST(sq AS DOUBLE) / 100.0 / count_order AS avg_qty,
        |       CAST(sp AS DOUBLE) / 100.0 / count_order AS avg_price,
        |       CAST(sd AS DOUBLE) / 100.0 / count_order AS avg_disc,
        |       count_order
        |FROM m ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "tpch_q3" ->
      s"""SELECT l_orderkey, o_orderdate, o_orderpriority,
         |       $sumDiscPrice AS revenue
         |FROM customer
         |JOIN orders ON c_custkey = o_custkey
         |JOIN lineitem ON o_orderkey = l_orderkey
         |WHERE c_mktsegment = 'BUILDING'
         |  AND o_orderdate < TIMESTAMP '1996-03-15'
         |  AND l_shipdate > TIMESTAMP '1996-03-15'
         |GROUP BY l_orderkey, o_orderdate, o_orderpriority
         |ORDER BY revenue DESC, o_orderdate, l_orderkey
         |LIMIT 10""".stripMargin,
    "tpch_q6" ->
      s"""SELECT ${sqlDsum0("l_extendedprice * l_discount")} AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount >= 0.05 AND l_discount <= 0.07
        |  AND l_quantity < 24""".stripMargin)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "olap_regr"             -> (regrQ _),
    "olap_corr"             -> SqlProgram(oracles("olap_corr")),
    "olap_ntile_quartiles"  -> (ntileQ _),
    "olap_histogram"        -> SqlProgram(oracles("olap_histogram")),
    "olap_pivot"            -> (pivotQ _),
    "olap_unpivot"          -> (unpivotQ _),
    "olap_scalar_subquery"  -> SqlProgram(oracles("olap_scalar_subquery")),
    "a7_grouped_agg"        -> SqlProgram(oracles("a7_grouped_agg")),
    "olap_rollup"           -> SqlProgram(oracles("olap_rollup")),
    "olap_cube"             -> SqlProgram(oracles("olap_cube")),
    "olap_grouping_sets"    -> SqlProgram(oracles("olap_grouping_sets")),
    "olap_bool_aggregates"  -> SqlProgram(oracles("olap_bool_aggregates")),
    "olap_string_agg"       -> SqlProgram(oracles("olap_string_agg")),
    "olap_approx_percentiles" -> (approxPctQ _),
    "olap_distinct"         -> SqlProgram(oracles("olap_distinct")),
    "olap_count_distinct"   -> SqlProgram(oracles("olap_count_distinct")),
    "olap_approx_distinct"  -> (approxDistinctQ _),
    "olap_sketch_rollup"    -> (sketchRollupQ _),
    "set_union"             -> SqlProgram(oracles("set_union")),
    "set_intersect"         -> SqlProgram(oracles("set_intersect")),
    "set_except"            -> SqlProgram(oracles("set_except")),
    "tpch_q1"               -> SqlProgram(oracles("tpch_q1")),
    "tpch_q3"               -> SqlProgram(oracles("tpch_q3")),
    "tpch_q6"               -> SqlProgram(oracles("tpch_q6")))
}
