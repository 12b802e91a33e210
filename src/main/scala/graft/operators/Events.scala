package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** M5 — event-stream analytics, batch formulations (SURVEY.md §2.9,
  * §7.2 M5). The reference's only stream is the notifications feed —
  * insert (index.js:60) + poll-newest-first (index.js:229-232); the
  * `events` fixture generalizes it. Every query here is the batch
  * formulation (the DuckDB oracle can't replay streams); the Structured
  * Streaming forms — same expressions over `readStream` with
  * `withWatermark` — live in `graft.streaming` and are exercised by
  * ScalaTest with MemoryStream sources.
  *
  * Scale notes:
  *   - Window aggregation groups by (derived window, key): one shuffle,
  *     partial+final hash agg. Tumbling windows assign each row once;
  *     sliding (size s, slide p) replicates each row s/p times BEFORE the
  *     shuffle — keep s/p small at 100 TB.
  *   - Window starts are emitted as epoch seconds (BIGINT), not
  *     timestamps: portable across engines and immune to µs/ns and
  *     timezone representation drift.
  *   - JSON extraction (`get_json_object`) is a codegen'd expression over
  *     the string column — no UDF, stays inside WholeStageCodegen.
  */
object Events extends QueryModule {

  /** Tumbling 5-minute windows per event_type. */
  private def e3(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir).events
      .groupBy(window($"ts", "5 minutes").as("w"), $"event_type")
      .agg(count(lit(1)).as("n"), dsum0($"value").as("sum_value"))
      .select(unix_timestamp($"w.start").as("window_start"), $"event_type",
        $"n", $"sum_value")
      .orderBy($"window_start", $"event_type")
  }

  /** Sliding windows: 10-minute size, 5-minute slide (each event lands in
    * exactly 2 windows). */
  private def e4(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir).events
      .groupBy(window($"ts", "10 minutes", "5 minutes").as("w"))
      .agg(count(lit(1)).as("n"), dsum0($"value").as("sum_value"))
      .select(unix_timestamp($"w.start").as("window_start"), $"n", $"sum_value")
      .orderBy($"window_start")
  }

  /** Session windows per user, 10-minute gap: a new session starts when
    * the gap since the previous event is >= the timeout (Spark's
    * half-open [first, last+gap) semantics). */
  private def e5(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir).events
      .groupBy(session_window($"ts", "10 minutes").as("w"), $"user_id")
      .agg(count(lit(1)).as("n"), dsum0($"value").as("sum_value"))
      .select($"user_id", unix_micros($"w.start").as("session_start_us"),
        $"n", $"sum_value")
      .orderBy($"user_id", $"session_start_us")
  }

  /** e7 — AS-OF join (composed, SURVEY §2.3 note / builder-prompt
    * custom-operator list, preference (a): built-in composition): each
    * purchase enriched with the user's most recent STRICTLY PRIOR click.
    * The classic formulation joins two streams on key + nearest-earlier
    * timestamp; over a single unioned event log it reduces to
    * `last(..., ignoreNulls) OVER (... ROWS UNBOUNDED PRECEDING TO 1
    * PRECEDING)` — one shuffle on the key, one per-key sort, no range
    * join explosion. At 100 TB this beats a theta-join formulation
    * (which Spark would plan as a broadcast-nested-loop) by orders of
    * magnitude; for two separately-stored streams, union-then-window is
    * still the scalable shape. */
  private def e7(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables(spark, dir).events
      .withColumn("prior_click_ts",
        last(when($"event_type" === "click", $"ts"), ignoreNulls = true).over(w))
      .withColumn("prior_click_value",
        last(when($"event_type" === "click", $"value"), ignoreNulls = true).over(w))
      .filter($"event_type" === "purchase")
      .select($"user_id", $"event_id", $"ts", $"value",
        $"prior_click_ts", $"prior_click_value")
      .orderBy($"user_id", $"event_id")
  }

  /** w6 — SCD2 interval build: the event log restated as a slowly-
    * changing dimension — per user, each event opens a state version
    * valid [ts, next event's ts), the last version open-ended
    * (valid_to NULL, is_current). The standard warehouse history-table
    * construction, here via one window `lead` — a single shuffle on the
    * key, per-key sort, no self-join. At 100 TB the partition key is
    * the dimension key, so version chains never cross executors. */
  private def w6(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    Tables(spark, dir).events
      .select($"user_id", $"event_id", $"event_type".as("state"),
        $"ts".as("valid_from"), lead($"ts", 1).over(w).as("valid_to"))
      .withColumn("is_current", $"valid_to".isNull)
      .orderBy($"user_id", $"valid_from", $"event_id")
  }

  /** e8 — ordered funnel (view → click → purchase): how many users
    * complete each stage IN ORDER. The classic product-analytics
    * operator; naive formulations are per-stage self-joins (3 shuffles
    * of the log + join explosion on repeated events). Here the funnel
    * is a running state machine over ONE user-keyed window: the
    * earliest view so far marks stage 1; a click at-or-after it marks
    * stage 2; a purchase at-or-after that completes. Both window passes
    * share the same (partition, order) spec, so Spark plans ONE
    * shuffle + ONE per-user sort for the whole funnel; the counts are
    * a map-side-combined aggregate on top. At 100 TB: shuffle the log
    * once by user, never join it against itself. */
  private def e8(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val flag = (c: Column) => max(when(c, 1).otherwise(0))
    val perUser = Tables(spark, dir).events
      .withColumn("first_view_ts",
        min(when($"event_type" === "view", $"ts")).over(w))
      .withColumn("first_qc_ts",
        min(when($"event_type" === "click" && $"first_view_ts".isNotNull, $"ts")).over(w))
      .groupBy($"user_id")
      .agg(
        flag($"event_type" === "view").as("has_view"),
        flag($"event_type" === "click" && $"first_view_ts".isNotNull).as("has_click"),
        flag($"event_type" === "purchase" && $"first_qc_ts".isNotNull).as("has_purchase"))
    perUser.agg(
        sum($"has_view").as("n_view"),
        sum($"has_click").as("n_view_click"),
        sum($"has_purchase").as("n_full_funnel"))
      .select($"n_view", $"n_view_click", $"n_full_funnel",
        ($"n_view_click".cast("double") / $"n_view".cast("double")).as("click_rate"),
        ($"n_full_funnel".cast("double") / $"n_view_click".cast("double")).as("purchase_rate"))
  }

  /** e9 — cohort retention triangle: users cohorted by their FIRST
    * PURCHASE day, then for each (cohort, week-offset) cell, how many of
    * that cohort were active (any event) that week. The standard growth-
    * analytics matrix; naive formulations self-join the log against its
    * own firsts (two fact shuffles + join). Here the cohort day rides a
    * user-partitioned window min — the log shuffles ONCE on user_id —
    * then (user, cohort, week) cells dedup and count in ordinary
    * map-side-combined aggregates over the (already small) cell space.
    * At 100 TB: shuffle the log once by user; never join it to itself. */
  private def e9(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id")
    Tables(spark, dir).events
      .withColumn("cohort_day",
        min(when($"event_type" === "purchase", to_date($"ts"))).over(w))
      .filter($"cohort_day".isNotNull && to_date($"ts") >= $"cohort_day")
      .select($"user_id", $"cohort_day",
        floor(datediff(to_date($"ts"), $"cohort_day") / 7).as("week_offset"))
      .distinct()
      .groupBy($"cohort_day", $"week_offset")
      .agg(count(lit(1)).as("n_users"))
      .orderBy($"cohort_day", $"week_offset")
  }

  /** e11 — per-user inter-arrival profile: gaps between consecutive
    * events via one user-window lag, then per-user mean/max in the
    * same shuffle's aggregate. The session-analysis primitive under
    * timeout tuning (e5's session gap) and bot detection (machine-like
    * uniform gaps). Gap arithmetic is exact integer microseconds
    * (unix_micros, never float seconds) until the final display
    * division; one fact shuffle on user_id total. */
  private def e11(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"t_us", $"event_id")
    Tables(spark, dir).events
      .select($"user_id", $"event_id",
        unix_micros($"ts").as("t_us"))
      .withColumn("gap_us", $"t_us" - lag($"t_us", 1).over(w))
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_events"),
        count($"gap_us").as("n_gaps"),
        // Exact long sum, then one fixed division chain — avg() would
        // accumulate in engine-specific order. The mean rounds at
        // INTEGER-microsecond scale, then converts to seconds: rounding
        // at 6 decimals of seconds made DuckDB multiply the quotient
        // back by 1e6 inside its round (two extra IEEE roundings vs
        // Spark's exact-BigDecimal round), and at sf0.1 one user's mean
        // landed close enough to a half-µs boundary to flip the last
        // digit between engines. Scale-0 round has no multiply error:
        // both engines round the SAME double, so they cannot disagree;
        // µs resolution equals the previous 6-decimals-of-seconds.
        (round(sum($"gap_us").cast("double") / count($"gap_us"), 0) / 1e6)
          .as("mean_gap_s"),
        (max($"gap_us").cast("double") / 1e6).as("max_gap_s"))
      .orderBy($"user_id")
  }

  /** e12 — event-transition matrix: per-user consecutive event-type
    * pairs → corpus-wide transition counts and row-normalized
    * probabilities (the Markov "user journey" primitive behind funnel
    * discovery and next-action prediction). One user-keyed window for
    * the lag pair, one map-combined count on the (prev, next) key —
    * the transition key space is |event_types|², tiny at any log
    * size. The row-normalizer (per-prev totals) rides a window OVER
    * THE AGGREGATE (group-count-sized input, not the log; the
    * catalog-wide plan spec allows exactly this shape). Probability
    * is one long-ratio division rounded to 6 — both sides exact
    * integers, so engines cannot diverge. */
  private def e12(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    Tables(spark, dir).events
      .select($"user_id", $"ts", $"event_id", $"event_type")
      .withColumn("prev_type", lag($"event_type", 1).over(w))
      .filter($"prev_type".isNotNull)
      .groupBy($"prev_type", $"event_type".as("next_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("p",
        round($"n".cast("double")
          / sum($"n").over(Window.partitionBy($"prev_type")).cast("double"), 6))
      .orderBy($"prev_type", $"next_type")
  }

  /** e13 — DAU / WAU engagement: per day, the distinct active users
    * that day and over the trailing 7 days, plus the stickiness ratio
    * (DAU/WAU — the product-analytics staple). COUNT DISTINCT over a
    * sliding RANGE is the one moving aggregate window frames cannot
    * express (distinct doesn't decompose over frame slides); the
    * scalable shape is: dedup the log to (day, user) pairs FIRST
    * (|users|·|days| rows, orders of magnitude below the event log),
    * then a broadcast range-join of the pairs against the day dim and
    * one grouped distinct per day. Scale: the event log is touched
    * once (the dedup shuffle); the range join replicates each pair to
    * ≤ 7 days against a broadcast |days|-row dim — never a
    * self-joined log. */
  /** e13's deduped (day, user) pairs, persisted ONCE per (session, dir)
    * — repeated catalog passes reuse the same cache entry instead of
    * accumulating duplicates (ADVICE r5; Dedup.cachedShingleHashes'
    * pattern). The frame feeds three plan subtrees (days dim, DAU,
    * WAU), which is why it is cached at all. */
  private val pairsCacheMemo =
    new java.util.concurrent.ConcurrentHashMap[(String, String), DataFrame]()
  private def cachedDayUserPairs(spark: SparkSession, dir: String): DataFrame = {
    val app = spark.sparkContext.applicationId
    evictOtherDirs(pairsCacheMemo, app, dir)(Seq(_))
    pairsCacheMemo.computeIfAbsent((app, dir),
      _ => checkpointed(Tables(spark, dir).events
        .select(to_date(col("ts")).as("d"), col("user_id")).distinct()))
  }

  private def e13(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val pairs = cachedDayUserPairs(spark, dir)
    val days = pairs.select($"d".as("day")).distinct()
    val dau = pairs.groupBy($"d".as("day"))
      .agg(countDistinct($"user_id").as("dau"))
    val wau = pairs.join(broadcast(days),
        datediff($"day", $"d").between(0, 6))
      .groupBy($"day").agg(countDistinct($"user_id").as("wau"))
    dau.join(wau, Seq("day"))
      .select($"day", $"dau", $"wau",
        round($"dau".cast("double") / $"wau", 6).as("stickiness"))
      .orderBy($"day")
  }

  /** e14 — marketing attribution: for every purchase, the FIRST-touch
    * and LAST-touch channel (click/view) within a 7-day lookback,
    * rolled up to a (first, last) transition matrix — the
    * multi-touch-attribution primitive (first-touch and last-touch are
    * the two canonical single-touch models; U-shaped interpolates).
    *
    * Shape: ONE pass over the log — a per-user window ordered by exact
    * epoch-micros with a RANGE frame of 604,800,000,000 µs. The touch
    * candidate is `when(marketing, struct(us, eid, ch))`: min() of the
    * struct over the frame IS the earliest touch (struct comparison is
    * field-lexicographic, us first; eid makes same-microsecond ties a
    * total order in both engines), max() the latest; non-marketing
    * rows contribute NULL, which min/max skip, and a touchless window
    * coalesces to 'none'. No self-join of the log, no collect; the
    * one shuffle is the per-user window partition (the e6/e10 shape —
    * user cardinality scales with the log, so partitions stay small;
    * a mega-user is the j8 salting case). Exactness: epoch micros are
    * integers, counts are longs — no float anywhere. */
  private def e14(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables(spark, dir).events
      .select($"user_id", unix_micros($"ts").as("us"), $"event_type", $"event_id")
    val touch = when($"event_type".isin("click", "view"),
      struct($"us", $"event_id".as("eid"), $"event_type".as("ch")))
    val w = Window.partitionBy($"user_id").orderBy($"us")
      .rangeBetween(-604800000000L, Window.currentRow)
    val out = ev
      .withColumn("ft", min(touch).over(w))
      .withColumn("lt", max(touch).over(w))
      .filter($"event_type" === "purchase")
      .select(coalesce($"ft.ch", lit("none")).as("first_touch"),
        coalesce($"lt.ch", lit("none")).as("last_touch"))
      .groupBy($"first_touch", $"last_touch").agg(count(lit(1)).as("n"))
    presentSorted(out, $"first_touch", $"last_touch")
  }

  /** e15 — trailing-window anomaly detection over the daily event
    * series: flag a day whose count deviates from its trailing 7-day
    * baseline by more than 2 sample standard deviations — the ops
    * monitor every event pipeline runs (drop = ingestion outage, spike
    * = bot flood or replay).
    *
    * Determinism discipline (the g1/t18 signature move): the z-test is
    * ALGEBRAICALLY CLEARED OF DIVISION — with k=7 baseline days,
    * S=Σn, Q=Σn², flag ⟺ (k−1)·(k·x−S)² > 4·k·(k·Q−S²) — so the whole
    * detector is BIGINT comparisons; no float exists for engines to
    * disagree on, and the oracle states the identical inequality. Days
    * without a full 7-day history never flag (k=7 guard; three-valued
    * logic keeps the first days' NULL window sums harmlessly false).
    *
    * Scale: the daily rollup is one map-combined aggregate; the window
    * runs over |days| rows (~30 here) — a single-task sort, correct at
    * any corpus size because the SERIES length, not the event volume,
    * bounds it. Multi-tenant deployments add the tenant key to both
    * the groupBy and the window partition; counts near 2³¹/k per day
    * would widen the cleared inequality to DECIMAL. */
  private def e15(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val daily = Tables(spark, dir).events
      .groupBy(date_trunc("day", $"ts").cast("date").as("day"))
      .agg(count(lit(1)).as("n_events"))
    val w = Window.orderBy($"day").rowsBetween(-7, -1)
    val kx = lit(7) * $"n_events" - $"s"
    daily
      .withColumn("s", sum($"n_events").over(w))
      .withColumn("q", sum($"n_events" * $"n_events").over(w))
      .withColumn("k", count(lit(1)).over(w))
      .select($"day", $"n_events", $"k".as("base_days"),
        ($"k" === 7 && lit(6) * kx * kx > lit(28) * (lit(7) * $"q" - $"s" * $"s"))
          .as("is_anomaly"))
      .orderBy($"day")
  }

  /** e16 — sessionized PATH analysis: the top-10 most common in-session
    * event-type sequences ("view>click>purchase") — the product-analytics
    * operator behind funnels-you-didn't-predefine (Amplitude "Pathfinder"
    * class), and the navigation-pattern mining a training pipeline runs
    * over interaction logs.
    *
    * Sessions are gaps-and-islands (10-minute inactivity gap, e5's
    * threshold): brk = lag-gap test, session_idx = running sum of brk —
    * two window passes over ONE per-user shuffle. The per-session
    * sequence is then assembled ORDER-DETERMINISTICALLY with the e14
    * sort-key idiom: each event packs into a fixed-width
    * (us, event_id)-prefixed string, the session's set is
    * array_sort'ed (total order — no reliance on collect_list's
    * arrival order, which is plan-dependent), and the type suffixes
    * join into the path. The whole operator is expressible in BOTH
    * engines' shared dialect — the sort-key pack moves ordered list
    * aggregation (classically an ORDER-BY-inside-aggregate spelling,
    * off the parity surface) ONTO it.
    *
    * Scale: one shuffle keyed by user (the e6/e14 shape), one keyed by
    * (user, session) — both partition-count-bounded; the top-10 rollup
    * is a map-combined count over path strings. A mega-session (bot
    * firing for hours inside one gap window) bounds the packed array —
    * cap events-per-session before the collect in that regime (t11's
    * cap discipline). */
  private def e16(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables(spark, dir).events
      .select($"user_id", unix_micros($"ts").as("us"), $"event_id", $"event_type")
    val wo = Window.partitionBy($"user_id").orderBy($"us", $"event_id")
    val wrun = wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val gap = $"us" - lag($"us", 1).over(wo)
    val packed = concat(
      lpad($"us".cast("string"), 20, "0"),
      lpad($"event_id".cast("string"), 20, "0"), $"event_type")
    val paths = ev
      .withColumn("brk",
        when(lag($"us", 1).over(wo).isNull || gap > 600000000L, 1L).otherwise(0L))
      .withColumn("session_idx", sum($"brk").over(wrun))
      .groupBy($"user_id", $"session_idx")
      .agg(array_join(
        transform(array_sort(collect_list(packed)),
          x => x.substr(lit(41), length(x) - 40)), ">").as("path"))
      .groupBy($"path").agg(count(lit(1)).as("n_sessions"))
    // Top-10 via orderBy+limit → TakeOrderedAndProject: per-partition
    // top-k merged on the driver, never a single-task sort of the
    // |distinct paths| frame (data-proportional — most long sessions
    // have unique paths, so a global rank window here was the
    // catalog's one remaining data-sized one-reducer sort: measured
    // 15.7 s at 10× events before, 2.9 s after, identical rows). The
    // rank window then runs over ten rows.
    val wr = Window.orderBy($"n_sessions".desc, $"path")
    paths.orderBy($"n_sessions".desc, $"path").limit(10)
      .withColumn("rank", row_number().over(wr).cast("long"))
      .select($"rank", $"path", $"n_sessions")
      .orderBy($"rank")
  }

  /** e17 — RFM segmentation (Recency / Frequency / Monetary, the
    * marketing-analytics staple since Hughes 1994): per purchasing
    * user, quartile scores for how recently they bought (R), how
    * often (F), and how much (M), mapped through a fixed rule table
    * to named segments (champion / at_risk / promising / loyal /
    * big_spender / regular) and rolled up to segment sizes + value.
    *
    * Scoring is CUTPOINT-based (t5/t21's broadcast-percentile
    * discipline): the three quartile boundaries per dimension are one
    * grouping-free `percentile` aggregate — a map-combined scalar, no
    * global sort anywhere in the plan — broadcast into a pure
    * comparison score `1 + (v>q1) + (v>q2) + (v>q3)`. This replaces
    * the earlier `ntile(4)` rank tiling, the catalog's last global
    * one-reducer window at scale (three single-task sorts of the
    * |users|-sized rollup at 1e9 users); value scoring is also the
    * better RFM semantics — users with identical behavior now land in
    * the same tier instead of being split by an id tie-break, at the
    * cost of tier sizes tracking the value distribution rather than
    * being forced quarters (heavy ties collapse adjacent tiers — the
    * marketing-standard behavior for discrete F counts).
    *
    * Exact `percentile` keeps per-DISTINCT-VALUE counts, so each
    * scored dimension is QUANTIZED to a corpus-independent domain
    * (t5's state-bound discipline, enforced by the PlanSpec walk):
    * R is the recency DAY index (round(last_us/86400e6) — days are
    * calendar-proportional, and day granularity is the RFM-standard
    * anyway), F is the raw purchase count (d distinct count values
    * over N purchases satisfy d(d+1)/2 ≤ N, so state is O(√N) —
    * provably sub-linear without any rounding), and M rounds the
    * exact decimal sum to CENTS (distinct values ≤ the price range
    * in cents — a value-domain bound like m5's payload lengths, not
    * a cardinality bound). The segment-value rollup keeps the
    * unrounded decimal sum.
    *
    * Exactness across engines: quantization is decimal/scale-0
    * rounding (exact, HALF_UP both engines), every dimension is then
    * scored in DOUBLE, so Spark's `percentile` and the oracle's
    * `percentile_cont WITHIN GROUP` interpolate the identical sorted
    * double sequence with the identical (n-1)·p rule — bit-equal
    * cutpoints (t5 established the cross-engine guarantee), and the
    * score comparisons are then double-vs-double on both sides. The
    * CASE precedence chain is spelled identically in both engines. */
  private def e17(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val p = Tables(spark, dir).events
      .filter($"event_type" === "purchase")
      .groupBy($"user_id")
      .agg(round(max(unix_micros($"ts")) / lit(86400e6), 0).as("r_v"),
        count(lit(1)).cast("double").as("f_v"),
        coalesce(round(sum($"value".cast(org.apache.spark.sql.types.DecimalType(18, 6))), 2)
          .cast("double"), lit(0.0)).as("m_v"),
        dsum0($"value").as("monetary"))
    val cuts = p.agg(
      percentile($"r_v", lit(0.25)).as("rq1"), percentile($"r_v", lit(0.5)).as("rq2"),
      percentile($"r_v", lit(0.75)).as("rq3"),
      percentile($"f_v", lit(0.25)).as("fq1"), percentile($"f_v", lit(0.5)).as("fq2"),
      percentile($"f_v", lit(0.75)).as("fq3"),
      percentile($"m_v", lit(0.25)).as("mq1"), percentile($"m_v", lit(0.5)).as("mq2"),
      percentile($"m_v", lit(0.75)).as("mq3"))
    def score(v: Column, q1: Column, q2: Column, q3: Column): Column =
      lit(1) + (v > q1).cast("int") + (v > q2).cast("int") + (v > q3).cast("int")
    val s = p.crossJoin(broadcast(cuts))
      .withColumn("r_s", score($"r_v", $"rq1", $"rq2", $"rq3"))
      .withColumn("f_s", score($"f_v", $"fq1", $"fq2", $"fq3"))
      .withColumn("m_s", score($"m_v", $"mq1", $"mq2", $"mq3"))
    val seg = s.select(
      when($"r_s" === 4 && $"f_s" === 4 && $"m_s" === 4, "champion")
        .when($"r_s" <= 1 && $"f_s" >= 3, "at_risk")
        .when($"r_s" === 4 && $"f_s" <= 2, "promising")
        .when($"f_s" >= 3, "loyal")
        .when($"m_s" === 4, "big_spender")
        .otherwise("regular").as("segment"),
      $"monetary")
    seg.groupBy($"segment")
      .agg(count(lit(1)).as("n_users"), dsum0($"monetary").as("sum_monetary"))
      .orderBy($"segment")
  }

  /** e19 — A/B experiment readout: the two-proportion z-test every
    * product-analytics stack runs on an experiment flag. Users split
    * into deterministic variants (user_id parity — the hash-bucket
    * assignment real experimentation systems use), conversion = the
    * user made at least one PREMIUM purchase (value ≥ 180 — every
    * fixture user purchases at least once, so the plain-purchase goal
    * is vacuously 100% and discriminates nothing; the premium goal
    * converts ~28% of users), and the readout is the per-variant
    * exposure/conversion counts plus the |z| > 1.96 significance
    * verdict at α=0.05.
    *
    * Cross-engine exactness: e15's clear-the-division-to-BIGINT move
    * does NOT work here — the multiplied-out form 625·N·(c₁n₂−c₂n₁)²
    * grows as n⁵ and leaves int64 near n≈3000 users (and chained
    * DECIMAL(38) multiplies exceed the warehouse engine's width-sum
    * rule). Instead the verdict squares the textbook statistic in
    * DOUBLE with an IDENTICAL expression tree on both engines:
    *   (p₁−p₂)² > 3.8416 · p̂(1−p̂) · (1/n₁ + 1/n₂),  p̂ = C/N
    * — every operation is a single correctly-rounded IEEE op on
    * exactly-representable integer inputs (integer/integer division
    * is double on both engines), so the two engines produce
    * bit-identical doubles and the SAME boolean at any data size.
    * Scale: one map-combined per-user aggregate (the only shuffle,
    * keyed by user), then a single-row conditional aggregate — the
    * readout is O(1) state regardless of log size. */
  private def e19(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val perUser = Tables(spark, dir).events
      .groupBy($"user_id")
      .agg(coalesce(max(when($"event_type" === "purchase" && $"value" >= 180.0, 1L)),
        lit(0L)).as("converted"))
      .withColumn("variant", when(pmod($"user_id", lit(2)) === 0, "A").otherwise("B"))
    val row = perUser.agg(
      countIf($"variant" === "A").as("n_a"),
      coalesce(sum(when($"variant" === "A", $"converted")), lit(0L)).as("c_a"),
      countIf($"variant" === "B").as("n_b"),
      coalesce(sum(when($"variant" === "B", $"converted")), lit(0L)).as("c_b"))
    // Expression tree mirrored CHARACTER-FOR-CHARACTER in the oracle:
    // same ops, same order → bit-identical doubles on both engines.
    row.select($"n_a", $"c_a", $"n_b", $"c_b",
      ((($"c_a" / $"n_a" - $"c_b" / $"n_b") * ($"c_a" / $"n_a" - $"c_b" / $"n_b"))
        > lit(3.8416)
          * (($"c_a" + $"c_b") / ($"n_a" + $"n_b"))
          * (lit(1.0) - ($"c_a" + $"c_b") / ($"n_a" + $"n_b"))
          * (lit(1.0) / $"n_a" + lit(1.0) / $"n_b")).as("significant_95"))
  }

  val oracles: Map[String, String] = Map(
    // e19: the whole readout restated — per-user conversion rollup,
    // parity variant split, and the squared two-proportion z-test with
    // the IDENTICAL double expression tree (each op a single
    // correctly-rounded IEEE op on exact integer inputs, so the
    // boolean can never flip between engines).
    "e19_ab_test" ->
      """WITH u AS (
        |  SELECT user_id,
        |         coalesce(max(CASE WHEN event_type = 'purchase' AND value >= 180.0
        |                           THEN 1 END), 0) AS converted,
        |         CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS variant
        |  FROM events GROUP BY user_id),
        |r AS (
        |  SELECT count(CASE WHEN variant = 'A' THEN 1 END) AS n_a,
        |         coalesce(CAST(sum(CASE WHEN variant = 'A' THEN converted END)
        |                       AS BIGINT), 0) AS c_a,
        |         count(CASE WHEN variant = 'B' THEN 1 END) AS n_b,
        |         coalesce(CAST(sum(CASE WHEN variant = 'B' THEN converted END)
        |                       AS BIGINT), 0) AS c_b
        |  FROM u)
        |SELECT n_a, c_a, n_b, c_b,
        |       ((c_a / n_a - c_b / n_b) * (c_a / n_a - c_b / n_b))
        |        > 3.8416
        |          * ((c_a + c_b) / (n_a + n_b))
        |          * (1.0 - (c_a + c_b) / (n_a + n_b))
        |          * (1.0 / n_a + 1.0 / n_b) AS significant_95
        |FROM r""".stripMargin,
    // First/last touch via min/max over a FIXED-WIDTH SORT KEY: the
    // former struct form ordered by (us, eid, ch), but anonymous-struct
    // spellings have no Spark∩DuckDB overlap (struct_pack vs
    // named_struct) — so the triple is instead encoded as
    // lpad(us,20)‖lpad(eid,20)‖ch, whose lexicographic order equals the
    // tuple order exactly (both numerics are non-negative and
    // zero-padded to fixed width; ch only breaks (us,eid) ties, which
    // cannot occur — event_id is unique). substr(key, 41) recovers the
    // channel. One text, runs verbatim on both engines: e14 joins the
    // parity surface. epoch_us(ts) = Spark's unix_micros under the UTC
    // session. The engine's DataFrame program keeps the typed
    // min/max(struct) kernel — same total order, same result.
    // e15: identical division-free inequality over identical window
    // frames; the casts keep DuckDB's widened sums at BIGINT.
    "e15_count_anomaly" ->
      """WITH daily AS (
        |  SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
        |         CAST(count(*) AS BIGINT) AS n_events
        |  FROM events GROUP BY 1),
        |w AS (
        |  SELECT day, n_events,
        |    CAST(sum(n_events) OVER
        |      (ORDER BY day ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS BIGINT) AS s,
        |    CAST(sum(n_events * n_events) OVER
        |      (ORDER BY day ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS BIGINT) AS q,
        |    CAST(count(*) OVER
        |      (ORDER BY day ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS BIGINT) AS k
        |  FROM daily)
        |SELECT day, n_events, k AS base_days,
        |       (k = 7 AND 6 * (7 * n_events - s) * (7 * n_events - s)
        |          > 28 * (7 * q - s * s)) AS is_anomaly
        |FROM w ORDER BY day""".stripMargin,
    // e17: identical per-user rollup and CASE precedence chain.
    // Quartile CUTPOINTS (percentile_cont WITHIN GROUP — the ordered-set
    // syntax both engines parse) broadcast into comparison scoring; every
    // dimension is quantized (recency→day index, monetary→exact-decimal
    // cents) then scored in DOUBLE so both engines interpolate and
    // compare the identical IEEE sequence. See e17's scaladoc.
    "e17_rfm_segments" ->
      s"""WITH p AS (
         |  SELECT user_id, round(max(epoch_us(ts)) / 86400000000.0, 0) AS r_v,
         |         CAST(count(*) AS DOUBLE) AS f_v,
         |         coalesce(CAST(round(sum(CAST(value AS DECIMAL(18,6))), 2)
         |                       AS DOUBLE), 0.0) AS m_v,
         |         ${sqlDsum0("value")} AS monetary
         |  FROM events WHERE event_type = 'purchase' GROUP BY user_id),
         |cuts AS (
         |  SELECT percentile_cont(0.25) WITHIN GROUP (ORDER BY r_v) AS rq1,
         |         percentile_cont(0.5)  WITHIN GROUP (ORDER BY r_v) AS rq2,
         |         percentile_cont(0.75) WITHIN GROUP (ORDER BY r_v) AS rq3,
         |         percentile_cont(0.25) WITHIN GROUP (ORDER BY f_v) AS fq1,
         |         percentile_cont(0.5)  WITHIN GROUP (ORDER BY f_v) AS fq2,
         |         percentile_cont(0.75) WITHIN GROUP (ORDER BY f_v) AS fq3,
         |         percentile_cont(0.25) WITHIN GROUP (ORDER BY m_v) AS mq1,
         |         percentile_cont(0.5)  WITHIN GROUP (ORDER BY m_v) AS mq2,
         |         percentile_cont(0.75) WITHIN GROUP (ORDER BY m_v) AS mq3
         |  FROM p),
         |s AS (
         |  SELECT user_id, monetary,
         |         1 + CAST(r_v > rq1 AS INT) + CAST(r_v > rq2 AS INT)
         |           + CAST(r_v > rq3 AS INT) AS r_s,
         |         1 + CAST(f_v > fq1 AS INT) + CAST(f_v > fq2 AS INT)
         |           + CAST(f_v > fq3 AS INT) AS f_s,
         |         1 + CAST(m_v > mq1 AS INT) + CAST(m_v > mq2 AS INT)
         |           + CAST(m_v > mq3 AS INT) AS m_s
         |  FROM p CROSS JOIN cuts),
         |seg AS (
         |  SELECT CASE WHEN r_s = 4 AND f_s = 4 AND m_s = 4 THEN 'champion'
         |              WHEN r_s <= 1 AND f_s >= 3 THEN 'at_risk'
         |              WHEN r_s = 4 AND f_s <= 2 THEN 'promising'
         |              WHEN f_s >= 3 THEN 'loyal'
         |              WHEN m_s = 4 THEN 'big_spender'
         |              ELSE 'regular' END AS segment,
         |         monetary
         |  FROM s)
         |SELECT segment, count(*) AS n_users,
         |       ${sqlDsum0("monetary")} AS sum_monetary
         |FROM seg GROUP BY segment ORDER BY segment""".stripMargin,
    // e16: identical gaps-and-islands + sort-key-packed path assembly —
    // the pack is what makes ordered list aggregation spellable in the
    // shared dialect (no ORDER BY inside an aggregate on either side).
    "e16_session_paths" ->
      """WITH ev AS (
        |  SELECT user_id, epoch_us(ts) AS us, event_id, event_type FROM events),
        |b AS (
        |  SELECT user_id, us, event_id, event_type,
        |         CASE WHEN lag(us) OVER (PARTITION BY user_id
        |                                 ORDER BY us, event_id) IS NULL
        |                   OR us - lag(us) OVER (PARTITION BY user_id
        |                                         ORDER BY us, event_id) > 600000000
        |              THEN 1 ELSE 0 END AS brk
        |  FROM ev),
        |s AS (
        |  SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY us, event_id
        |                           ROWS BETWEEN UNBOUNDED PRECEDING
        |                           AND CURRENT ROW) AS session_idx
        |  FROM b),
        |p AS (
        |  SELECT user_id, session_idx,
        |         array_to_string(list_transform(list_sort(list(
        |           lpad(CAST(us AS VARCHAR(20)), 20, '0')
        |           || lpad(CAST(event_id AS VARCHAR(20)), 20, '0')
        |           || event_type)), x -> substr(x, 41)), '>') AS path
        |  FROM s GROUP BY user_id, session_idx),
        |t AS (SELECT path, count(*) AS n_sessions FROM p GROUP BY path),
        |top10 AS (SELECT path, n_sessions FROM t
        |          ORDER BY n_sessions DESC, path LIMIT 10)
        |SELECT CAST(row_number() OVER (ORDER BY n_sessions DESC, path)
        |            AS BIGINT) AS rank, path, n_sessions
        |FROM top10 ORDER BY rank""".stripMargin,
    "e14_attribution" ->
      """WITH ev AS (
        |  SELECT user_id, epoch_us(ts) AS us, event_type, event_id FROM events),
        |t AS (
        |  SELECT event_type,
        |    min(CASE WHEN event_type IN ('click', 'view')
        |             THEN lpad(CAST(us AS VARCHAR(20)), 20, '0')
        |                  || lpad(CAST(event_id AS VARCHAR(20)), 20, '0')
        |                  || event_type END)
        |      OVER (PARTITION BY user_id ORDER BY us
        |            RANGE BETWEEN 604800000000 PRECEDING AND CURRENT ROW) AS ft,
        |    max(CASE WHEN event_type IN ('click', 'view')
        |             THEN lpad(CAST(us AS VARCHAR(20)), 20, '0')
        |                  || lpad(CAST(event_id AS VARCHAR(20)), 20, '0')
        |                  || event_type END)
        |      OVER (PARTITION BY user_id ORDER BY us
        |            RANGE BETWEEN 604800000000 PRECEDING AND CURRENT ROW) AS lt
        |  FROM ev)
        |SELECT coalesce(substr(ft, 41), 'none') AS first_touch,
        |       coalesce(substr(lt, 41), 'none') AS last_touch, count(*) AS n
        |FROM t WHERE event_type = 'purchase'
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // DAU/WAU from the deduped (day, user) pairs — count(DISTINCT) is
    // BIGINT in both engines; the ratio is one IEEE division + round.
    "e13_dau_wau" ->
      """WITH pairs AS (
        |  SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS d, user_id
        |  FROM events),
        |days AS (SELECT DISTINCT d AS day FROM pairs),
        |dau AS (SELECT d AS day, count(DISTINCT user_id) AS dau
        |        FROM pairs GROUP BY 1),
        |wau AS (SELECT day, count(DISTINCT user_id) AS wau
        |        FROM pairs JOIN days ON d BETWEEN day - 6 AND day
        |        GROUP BY day)
        |SELECT day, dau, wau,
        |       round(CAST(dau AS DOUBLE) / wau, 6) AS stickiness
        |FROM dau JOIN wau USING (day) ORDER BY day""".stripMargin,
    "e12_transition_matrix" ->
      """WITH pairs AS (
        |  SELECT lag(event_type) OVER (PARTITION BY user_id
        |                               ORDER BY ts, event_id) AS prev_type,
        |         event_type AS next_type
        |  FROM events),
        |counts AS (
        |  SELECT prev_type, next_type, count(*) AS n FROM pairs
        |  WHERE prev_type IS NOT NULL GROUP BY prev_type, next_type)
        |SELECT prev_type, next_type, n,
        |       round(CAST(n AS DOUBLE)
        |             / CAST(sum(n) OVER (PARTITION BY prev_type) AS DOUBLE), 6) AS p
        |FROM counts ORDER BY prev_type, next_type""".stripMargin,
    "e11_interarrival" ->
      """WITH gapped AS (
        |  SELECT user_id,
        |         epoch_us(ts) - lag(epoch_us(ts))
        |           OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
        |  FROM events)
        |SELECT user_id, count(*) AS n_events, count(gap_us) AS n_gaps,
        |       round(CAST(sum(gap_us) AS DOUBLE) / count(gap_us), 0) / 1e6
        |         AS mean_gap_s,
        |       CAST(max(gap_us) AS DOUBLE) / 1e6 AS max_gap_s
        |FROM gapped GROUP BY user_id ORDER BY user_id""".stripMargin,
    "e10_zscore_outliers" ->
      s"""WITH stats AS (
         |  SELECT event_type,
         |         sx / n AS mean,
         |         sqrt((n * sxx - sx * sx) / (n * (n - 1))) AS std
         |  FROM (
         |    SELECT event_type, count(*) AS n,
         |           ${sqlDsum("value")} AS sx,
         |           ${sqlDsum("value * value")} AS sxx
         |    FROM events GROUP BY event_type))
         |SELECT event_id, e.event_type, value,
         |       round((value - mean) / std, 6) AS z
         |FROM events e JOIN stats s ON e.event_type = s.event_type
         |WHERE std > 0.0 AND abs((value - mean) / std) > 3.0
         |ORDER BY event_id""".stripMargin,
    "e9_cohort_retention" ->
      """WITH cohorted AS (
        |  SELECT user_id, CAST(ts AS DATE) AS day,
        |         min(CASE WHEN event_type = 'purchase'
        |                  THEN CAST(ts AS DATE) END)
        |           OVER (PARTITION BY user_id) AS cohort_day
        |  FROM events),
        |cells AS (
        |  SELECT DISTINCT user_id, cohort_day,
        |         CAST(floor(date_diff('day', cohort_day, day) / 7.0) AS BIGINT)
        |           AS week_offset
        |  FROM cohorted
        |  WHERE cohort_day IS NOT NULL AND day >= cohort_day)
        |SELECT cohort_day, week_offset, count(*) AS n_users
        |FROM cells GROUP BY cohort_day, week_offset
        |ORDER BY cohort_day, week_offset""".stripMargin,
    "e8_funnel" ->
      """WITH staged AS (
        |  SELECT user_id, event_id, event_type, ts,
        |         min(CASE WHEN event_type = 'view' THEN ts END)
        |           OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |           AS first_view_ts
        |  FROM events),
        |staged2 AS (
        |  SELECT *,
        |         min(CASE WHEN event_type = 'click' AND first_view_ts IS NOT NULL
        |                  THEN ts END)
        |           OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |           AS first_qc_ts
        |  FROM staged),
        |per_user AS (
        |  SELECT user_id,
        |         max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS has_view,
        |         max(CASE WHEN event_type = 'click' AND first_view_ts IS NOT NULL
        |                  THEN 1 ELSE 0 END) AS has_click,
        |         max(CASE WHEN event_type = 'purchase' AND first_qc_ts IS NOT NULL
        |                  THEN 1 ELSE 0 END) AS has_purchase
        |  FROM staged2 GROUP BY user_id)
        |SELECT CAST(sum(has_view) AS BIGINT) AS n_view,
        |       CAST(sum(has_click) AS BIGINT) AS n_view_click,
        |       CAST(sum(has_purchase) AS BIGINT) AS n_full_funnel,
        |       CAST(sum(has_click) AS DOUBLE) / CAST(sum(has_view) AS DOUBLE)
        |         AS click_rate,
        |       CAST(sum(has_purchase) AS DOUBLE) / CAST(sum(has_click) AS DOUBLE)
        |         AS purchase_rate
        |FROM per_user""".stripMargin,
    "w6_scd2_intervals" ->
      """SELECT user_id, event_id, event_type AS state,
        |       ts AS valid_from,
        |       lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |         AS valid_to,
        |       lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |         IS NULL AS is_current
        |FROM events
        |ORDER BY user_id, valid_from, event_id""".stripMargin,
    "e7_asof_join" ->
      """SELECT user_id, event_id, ts, value, prior_click_ts, prior_click_value
        |FROM (
        |  SELECT user_id, event_id, ts, value, event_type,
        |         last_value(CASE WHEN event_type = 'click' THEN ts END IGNORE NULLS)
        |           OVER w AS prior_click_ts,
        |         last_value(CASE WHEN event_type = 'click' THEN value END IGNORE NULLS)
        |           OVER w AS prior_click_value
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
        |WHERE event_type = 'purchase'
        |ORDER BY user_id, event_id""".stripMargin,
    "e1_json_extract" ->
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
        |FROM events ORDER BY event_id""".stripMargin,
    "e2_json_grouped" ->
      s"""SELECT CAST(json_extract_string(props, '$$.k') AS INTEGER) AS k,
         |       count(*) AS n, ${sqlDsum0("value")} AS sum_value
         |FROM events GROUP BY 1 ORDER BY k""".stripMargin,
    "e3_tumbling_window" ->
      s"""SELECT CAST(floor(epoch(ts) / 300) * 300 AS BIGINT) AS window_start,
         |       event_type, count(*) AS n, ${sqlDsum0("value")} AS sum_value
         |FROM events GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin,
    // list_value is the shared named spelling of the array constructor
    // (`[...]` is DuckDB-parser-only) — e4 runs verbatim on both engines.
    "e4_sliding_window" ->
      s"""SELECT window_start, count(*) AS n, ${sqlDsum0("value")} AS sum_value
         |FROM (
         |  SELECT unnest(list_value(CAST(floor(epoch(ts) / 300) * 300 AS BIGINT),
         |                           CAST(floor(epoch(ts) / 300) * 300 - 300 AS BIGINT)))
         |           AS window_start,
         |         value
         |  FROM events)
         |GROUP BY window_start ORDER BY window_start""".stripMargin,
    "e5_session_window" ->
      s"""WITH ordered AS (
         |  SELECT user_id, value, epoch_us(ts) AS t_us,
         |         lag(epoch_us(ts)) OVER (PARTITION BY user_id
         |                                 ORDER BY ts, event_id) AS prev_us
         |  FROM events),
         |flagged AS (
         |  SELECT *, CASE WHEN prev_us IS NULL
         |                   OR t_us - prev_us >= 600000000 THEN 1 ELSE 0 END
         |              AS new_session
         |  FROM ordered),
         |numbered AS (
         |  SELECT *, sum(new_session) OVER (PARTITION BY user_id
         |                                   ORDER BY t_us
         |                                   ROWS UNBOUNDED PRECEDING) AS session_id
         |  FROM flagged)
         |SELECT user_id, min(t_us) AS session_start_us, count(*) AS n,
         |       ${sqlDsum0("value")} AS sum_value
         |FROM numbered GROUP BY user_id, session_id
         |ORDER BY user_id, session_start_us""".stripMargin,
    "e6_latest_per_user" ->
      """SELECT user_id, event_id, ts, event_type, value FROM (
        |  SELECT *, row_number() OVER (PARTITION BY user_id
        |                               ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events)
        |WHERE rn = 1 ORDER BY user_id""".stripMargin)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "e19_ab_test"          -> (e19 _),
    "e16_session_paths"    -> (e16 _),
    "e17_rfm_segments"     -> (e17 _),
    "e15_count_anomaly" -> (e15 _),
    "e14_attribution"      -> (e14 _),
    "e13_dau_wau"          -> (e13 _),
    "e12_transition_matrix" -> (e12 _),
    "e11_interarrival"     -> (e11 _),
    "e10_zscore_outliers"  -> SqlProgram(oracles("e10_zscore_outliers")),
    "e9_cohort_retention"  -> (e9 _),
    "e8_funnel"            -> (e8 _),
    "w6_scd2_intervals"    -> (w6 _),
    "e7_asof_join"         -> (e7 _),
    "e1_json_extract"      -> SqlProgram(oracles("e1_json_extract")),
    "e2_json_grouped"      -> SqlProgram(oracles("e2_json_grouped")),
    "e3_tumbling_window"   -> (e3 _),
    "e4_sliding_window"    -> (e4 _),
    "e5_session_window"    -> (e5 _),
    "e6_latest_per_user"   -> SqlProgram(oracles("e6_latest_per_user")))
}
