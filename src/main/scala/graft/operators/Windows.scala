package graft.operators

import graft.Tables
import graft.functions.TopKByValue
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** SURVEY.md §2.8 — the full window-function surface (extension: the
  * reference ranks nothing within groups, but the OLAP north star
  * requires it), plus the typed-Aggregator top-k and TPC-H Q18.
  *
  * Scale notes: every window here partitions by a real key before
  * ordering — one shuffle on the key, per-partition sort bounded by the
  * group size. The Aggregator variant exists precisely for the case
  * where groups are numerous and windows would sort every group's full
  * row set: its partial buffers cap at k entries, so the shuffle
  * carries O(groups×k). Q18's HAVING subquery is a semi-join against
  * an aggregate — two shuffles on the same key (agg + join), which AQE
  * can plan as a single stage pipeline.
  */
object Windows extends QueryModule {

  private def dec(c: org.apache.spark.sql.Column) = c.cast(DecimalType(18, 6))

  /** Ranking + offset + frame functions in one pass over orders. */
  private def suite(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val byCust = Window.partitionBy($"o_custkey")
      .orderBy($"o_orderdate", $"o_orderkey")
    val byPrice = Window.partitionBy($"o_custkey")
      .orderBy($"o_totalprice".desc, $"o_orderkey")
    val running = byCust.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val rolling3 = byCust.rowsBetween(-2, Window.currentRow)
    Tables(spark, dir).orders
      .filter($"o_custkey" < 200L)
      .select(
        $"o_custkey", $"o_orderkey", $"o_orderdate", $"o_totalprice",
        row_number().over(byCust).cast("long").as("seq"),
        rank().over(byPrice).cast("long").as("price_rank"),
        dense_rank().over(byPrice).cast("long").as("price_dense_rank"),
        lag($"o_totalprice", 1).over(byCust).as("prev_price"),
        lead($"o_totalprice", 1).over(byCust).as("next_price"),
        sum(dec($"o_totalprice")).over(running).cast("double").as("running_spend"),
        (sum(dec($"o_totalprice")).over(rolling3).cast("double")
          / count(lit(1)).over(rolling3)).as("rolling3_avg"))
      .orderBy($"o_custkey", $"o_orderkey")
  }

  /** Grouped top-k via the typed Aggregator — shuffle carries O(groups×k). */
  private def groupedTopK(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val topk = udaf(new TopKByValue(3))
    val totals = Tables(spark, dir).events
      .groupBy($"event_type", $"user_id")
      .agg(dsum0($"value").as("total"))
    totals
      .groupBy($"event_type")
      .agg(topk($"user_id", $"total").as("top"))
      .select($"event_type", posexplode($"top").as(Seq("i", "kv")))
      .select($"event_type", ($"i" + 1).cast("long").as("rank"),
        $"kv._1".as("user_id"), $"kv._2".as("total"))
      .orderBy($"event_type", $"rank")
  }

  /** TPC-H Q18-style: customers with large-quantity orders (HAVING
    * subquery semi-join + final grouped sum + top-k). */
  private def q18(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val t = Tables(spark, dir)
    val big = t.lineitem.groupBy($"l_orderkey")
      .agg(dsum0($"l_quantity").as("qty"))
      .filter($"qty" > 270.0)
      .select($"l_orderkey".as("big_orderkey"))
    t.lineitem
      .join(big, $"l_orderkey" === $"big_orderkey", "left_semi")
      .join(t.orders, $"l_orderkey" === $"o_orderkey")
      .join(t.customer, $"o_custkey" === $"c_custkey")
      .groupBy($"c_name", $"c_custkey", $"o_orderkey", $"o_orderdate", $"o_totalprice")
      .agg(dsum0($"l_quantity").as("sum_qty"))
      .orderBy($"o_totalprice".desc, $"o_orderdate", $"o_orderkey")
      .limit(100)
  }

  /** Time-based RANGE frame — the moving aggregate ROWS frames cannot
    * express: "revenue in the last 7 DAYS" must include every row
    * whose date falls in the interval, however many (or few) rows each
    * day carries. Pre-aggregating to daily totals first keeps the
    * window input |days|-sized (aggregated — allowed by the
    * catalog-wide global-window rule, and genuinely small at any
    * corpus scale); the ORDER BY key is epoch-day (datediff from a
    * fixed origin), so the frame arithmetic is integer, and the moving
    * sum runs over EXACT decimals — engines may implement moving
    * frames differently (DuckDB's segment tree re-associates the sum),
    * but decimal addition is associative, so the result is identical
    * and only the final output casts to double. */
  private def rollingRange(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // Group on the DATE, not the raw timestamp: daily-rollup semantics
    // (identical here — fixture timestamps are midnights), and the
    // date-typed grouping is what makes the downstream global range
    // window CALENDAR-bounded for the plan walk (a timestamp key is
    // statically micros-domain = corpus-proportional).
    val daily = Tables(spark, dir).orders
      .groupBy($"o_orderdate".cast("date").as("o_orderdate"))
      .agg(sum(dec($"o_totalprice")).as("day_rev"))
    val last7d = Window
      .orderBy(datediff($"o_orderdate", lit("1990-01-01").cast("date")))
      .rangeBetween(-6, 0)
    daily.select($"o_orderdate",
        $"day_rev".cast("double").as("day_rev"),
        sum($"day_rev").over(last7d).cast("double").as("rev_7d"))
      .orderBy($"o_orderdate")
  }

  /** Gap filling over a CALENDAR SPINE — the time-series completion
    * every reporting layer runs before charting or model features:
    * generate the full day range (sequence over the aggregated min/max
    * — |days| rows, never corpus-sized), left-join the daily totals,
    * and repair gaps BOTH ways: zero-fill (additive metrics) and
    * forward-fill via `last(…, ignoreNulls)` over the growing frame
    * (level metrics). The global window rides the |days|-row spine
    * above an Aggregate — exactly the cardinality class the
    * catalog-wide walk permits; day totals stay exact DECIMAL until
    * the output cast. The fixture's order calendar genuinely has holes
    * (asserted in the rolling_range spec), so the fills are exercised,
    * not vacuous. */
  private def gapFill(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val daily = Tables(spark, dir).orders
      .groupBy(to_date($"o_orderdate").as("day"))
      .agg(sum(dec($"o_totalprice")).as("day_rev"))
    val spine = daily.agg(min($"day").as("lo"), max($"day").as("hi"))
      .select(explode(sequence($"lo", $"hi", expr("interval 1 day"))).as("day"))
    val grow = Window.orderBy($"day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.join(daily, Seq("day"), "left")
      .select($"day",
        $"day_rev".isNull.cast("long").as("is_gap"),
        coalesce($"day_rev", lit(0)).cast("double").as("rev_zero_fill"),
        last($"day_rev", ignoreNulls = true).over(grow)
          .cast("double").as("rev_ffill"))
      .orderBy($"day")
  }

  val oracles: Map[String, String] = Map(
    // DuckDB spells the ignore-nulls fill as last_value(x IGNORE NULLS)
    // — inside the parens, the e7 dialect split; semantics identical.
    "olap_gap_fill" ->
      """WITH daily AS (
        |  SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
        |         sum(CAST(o_totalprice AS DECIMAL(18,6))) AS day_rev
        |  FROM orders GROUP BY 1),
        |spine AS (
        |  SELECT unnest(generate_series((SELECT min(day) FROM daily),
        |                                (SELECT max(day) FROM daily),
        |                                INTERVAL 1 DAY))::DATE AS day)
        |SELECT s.day,
        |       CAST(d.day_rev IS NULL AS BIGINT) AS is_gap,
        |       CAST(coalesce(d.day_rev, 0) AS DOUBLE) AS rev_zero_fill,
        |       CAST(last_value(d.day_rev IGNORE NULLS)
        |              OVER (ORDER BY s.day
        |                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |            AS DOUBLE) AS rev_ffill
        |FROM spine s LEFT JOIN daily d USING (day)
        |ORDER BY s.day""".stripMargin,
    "olap_window_suite2" ->
      """SELECT o_custkey, o_orderkey,
        |  percent_rank() OVER w AS pct_rank,
        |  cume_dist() OVER w AS cume,
        |  first_value(o_orderkey) OVER wf AS first_order,
        |  last_value(o_orderkey) OVER wf AS last_order,
        |  nth_value(o_orderkey, 2) OVER wf AS second_order
        |FROM orders WHERE o_custkey < 200
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
        |       wf AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,
    // Moving-frame sums stay DECIMAL through the window (associative →
    // engine frame-evaluation strategy cannot matter), double at the end.
    "olap_rolling_range" ->
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS o_orderdate,
        |         sum(CAST(o_totalprice AS DECIMAL(18,6))) AS day_rev
        |  FROM orders GROUP BY 1)
        |SELECT o_orderdate,
        |       CAST(day_rev AS DOUBLE) AS day_rev,
        |       CAST(sum(day_rev) OVER (
        |              ORDER BY date_diff('day', DATE '1990-01-01',
        |                                 CAST(o_orderdate AS DATE))
        |              RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
        |            AS DOUBLE) AS rev_7d
        |FROM daily ORDER BY o_orderdate""".stripMargin,
    "olap_window_suite" ->
      s"""SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,
         |  row_number() OVER w AS seq,
         |  rank() OVER wp AS price_rank,
         |  dense_rank() OVER wp AS price_dense_rank,
         |  lag(o_totalprice, 1) OVER w AS prev_price,
         |  lead(o_totalprice, 1) OVER w AS next_price,
         |  cast(sum(cast(o_totalprice AS DECIMAL(18,6)))
         |       OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
         |             ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_spend,
         |  cast(sum(cast(o_totalprice AS DECIMAL(18,6)))
         |       OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
         |             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE)
         |    / count(*) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
         |                     ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS rolling3_avg
         |FROM orders
         |WHERE o_custkey < 200
         |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
         |       wp AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
         |ORDER BY o_custkey, o_orderkey""".stripMargin,
    "olap_grouped_topk_udaf" ->
      s"""SELECT event_type, CAST(rk AS BIGINT) AS rank, user_id, total FROM (
         |  SELECT event_type, user_id, total,
         |         row_number() OVER (PARTITION BY event_type
         |                            ORDER BY total DESC, user_id) AS rk
         |  FROM (SELECT event_type, user_id, ${sqlDsum0("value")} AS total
         |        FROM events GROUP BY event_type, user_id))
         |WHERE rk <= 3 ORDER BY event_type, rank""".stripMargin,
    "tpch_q18" ->
      s"""SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
         |       ${sqlDsum0("l_quantity")} AS sum_qty
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |WHERE l_orderkey IN (
         |  SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
         |  HAVING ${sqlDsum0("l_quantity")} > 270.0)
         |GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
         |ORDER BY o_totalprice DESC, o_orderdate, o_orderkey
         |LIMIT 100""".stripMargin)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "olap_gap_fill"            -> (gapFill _),
    "olap_window_suite2"       -> SqlProgram(oracles("olap_window_suite2")),
    "olap_rolling_range"       -> (rollingRange _),
    "olap_window_suite"        -> (suite _),
    "olap_grouped_topk_udaf"   -> (groupedTopK _),
    "tpch_q18"                 -> (q18 _))
}
