package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** M1 — read-path parity: filters, projections, predicates, sorts, top-k,
  * counts and sums (SURVEY.md §2.2, §2.4, §2.5) restated on the fixture
  * star schema.
  *
  * Reference semantics carried over (sites are /root/reference/index.js):
  *   - P1/P2 point lookups (`findOne`, e.g. :77, :137) → key-equality
  *     filter; Catalyst pushes the predicate into the parquet scan, so at
  *     100 TB this is a row-group-pruned read, not a full scan.
  *   - P5 `$ne` matches missing fields (:599-602) → null-safe
  *     `not(c <=> v)` / `IS DISTINCT FROM`, NOT plain `=!=` which drops
  *     nulls.
  *   - A3/A6 `|| 0` null-tolerance (:341, :566, :1210) → `coalesce` around
  *     sums and empty aggregates.
  *   - O2 top-k (:1239-1250) → `orderBy.limit` so Spark plans
  *     `TakeOrderedAndProject` (bounded per-partition heaps + single
  *     driver merge — no full sort at any scale).
  *
  * All constants (custkey 42, orderkey 7, segment names) exist at every
  * fixture scale factor, so the same query text is valid at sf0.001..0.1
  * and beyond.
  */
object ReadPath extends QueryModule {

  /** O2 — top-k (`$sort coins desc → $limit 6 → $project`,
    * index.js:1239-1250). Plans as TakeOrderedAndProject. */
  private def o2(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir).customer
      .filter($"c_mktsegment" === "MACHINERY")
      .orderBy($"c_acctbal".desc, $"c_custkey".asc)
      .limit(6)
      .select($"c_name".as("name"), $"c_acctbal".as("coins"))
  }

  /** A1 — filtered counts (`countDocuments({role:'worker'})`,
    * index.js:1203-1204), both roles in one pass. */
  private def a1(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir).customer.agg(
      countIf($"c_mktsegment" === "BUILDING").as("n_building"),
      countIf($"c_mktsegment" === "AUTOMOBILE").as("n_automobile"))
  }

  /** A5 — conditional counts over one pass (total/pending/approved,
    * index.js:335-337): one aggregate, no refetch per status. */
  private def a5(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir).lineitem.agg(
      count(lit(1)).as("n_total"),
      countIf($"l_returnflag" === "R").as("n_pending"),
      countIf($"l_returnflag" === "A").as("n_approved"))
  }

  val oracles: Map[String, String] = Map(
    // P1 — point lookup by the unique human key (findOne, index.js:77,120,346).
    "p1_point_lookup_key" ->
      "SELECT * FROM customer WHERE c_name = 'Customer#000000042'",
    // P2 — point lookup by surrogate id (findOne({_id}), index.js:137).
    "p2_point_lookup_id" ->
      "SELECT * FROM orders WHERE o_orderkey = 7",
    // P3 — conjunctive-predicate lookup (ownership check, index.js:808).
    "p3_conjunctive_lookup" ->
      """SELECT * FROM lineitem WHERE l_orderkey = 7 AND l_linenumber = 1
        |ORDER BY l_partkey, l_suppkey""".stripMargin,
    // P4 — equality filter scan (find({status:'open'}), index.js:641).
    "p4_filter_scan" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |WHERE o_orderstatus = 'O' ORDER BY o_orderkey""".stripMargin,
    // P5 — `$ne` matches missing fields (index.js:599-602): IS DISTINCT FROM, not <>.
    "p5_ne_null_semantics" ->
      """SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_returnflag
        |FROM lineitem
        |WHERE l_returnflag IS DISTINCT FROM 'R'
        |ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey""".stripMargin,
    // P6 — IN-list predicate (index.js:612-615).
    "p6_in_list" ->
      """SELECT o_orderkey, o_orderpriority FROM orders
        |WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
        |ORDER BY o_orderkey""".stripMargin,
    // P9 — include-list projection with rename ($project, index.js:1243-1249, :1115).
    "p9_projection_rename" ->
      """SELECT c_name AS name, c_acctbal AS coins, c_mktsegment AS segment
        |FROM customer ORDER BY name""".stripMargin,
    // S3 — dynamic-predicate scan, status param present (index.js:1100-1103).
    "s3_dynamic_scan" ->
      """SELECT o_orderkey, o_orderstatus FROM orders
        |WHERE o_orderstatus = 'P' ORDER BY o_orderkey""".stripMargin,
    // O1 — newest-first feed (index.js:229-232), event_id tiebreak for a total order.
    "o1_sort_desc_feed" ->
      """SELECT event_id, ts, user_id, event_type FROM events
        |ORDER BY ts DESC, event_id DESC""".stripMargin,
    "o2_topk" ->
      """SELECT c_name AS name, c_acctbal AS coins FROM customer
        |WHERE c_mktsegment = 'MACHINERY'
        |ORDER BY c_acctbal DESC, c_custkey ASC LIMIT 6""".stripMargin,
    "a1_filtered_counts" ->
      """SELECT count(*) FILTER (WHERE c_mktsegment = 'BUILDING') AS n_building,
        |       count(*) FILTER (WHERE c_mktsegment = 'AUTOMOBILE') AS n_automobile
        |FROM customer""".stripMargin,
    // A2 — compound-predicate count with P5 null semantics (index.js:599-602).
    "a2_compound_count" ->
      """SELECT count(*) AS n_open FROM orders
        |WHERE o_custkey = 42 AND o_orderstatus IS DISTINCT FROM 'F'""".stripMargin,
    // A3 — global sum, empty aggregate → 0 (`agg[0]?.total || 0`, index.js:1207-1216).
    "a3_global_sum_empty0" ->
      s"""SELECT ${sqlDsum0("c_acctbal")} AS total_coins,
         |       ${sqlDsum0("CASE WHEN c_mktsegment = 'NO_SUCH_SEGMENT' THEN c_acctbal END")} AS empty_sum
         |FROM customer""".stripMargin,
    // A4 — filter + global sum ($match → $group $sum, index.js:562-565).
    "a4_filter_sum" ->
      s"""SELECT ${sqlDsum0("o_totalprice")} AS total_paid
         |FROM orders WHERE o_custkey = 42""".stripMargin,
    "a5_conditional_counts" ->
      """SELECT count(*) AS n_total,
        |       count(*) FILTER (WHERE l_returnflag = 'R') AS n_pending,
        |       count(*) FILTER (WHERE l_returnflag = 'A') AS n_approved
        |FROM lineitem""".stripMargin,
    // A6 — null-safe fold (`s + (x.payable_amount || 0)`, index.js:340-343).
    "a6_null_safe_sum" ->
      s"""SELECT ${sqlDsum0("coalesce(l_extendedprice, 0.0)")} AS total_earned
         |FROM lineitem WHERE l_returnflag = 'A'""".stripMargin)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "p1_point_lookup_key"   -> SqlProgram(oracles("p1_point_lookup_key")),
    "p2_point_lookup_id"    -> SqlProgram(oracles("p2_point_lookup_id")),
    "p3_conjunctive_lookup" -> SqlProgram(oracles("p3_conjunctive_lookup")),
    "p4_filter_scan"        -> SqlProgram(oracles("p4_filter_scan")),
    "p5_ne_null_semantics"  -> SqlProgram(oracles("p5_ne_null_semantics")),
    "p6_in_list"            -> SqlProgram(oracles("p6_in_list")),
    "p9_projection_rename"  -> SqlProgram(oracles("p9_projection_rename")),
    "s3_dynamic_scan"       -> SqlProgram(oracles("s3_dynamic_scan")),
    "o1_sort_desc_feed"     -> SqlProgram(oracles("o1_sort_desc_feed")),
    "o2_topk"               -> (o2 _),
    "a1_filtered_counts"    -> (a1 _),
    "a2_compound_count"     -> SqlProgram(oracles("a2_compound_count")),
    "a3_global_sum_empty0"  -> SqlProgram(oracles("a3_global_sum_empty0")),
    "a4_filter_sum"         -> SqlProgram(oracles("a4_filter_sum")),
    "a5_conditional_counts" -> (a5 _),
    "a6_null_safe_sum"      -> SqlProgram(oracles("a6_null_safe_sum")))
}
