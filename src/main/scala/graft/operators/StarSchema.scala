package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** M4 extension — deep star-schema joins over the full dimension set
  * (region → nation → customer/supplier → orders → lineitem → part),
  * plus the skew-mitigation pattern. These exercise every fixture table
  * the core catalog doesn't.
  *
  * Scale notes:
  *   - q5/q14: dimensions (region 5 rows, nation 25, supplier, part)
  *     broadcast; the only fact-sized shuffle is the final group-by.
  *     Join ORDER matters at 100 TB: filter region first so the
  *     nation/customer build sides shrink before touching facts —
  *     written in that order, and Catalyst keeps it.
  *   - salted agg: the two-phase (salt, merge) rewrite for hot keys.
  *     A single hot group turns partial+final agg into one reducer;
  *     salting fans the hot key across SALT partitions in phase 1 and
  *     merges SALT sub-aggregates in phase 2. Result is identical to
  *     the direct group-by (its oracle) — salting is topology, not
  *     semantics. AQE's skew-join handling covers the JOIN-side analog
  *     automatically.
  */
object StarSchema extends QueryModule {

  /** TPC-H Q4-style: order-priority checking — orders in a quarter with
    * at least one late-shipped lineitem (EXISTS → left-semi join with a
    * non-equi conjunct; Catalyst pushes the equi part into the hash join
    * and evaluates the date condition as a join residual). */
  private def q4(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val t = Tables(spark, dir)
    t.orders
      .filter($"o_orderdate" >= lit("1996-01-01").cast("timestamp")
        && $"o_orderdate" < lit("1996-04-01").cast("timestamp"))
      .join(t.lineitem,
        $"l_orderkey" === $"o_orderkey"
          && $"l_shipdate" > $"o_orderdate" + expr("INTERVAL 60 DAYS"),
        "left_semi")
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("order_count"))
      .orderBy($"o_orderpriority")
  }

  /** TPC-H Q7-style: volume shipping between two nations — customer in
    * one, supplier in the other, both directions, revenue by (supplier
    * nation, customer nation, ship year). The two nation dimensions
    * broadcast under DIFFERENT aliases (self-join of a dimension, not
    * of the fact); the only fact-sized shuffle is the final group-by. */
  private def q7(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val t = Tables(spark, dir)
    val custNation = t.nation
      .select($"n_nationkey".as("cn_key"), $"n_name".as("cust_nation"))
    val suppNation = t.nation
      .select($"n_nationkey".as("sn_key"), $"n_name".as("supp_nation"))
    t.lineitem
      .filter($"l_shipdate" >= lit("1996-01-01").cast("timestamp")
        && $"l_shipdate" < lit("1998-01-01").cast("timestamp"))
      .join(t.orders, $"l_orderkey" === $"o_orderkey")
      .join(t.customer, $"o_custkey" === $"c_custkey")
      .join(custNation, $"c_nationkey" === $"cn_key")
      .join(t.supplier, $"l_suppkey" === $"s_suppkey")
      .join(suppNation, $"s_nationkey" === $"sn_key")
      .filter(($"supp_nation" === "NATION_3" && $"cust_nation" === "NATION_7")
        || ($"supp_nation" === "NATION_7" && $"cust_nation" === "NATION_3"))
      .groupBy($"supp_nation", $"cust_nation",
        year($"l_shipdate").cast("long").as("l_year"))
      .agg(dsum($"l_extendedprice" * (lit(1.0) - $"l_discount")).as("revenue"))
      .orderBy($"supp_nation", $"cust_nation", $"l_year")
  }

  /** TPC-H Q8-style: national market share — of all STANDARD-part
    * revenue delivered to ASIA-region customers, the fraction supplied
    * by NATION_5, per order year. The share is a ratio of two
    * conditional decimal sums in one aggregate pass (no self-join),
    * rounded to 9 (q14's discipline). */
  private def q8(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val t = Tables(spark, dir)
    val suppNation = t.nation
      .select($"n_nationkey".as("sn_key"), $"n_name".as("supp_nation"))
    t.part.filter($"p_type" === "STANDARD")
      .join(t.lineitem, $"l_partkey" === $"p_partkey")
      .join(t.orders, $"l_orderkey" === $"o_orderkey")
      .filter($"o_orderdate" >= lit("1996-01-01").cast("timestamp")
        && $"o_orderdate" < lit("1998-01-01").cast("timestamp"))
      .join(t.customer, $"o_custkey" === $"c_custkey")
      .join(t.nation, $"c_nationkey" === $"n_nationkey")
      .join(t.region.filter($"r_name" === "ASIA"),
        $"n_regionkey" === $"r_regionkey")
      .join(t.supplier, $"l_suppkey" === $"s_suppkey")
      .join(suppNation, $"s_nationkey" === $"sn_key")
      .groupBy(year($"o_orderdate").cast("long").as("o_year"))
      .agg(round(
        dsum0(when($"supp_nation" === "NATION_5",
          $"l_extendedprice" * (lit(1.0) - $"l_discount")))
          / dsum($"l_extendedprice" * (lit(1.0) - $"l_discount")), 9)
        .as("mkt_share"))
      .orderBy($"o_year")
  }

  /** TPC-H Q15-style: top supplier(s) by quarter revenue — the
    * view + scalar-max shape. Revenue is an exact decimal sum cast to
    * double, so the `rev === max(rev)` equality is bit-safe on both
    * engines (never compare float aggregates built any other way). */
  private def q15(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val t = Tables(spark, dir)
    val rev = t.lineitem
      .filter($"l_shipdate" >= lit("1996-01-01").cast("timestamp")
        && $"l_shipdate" < lit("1996-04-01").cast("timestamp"))
      .groupBy($"l_suppkey")
      .agg(dsum($"l_extendedprice" * (lit(1.0) - $"l_discount")).as("total_revenue"))
    val maxRev = rev.agg(max($"total_revenue").as("max_revenue"))
    rev.join(broadcast(maxRev), $"total_revenue" === $"max_revenue")
      .join(t.supplier, $"l_suppkey" === $"s_suppkey")
      .select($"s_suppkey", $"s_name", $"total_revenue")
      .orderBy($"s_suppkey")
  }

  /** TPC-H Q17-style: small-quantity-order revenue — lineitems of one
    * brand's parts below 20% of that part's average quantity. The
    * correlated `avg` decorrelates to a per-part aggregate joined back
    * to the fact (thresholds are part-count-sized → broadcast); the
    * threshold is exact-decimal avg so the `<` comparison can't
    * straddle engines. */
  private def q17(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val t = Tables(spark, dir)
    val brandParts = t.part.filter($"p_brand" === "Brand#12").select($"p_partkey")
    val brandItems = t.lineitem
      .join(broadcast(brandParts), $"l_partkey" === $"p_partkey")
    val thresholds = brandItems
      .groupBy($"l_partkey".as("t_partkey"))
      .agg((davg($"l_quantity") * 0.2).as("qty_threshold"))
    brandItems
      .join(broadcast(thresholds), $"l_partkey" === $"t_partkey")
      .filter($"l_quantity" < $"qty_threshold")
      // round9stable: avg_yearly reaches 1e5+, where round(_, 9)'s
      // engine implementations can flip the 9th decimal.
      .agg(round9stable(dsum0($"l_extendedprice") / 7.0).as("avg_yearly"))
  }

  /** TPC-H Q19-style: disjunctive brand/size/quantity predicates —
    * three OR'd conjunct groups over the part×lineitem join. Catalyst
    * extracts the common `l_partkey = p_partkey` equi-condition and
    * keeps the disjunction as a join residual; the brand IN-list
    * prunes the broadcast build side. */
  private def q19(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val t = Tables(spark, dir)
    t.lineitem
      .join(t.part.filter($"p_brand".isin("Brand#12", "Brand#2", "Brand#3")),
        $"l_partkey" === $"p_partkey")
      .filter(
        ($"p_brand" === "Brand#12" && $"p_size".between(1, 15)
          && $"l_quantity".between(1, 11))
          || ($"p_brand" === "Brand#2" && $"p_size".between(1, 25)
            && $"l_quantity".between(10, 20))
          || ($"p_brand" === "Brand#3" && $"p_size".between(1, 35)
            && $"l_quantity".between(20, 30)))
      .agg(dsum0($"l_extendedprice" * (lit(1.0) - $"l_discount")).as("revenue"))
  }

  /** TPC-H Q22-style: wealthy inactive customers — balance above the
    * global positive-balance average AND no orders since 1999 (every
    * fixture customer has SOME order, so the lapsed-window form keeps
    * the anti-join meaningfully selective), bucketed by nation group
    * (stands in for the phone country code the fixture lacks).
    * Anti-join + broadcast scalar threshold: both sides of the
    * comparison are exact-decimal aggregates, so the filter is
    * engine-stable. */
  private def q22(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val t = Tables(spark, dir)
    val avgBal = t.customer.filter($"c_acctbal" > 0.0)
      .agg(davg($"c_acctbal").as("avg_bal"))
    t.customer
      .join(broadcast(avgBal), $"c_acctbal" > $"avg_bal")
      .join(t.orders.filter($"o_orderdate" >= lit("1999-01-01").cast("timestamp")),
        $"c_custkey" === $"o_custkey", "left_anti")
      .groupBy(($"c_nationkey" % 5).cast("long").as("nation_group"))
      .agg(count(lit(1)).as("numcust"), dsum($"c_acctbal").as("totacctbal"))
      .orderBy($"nation_group")
  }

  /** TPC-H Q21-style: sole-problem-supplier reporting — for finished
    * orders with a returned item, count per supplier the cases where
    * that supplier was the ONLY one in the order whose item came back
    * (the fixture lacks commit/receipt dates, so `l_returnflag = 'R'`
    * plays Q21's lateness predicate; the multi-EXISTS/NOT-EXISTS
    * topology against the same fact is identical). Decorrelated form:
    * one left-semi (some OTHER supplier in the order) and one
    * left-anti (no OTHER supplier with a returned item) hash join,
    * both equi-keyed on l_orderkey with the supplier inequality as a
    * join residual — never a per-row subquery, never a cartesian. The
    * supplier dimension broadcasts; the three lineitem branches
    * shuffle only on orderkey. */
  private def q21(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val t = Tables(spark, dir)
    val nation3Supp = t.supplier
      .join(t.nation.filter($"n_name" === "NATION_3"),
        $"s_nationkey" === $"n_nationkey")
      .select($"s_suppkey", $"s_name")
    val l2 = t.lineitem.select($"l_orderkey".as("o2"), $"l_suppkey".as("s2"))
    val l3 = t.lineitem.filter($"l_returnflag" === "R")
      .select($"l_orderkey".as("o3"), $"l_suppkey".as("s3"))
    t.lineitem.filter($"l_returnflag" === "R")
      .select($"l_orderkey", $"l_suppkey")
      .join(t.orders.filter($"o_orderstatus" === "F").select($"o_orderkey"),
        $"l_orderkey" === $"o_orderkey", "left_semi")
      .join(broadcast(nation3Supp), $"l_suppkey" === $"s_suppkey")
      .join(l2, $"l_orderkey" === $"o2" && $"l_suppkey" =!= $"s2", "left_semi")
      .join(l3, $"l_orderkey" === $"o3" && $"l_suppkey" =!= $"s3", "left_anti")
      .groupBy($"s_name")
      .agg(count(lit(1)).as("numwait"))
      .orderBy($"numwait".desc, $"s_name")
      .limit(20)
  }

  /** TPC-H Q2-style: minimum-cost supplier per part — for STANDARD
    * size-15 parts, the ASIA-region supplier(s) whose supply cost is
    * that part's regional minimum (the fixture lacks partsupp, so the
    * supply catalog is derived: cost of (part, supplier) = min
    * l_extendedprice over their lineitems). The correlated scalar-min
    * subquery decorrelates to a `min` window partitioned by part —
    * partition-parallel, no per-row subquery execution. `min` is
    * order-independent (no accumulation), so the equality against it
    * is engine-exact without decimal routing. Dimensions broadcast;
    * the only fact shuffle is the (part, supplier) aggregate. */
  private def q2(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val t = Tables(spark, dir)
    val ps = t.lineitem.groupBy($"l_partkey", $"l_suppkey")
      .agg(min($"l_extendedprice").as("supply_cost"))
    val asiaSupp = t.supplier
      .join(t.nation, $"s_nationkey" === $"n_nationkey")
      .join(t.region.filter($"r_name" === "ASIA"),
        $"n_regionkey" === $"r_regionkey")
      .select($"s_suppkey", $"s_name", $"s_acctbal", $"n_name")
    val parts = t.part.filter($"p_size" === 15 && $"p_type" === "STANDARD")
      .select($"p_partkey", $"p_name")
    ps.join(broadcast(parts), $"l_partkey" === $"p_partkey")
      .join(broadcast(asiaSupp), $"l_suppkey" === $"s_suppkey")
      .withColumn("min_cost",
        min($"supply_cost").over(Window.partitionBy($"p_partkey")))
      .filter($"supply_cost" === $"min_cost")
      .select($"s_acctbal", $"s_name", $"n_name", $"p_partkey", $"p_name",
        $"supply_cost")
      .orderBy($"s_acctbal".desc, $"n_name", $"s_name", $"p_partkey")
      .limit(100)
  }

  /** TPC-H Q20-style: dominant promo-part suppliers — NATION_3
    * suppliers who, for some PROMO part, shipped MORE than half that
    * part's total 1996 quantity (the fixture lacks partsupp.availqty,
    * so Q20's half-of-shipped-volume threshold is expressed against
    * the per-part total). The nested semi-join chain survives intact:
    * part filter semi-joins into lineitem, the correlated per-part
    * threshold decorrelates to a decimal `sum` window partitioned by
    * part (exact, associative — a double window sum would be
    * partition-order-dependent across engines), and the qualifying
    * supplier set semi-joins into the supplier dimension. */
  private def q20(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val t = Tables(spark, dir)
    val promoParts = t.part.filter($"p_type" === "PROMO").select($"p_partkey")
    val sp = t.lineitem
      .filter($"l_shipdate" >= lit("1996-01-01").cast("timestamp")
        && $"l_shipdate" < lit("1997-01-01").cast("timestamp"))
      .join(broadcast(promoParts), $"l_partkey" === $"p_partkey", "left_semi")
      .groupBy($"l_suppkey", $"l_partkey")
      .agg(sum($"l_quantity".cast("decimal(18,6)")).as("supp_qty"))
    val eligible = sp
      .withColumn("part_qty",
        sum($"supp_qty").over(Window.partitionBy($"l_partkey")))
      .filter($"supp_qty".cast("double") > lit(0.5) * $"part_qty".cast("double"))
      .select($"l_suppkey").distinct()
    t.supplier
      .join(broadcast(t.nation.filter($"n_name" === "NATION_3")),
        $"s_nationkey" === $"n_nationkey")
      .join(eligible, $"s_suppkey" === $"l_suppkey", "left_semi")
      .select($"s_suppkey", $"s_name")
      .orderBy($"s_name", $"s_suppkey")
  }

  /** TPC-H Q9-style: product-line profit by (supplier nation, order
    * year) for one part color — profit = discounted revenue minus a
    * cost basis of 40% of the part's retail price per unit (the
    * fixture lacks partsupp.supplycost; retailprice is the part-level
    * cost surrogate). Join topology is Q9's: both dimension chains
    * broadcast after their filters, orders joins the fact for the
    * year, one map-combined decimal aggregate on the tiny
    * (nation, year) key space. */
  private def q9(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val t = Tables(spark, dir)
    val redParts = t.part.filter($"p_name".startsWith("red"))
      .select($"p_partkey", $"p_retailprice")
    val suppNation = t.supplier
      .join(t.nation, $"s_nationkey" === $"n_nationkey")
      .select($"s_suppkey", $"n_name".as("nation"))
    t.lineitem
      .join(broadcast(redParts), $"l_partkey" === $"p_partkey")
      .join(broadcast(suppNation), $"l_suppkey" === $"s_suppkey")
      .join(t.orders.select($"o_orderkey", $"o_orderdate"),
        $"l_orderkey" === $"o_orderkey")
      .groupBy($"nation", year($"o_orderdate").cast("long").as("o_year"))
      .agg(dsum($"l_extendedprice" * (lit(1.0) - $"l_discount")
        - $"p_retailprice" * lit(0.4) * $"l_quantity").as("sum_profit"))
      .orderBy($"nation", $"o_year".desc)
  }

  /** TPC-H Q16-style: supplier diversity per part class — how many
    * distinct suppliers ship each (brand, type, size) combination,
    * excluding one brand, one type family, and "problem" suppliers
    * (negative balance stands in for the comment-flagged complaint
    * suppliers; the NOT-IN anti-join shape is Q16's). Exclusion list
    * anti-joins BEFORE the part broadcast join so excluded rows never
    * widen; the count-distinct aggregate shuffles the (class, supp)
    * key space only. */
  private def q16(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val t = Tables(spark, dir)
    val excluded = t.supplier.filter($"s_acctbal" < 0.0).select($"s_suppkey")
    val parts = t.part.filter($"p_brand" =!= "Brand#1"
        && !$"p_type".startsWith("PROMO")
        && $"p_size".isin(1, 5, 9, 15, 21, 27, 35, 41))
      .select($"p_partkey", $"p_brand", $"p_type", $"p_size")
    t.lineitem.select($"l_partkey", $"l_suppkey")
      .join(broadcast(excluded), $"l_suppkey" === $"s_suppkey", "left_anti")
      .join(broadcast(parts), $"l_partkey" === $"p_partkey")
      .groupBy($"p_brand", $"p_type", $"p_size")
      .agg(countDistinct($"l_suppkey").as("supplier_cnt"))
      .orderBy($"supplier_cnt".desc, $"p_brand", $"p_type", $"p_size")
  }

  /** TPC-H Q11-style: important-stock identification — parts whose
    * NATION_3-supplied stock value exceeds 1.5× the mean per-part value
    * (the fixture lacks partsupp, so the supply catalog is lineitem-
    * derived: value of a part = Σ l_extendedprice · l_quantity over its
    * NATION_3-supplier lineitems; the fixed 0.0001 fraction of the
    * original is mean-relative here so the selectivity is
    * scale-invariant — ~24 % of parts at every SF). Q11's structure
    * survives intact: grouped aggregate + HAVING against a global
    * scalar subquery over the same derivation. The scalar (total,
    * n_parts) is one broadcast row; the threshold compare converts the
    * exact decimal sums to double on BOTH sides with the identical
    * expression shape, so the engines compare identical IEEE values
    * (the q20 discipline). One fact shuffle (the part aggregate). */
  private def q11(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val t = Tables(spark, dir)
    val n3Supp = t.supplier
      .join(t.nation.filter($"n_name" === "NATION_3"),
        $"s_nationkey" === $"n_nationkey")
      .select($"s_suppkey")
    val ps = t.lineitem
      .join(broadcast(n3Supp), $"l_suppkey" === $"s_suppkey", "left_semi")
      .groupBy($"l_partkey")
      .agg(sum(($"l_extendedprice" * $"l_quantity").cast("decimal(18,6)"))
        .as("value_dec"))
    val totals = ps.agg(sum($"value_dec").as("tot"), count(lit(1)).as("np"))
    ps.crossJoin(broadcast(totals))
      .filter($"value_dec".cast("double")
        > lit(1.5) * $"tot".cast("double") / $"np")
      .select($"l_partkey", round($"value_dec".cast("double"), 6).as("value"))
      .orderBy($"value".desc, $"l_partkey")
  }

  /** TPC-H Q12-style: shipping-mode service levels — per mode class,
    * how many late-shipped lineitems belonged to critical- vs
    * normal-priority orders (the fixture lacks l_shipmode and the
    * commit/receipt dates; l_returnflag's A/R classes stand in for the
    * two audited modes and "shipped >45 days after the order was
    * placed" is the lateness predicate over the columns the fixture
    * does carry). Shape is Q12's: fact-dimension equi-join with a
    * cross-table residual predicate, then a two-way conditional count
    * over a 2-row key space — the join shuffles on orderkey, the
    * aggregate is map-combined to 2 rows. Pure counts: engine-exact
    * with no decimal routing — but DuckDB types sum(CASE…) as HUGEINT
    * (→ float64 in pandas), so the oracle casts both counts to BIGINT
    * explicitly, the same rule q9/m4 apply to every integer
    * aggregate. */
  private def q12(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val t = Tables(spark, dir)
    val critical = Seq("1-URGENT", "2-HIGH")
    t.orders.select($"o_orderkey", $"o_orderdate", $"o_orderpriority")
      .join(t.lineitem.select($"l_orderkey", $"l_returnflag", $"l_shipdate"),
        $"o_orderkey" === $"l_orderkey")
      .filter($"l_returnflag".isin("A", "R")
        && $"l_shipdate" > $"o_orderdate" + expr("INTERVAL 45 DAYS")
        && $"l_shipdate" >= lit("1996-01-01").cast("timestamp")
        && $"l_shipdate" < lit("1997-01-01").cast("timestamp"))
      .groupBy($"l_returnflag")
      .agg(
        sum(when($"o_orderpriority".isin(critical: _*), 1L).otherwise(0L))
          .as("high_line_count"),
        sum(when($"o_orderpriority".isin(critical: _*), 0L).otherwise(1L))
          .as("low_line_count"))
      .orderBy($"l_returnflag")
  }

  private val Salt = 8

  /** Two-phase salted aggregation: phase 1 groups by (key, salt) —
    * spreading any hot key over `Salt` reducers — phase 2 merges the
    * sub-aggregates. Identical result to the direct group-by. */
  private def salted(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val phase1 = Tables(spark, dir).lineitem
      .withColumn("salt", pmod(xxhash64($"l_partkey", $"l_suppkey", $"l_orderkey"), lit(Salt)))
      .groupBy($"l_returnflag", $"salt")
      .agg(count(lit(1)).as("pc"), dsum($"l_quantity").as("ps"))
    phase1.groupBy($"l_returnflag")
      .agg(sum($"pc").as("n"),
        coalesce(sum($"ps"), lit(0.0)).cast("double").as("sum_qty"))
      .orderBy($"l_returnflag")
  }

  val oracles: Map[String, String] = Map(
    "tpch_q11" ->
      """WITH ps AS (
        |  SELECT l_partkey,
        |         sum(CAST(l_extendedprice * l_quantity AS DECIMAL(18,6))) AS value_dec
        |  FROM lineitem
        |  WHERE l_suppkey IN (SELECT s_suppkey FROM supplier
        |                      JOIN nation ON s_nationkey = n_nationkey
        |                      WHERE n_name = 'NATION_3')
        |  GROUP BY l_partkey),
        |tot AS (SELECT sum(value_dec) AS tot, count(*) AS np FROM ps)
        |SELECT l_partkey, round(CAST(value_dec AS DOUBLE), 6) AS value
        |FROM ps CROSS JOIN tot
        |WHERE CAST(value_dec AS DOUBLE) > 1.5 * CAST(tot AS DOUBLE) / np
        |ORDER BY value DESC, l_partkey""".stripMargin,
    "tpch_q12" ->
      """SELECT l_returnflag,
        |       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
        |                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
        |                THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE l_returnflag IN ('A', 'R')
        |  AND l_shipdate > o_orderdate + INTERVAL 45 DAYS
        |  AND l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    "tpch_q9" ->
      s"""SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
         |       ${sqlDsum("l_extendedprice * (1.0 - l_discount) - p_retailprice * 0.4 * l_quantity")}
         |         AS sum_profit
         |FROM lineitem
         |JOIN part ON l_partkey = p_partkey
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN nation ON s_nationkey = n_nationkey
         |JOIN orders ON l_orderkey = o_orderkey
         |WHERE p_name LIKE 'red%'
         |GROUP BY 1, 2
         |ORDER BY nation, o_year DESC""".stripMargin,
    "tpch_q16" ->
      """SELECT p_brand, p_type, p_size,
        |       count(DISTINCT l_suppkey) AS supplier_cnt
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_brand <> 'Brand#1'
        |  AND p_type NOT LIKE 'PROMO%'
        |  AND p_size IN (1, 5, 9, 15, 21, 27, 35, 41)
        |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
        |                        WHERE s_acctbal < 0.0)
        |GROUP BY p_brand, p_type, p_size
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin,
    "tpch_q21" ->
      """SELECT s_name, count(*) AS numwait
        |FROM lineitem l1
        |JOIN supplier ON s_suppkey = l1.l_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |WHERE l1.l_returnflag = 'R'
        |  AND n_name = 'NATION_3'
        |  AND EXISTS (SELECT 1 FROM orders
        |              WHERE o_orderkey = l1.l_orderkey AND o_orderstatus = 'F')
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |              WHERE l2.l_orderkey = l1.l_orderkey
        |                AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |                  WHERE l3.l_orderkey = l1.l_orderkey
        |                    AND l3.l_suppkey <> l1.l_suppkey
        |                    AND l3.l_returnflag = 'R')
        |GROUP BY s_name
        |ORDER BY numwait DESC, s_name
        |LIMIT 20""".stripMargin,
    "tpch_q2" ->
      """WITH ps AS (
        |  SELECT l_partkey, l_suppkey, min(l_extendedprice) AS supply_cost
        |  FROM lineitem GROUP BY l_partkey, l_suppkey),
        |regional AS (
        |  SELECT p_partkey, p_name, s_name, s_acctbal, n_name, supply_cost
        |  FROM ps
        |  JOIN part ON l_partkey = p_partkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  WHERE r_name = 'ASIA' AND p_size = 15 AND p_type = 'STANDARD')
        |SELECT s_acctbal, s_name, n_name, p_partkey, p_name, supply_cost
        |FROM regional r1
        |WHERE supply_cost = (SELECT min(supply_cost) FROM regional r2
        |                     WHERE r2.p_partkey = r1.p_partkey)
        |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
        |LIMIT 100""".stripMargin,
    "tpch_q20" ->
      """WITH sp AS (
        |  SELECT l_suppkey, l_partkey,
        |         sum(cast(l_quantity AS DECIMAL(18,6))) AS supp_qty
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l_shipdate < TIMESTAMP '1997-01-01'
        |    AND l_partkey IN (SELECT p_partkey FROM part WHERE p_type = 'PROMO')
        |  GROUP BY l_suppkey, l_partkey),
        |eligible AS (
        |  SELECT DISTINCT l_suppkey FROM (
        |    SELECT l_suppkey, supp_qty,
        |           sum(supp_qty) OVER (PARTITION BY l_partkey) AS part_qty
        |    FROM sp)
        |  WHERE CAST(supp_qty AS DOUBLE) > 0.5 * CAST(part_qty AS DOUBLE))
        |SELECT s_suppkey, s_name
        |FROM supplier
        |JOIN nation ON s_nationkey = n_nationkey
        |WHERE n_name = 'NATION_3'
        |  AND s_suppkey IN (SELECT l_suppkey FROM eligible)
        |ORDER BY s_name, s_suppkey""".stripMargin,
    "tpch_q5" ->
      s"""SELECT n_name, ${sqlDsum("l_extendedprice * (1.0 - l_discount)")} AS revenue
         |FROM region
         |JOIN nation ON n_regionkey = r_regionkey
         |JOIN customer ON c_nationkey = n_nationkey
         |JOIN orders ON o_custkey = c_custkey
         |JOIN lineitem ON l_orderkey = o_orderkey
         |JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = n_nationkey
         |WHERE r_name = 'ASIA'
         |  AND o_orderdate >= TIMESTAMP '1996-01-01'
         |  AND o_orderdate < TIMESTAMP '1997-01-01'
         |GROUP BY n_name
         |ORDER BY revenue DESC, n_name""".stripMargin,
    "tpch_q4" ->
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1996-04-01'
        |  AND EXISTS (
        |    SELECT 1 FROM lineitem
        |    WHERE l_orderkey = o_orderkey
        |      AND l_shipdate > o_orderdate + INTERVAL 60 DAYS)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "tpch_q10" ->
      s"""SELECT c_custkey, c_name, c_acctbal, n_name,
         |       ${sqlDsum("l_extendedprice * (1.0 - l_discount)")} AS revenue
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation ON c_nationkey = n_nationkey
         |WHERE l_returnflag = 'R'
         |  AND o_orderdate >= TIMESTAMP '1996-01-01'
         |  AND o_orderdate < TIMESTAMP '1996-04-01'
         |GROUP BY c_custkey, c_name, c_acctbal, n_name
         |ORDER BY revenue DESC, c_custkey
         |LIMIT 20""".stripMargin,
    "olap_percentiles" ->
      """SELECT l_returnflag,
        |       percentile_cont(0.5) WITHIN GROUP (ORDER BY l_quantity) AS p50_qty,
        |       percentile_cont(0.9) WITHIN GROUP (ORDER BY l_quantity) AS p90_qty,
        |       count(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    // q14: the ratio is rounded to 9 decimals, because the engines may
    // differ by 1 ulp in the decimal→double conversion of the sub-sums.
    "tpch_q14" ->
      s"""SELECT round(100.0
         |  * ${sqlDsum0("CASE WHEN p_type LIKE 'PROMO%' THEN l_extendedprice * (1.0 - l_discount) END")}
         |  / ${sqlDsum("l_extendedprice * (1.0 - l_discount)")}, 9) AS promo_revenue_pct
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |WHERE l_shipdate >= TIMESTAMP '1996-03-01'
         |  AND l_shipdate < TIMESTAMP '1996-04-01'""".stripMargin,
    "dim_supplier_geo" ->
      """SELECT s_suppkey, s_name, n_name AS nation, r_name AS region, s_acctbal
        |FROM supplier
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |ORDER BY s_suppkey""".stripMargin,
    "skew_salted_agg" ->
      s"""SELECT l_returnflag, count(*) AS n,
         |       ${sqlDsum0("l_quantity")} AS sum_qty
         |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "tpch_q7" ->
      s"""SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
         |       CAST(year(l_shipdate) AS BIGINT) AS l_year,
         |       ${sqlDsum("l_extendedprice * (1.0 - l_discount)")} AS revenue
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation cn ON c_nationkey = cn.n_nationkey
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN nation sn ON s_nationkey = sn.n_nationkey
         |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
         |  AND l_shipdate < TIMESTAMP '1998-01-01'
         |  AND ((sn.n_name = 'NATION_3' AND cn.n_name = 'NATION_7')
         |    OR (sn.n_name = 'NATION_7' AND cn.n_name = 'NATION_3'))
         |GROUP BY 1, 2, 3
         |ORDER BY supp_nation, cust_nation, l_year""".stripMargin,
    "tpch_q8" ->
      s"""SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
         |       round(
         |         ${sqlDsum0("CASE WHEN sn.n_name = 'NATION_5' THEN l_extendedprice * (1.0 - l_discount) END")}
         |         / ${sqlDsum("l_extendedprice * (1.0 - l_discount)")}, 9) AS mkt_share
         |FROM part
         |JOIN lineitem ON l_partkey = p_partkey
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation cn ON c_nationkey = cn.n_nationkey
         |JOIN region ON cn.n_regionkey = r_regionkey
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN nation sn ON s_nationkey = sn.n_nationkey
         |WHERE p_type = 'STANDARD' AND r_name = 'ASIA'
         |  AND o_orderdate >= TIMESTAMP '1996-01-01'
         |  AND o_orderdate < TIMESTAMP '1998-01-01'
         |GROUP BY 1 ORDER BY o_year""".stripMargin,
    "tpch_q13" ->
      """SELECT c_count, count(*) AS custdist
        |FROM (
        |  SELECT c_custkey, count(o_orderkey) AS c_count
        |  FROM customer
        |  LEFT JOIN orders ON c_custkey = o_custkey
        |    AND o_orderpriority <> '1-URGENT'
        |  GROUP BY c_custkey)
        |GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin,
    "tpch_q15" ->
      s"""WITH rev AS (
         |  SELECT l_suppkey,
         |         ${sqlDsum("l_extendedprice * (1.0 - l_discount)")} AS total_revenue
         |  FROM lineitem
         |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
         |    AND l_shipdate < TIMESTAMP '1996-04-01'
         |  GROUP BY l_suppkey)
         |SELECT s_suppkey, s_name, total_revenue
         |FROM rev JOIN supplier ON l_suppkey = s_suppkey
         |WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
         |ORDER BY s_suppkey""".stripMargin,
    "tpch_q17" ->
      s"""WITH brand_items AS (
         |  SELECT l_partkey, l_quantity, l_extendedprice
         |  FROM lineitem JOIN part ON l_partkey = p_partkey
         |  WHERE p_brand = 'Brand#12'),
         |thresholds AS (
         |  SELECT l_partkey AS t_partkey,
         |         ${sqlDavg("l_quantity")} * 0.2 AS qty_threshold
         |  FROM brand_items GROUP BY l_partkey)
         |SELECT ${sqlRound9(s"${sqlDsum0("l_extendedprice")} / 7.0")} AS avg_yearly
         |FROM brand_items JOIN thresholds ON l_partkey = t_partkey
         |WHERE l_quantity < qty_threshold""".stripMargin,
    "tpch_q19" ->
      s"""SELECT ${sqlDsum0("l_extendedprice * (1.0 - l_discount)")} AS revenue
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
         |       AND l_quantity BETWEEN 1 AND 11)
         |   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25
         |       AND l_quantity BETWEEN 10 AND 20)
         |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35
         |       AND l_quantity BETWEEN 20 AND 30)""".stripMargin,
    "tpch_q22" ->
      s"""SELECT CAST(c_nationkey % 5 AS BIGINT) AS nation_group,
         |       count(*) AS numcust,
         |       ${sqlDsum("c_acctbal")} AS totacctbal
         |FROM customer
         |WHERE c_acctbal > (SELECT ${sqlDavg("c_acctbal")}
         |                   FROM customer WHERE c_acctbal > 0.0)
         |  AND NOT EXISTS (SELECT 1 FROM orders
         |                  WHERE o_custkey = c_custkey
         |                    AND o_orderdate >= TIMESTAMP '1999-01-01')
         |GROUP BY 1 ORDER BY nation_group""".stripMargin)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "tpch_q2"           -> (q2 _),
    "tpch_q9"           -> (q9 _),
    "tpch_q11"          -> (q11 _),
    "tpch_q12"          -> (q12 _),
    "tpch_q16"          -> (q16 _),
    "tpch_q20"          -> (q20 _),
    "tpch_q21"          -> (q21 _),
    "tpch_q4"           -> (q4 _),
    "tpch_q5"           -> SqlProgram(oracles("tpch_q5")),
    "tpch_q7"           -> (q7 _),
    "tpch_q8"           -> (q8 _),
    "tpch_q10"          -> SqlProgram(oracles("tpch_q10")),
    "tpch_q13"          -> SqlProgram(oracles("tpch_q13")),
    "tpch_q14"          -> SqlProgram(oracles("tpch_q14")),
    "tpch_q15"          -> (q15 _),
    "tpch_q17"          -> (q17 _),
    "tpch_q19"          -> (q19 _),
    "tpch_q22"          -> (q22 _),
    "olap_percentiles"  -> SqlProgram(oracles("olap_percentiles")),
    "dim_supplier_geo"  -> SqlProgram(oracles("dim_supplier_geo")),
    "skew_salted_agg"   -> (salted _))
}
