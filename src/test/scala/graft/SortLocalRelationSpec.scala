package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan, Sort}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** `SortLocalRelation` sorts a global sort over a local relation on the
  * driver, as Spark's own sort would order it, and changes no other
  * plan: not a partition-local sort, not a sort over a scan, and no
  * catalog program's optimized plan. */
class SortLocalRelationSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = s"${sys.props("user.home")}/testdata/sf0.001"

  private def sorts(p: LogicalPlan): Seq[Sort] = p.collect { case s: Sort => s }

  /** `body` with the rule excluded from the optimizer. */
  private def withoutRule[A](body: => A): A = {
    val key = "spark.sql.optimizer.excludedRules"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, SortLocalRelation.ruleName)
    try body finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("the driver-side sort equals Spark's sort: asc and desc, nulls first and last, NaN, multiple keys") {
    val local = spark.sql(
      """SELECT * FROM VALUES
        |  (1, 3, 'b', 1.5D), (2, NULL, 'a', double('NaN')), (3, 1, NULL, -0.0D), (4, 3, 'a', NULL),
        |  (5, 2, 'c', 0.0D), (6, NULL, 'b', -1.0D), (7, 1, 'b', double('Infinity')), (8, 2, 'é', 1.5D)
        |  AS t(id, k, s, d)""".stripMargin)
    // The same rows behind an exchange, so no local relation is left
    // for the rule and Spark's sort runs.
    val spread = local.repartition(3)
    // Each ordering with the columns its keys read.
    val orders: Seq[(Seq[Column], Seq[String])] = Seq(
      Seq(col("k").asc) -> Seq("k"), Seq(col("k").desc) -> Seq("k"),
      Seq(col("k").asc_nulls_last) -> Seq("k"), Seq(col("k").desc_nulls_first) -> Seq("k"),
      Seq(col("s").asc) -> Seq("s"), Seq(col("s").desc_nulls_last) -> Seq("s"),
      Seq(col("d").asc) -> Seq("d"), Seq(col("d").desc) -> Seq("d"),
      Seq(col("k").desc_nulls_last, col("s").asc_nulls_first, col("id").desc) -> Seq("k", "s", "id"),
      Seq(col("s").asc, col("d").desc, col("id")) -> Seq("s", "d", "id"),
      Seq((col("k") * 2 - col("id")).asc, col("id")) -> Seq("k", "id"))
    orders.foreach { case (o, keyCols) =>
      val driver = local.orderBy(o: _*)
      val shuffled = spread.orderBy(o: _*)
      assert(driver.queryExecution.optimizedPlan.isInstanceOf[LocalRelation], o.toString)
      assert(sorts(shuffled.queryExecution.optimizedPlan).nonEmpty, o.toString)
      assert(withoutRule(sorts(local.orderBy(o: _*).queryExecution.optimizedPlan)).nonEmpty)
      // Rows with equal keys may come in either order; the key sequence
      // may not, and with the id as the last key there are no ties. Keys
      // compare as text (NaN equals itself there), with -0.0 read as 0.0
      // (the two are one key to both sorts).
      def keys(df: DataFrame): Seq[String] =
        df.collect().toSeq.map(r => keyCols.map(c => r.get(r.fieldIndex(c)) match {
          case d: Double if d == 0.0 => "0.0"
          case v => String.valueOf(v)
        }).mkString(","))
      assert(keys(driver) == keys(shuffled), o.toString)
      val total = o :+ col("id")
      assert(local.orderBy(total: _*).collect().toSeq == spread.orderBy(total: _*).collect().toSeq, o.toString)
    }
  }

  test("partition-local sorts and sorts over a scan are left alone") {
    val local = spark.sql("SELECT * FROM VALUES (2, 'b'), (1, 'a') AS t(id, s)")
    val within = local.sortWithinPartitions(col("id")).queryExecution.optimizedPlan
    assert(sorts(within).map(_.global) == Seq(false), within.toString)
    val scan = Tables(spark, dir).orders.orderBy(col("o_orderkey")).queryExecution.optimizedPlan
    assert(SortLocalRelation(scan) eq scan)
    assert(sorts(scan).nonEmpty)
  }

  test("the rule changes no catalog program's optimized plan but the two that sort driver-computed rows, and not their rows") {
    def shape(p: LogicalPlan): String = p.treeString.replaceAll("#\\d+L?", "#")
    val changed = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, program) =>
      val analyzed = program(spark, dir).queryExecution.analyzed
      val withRule = spark.sessionState.executePlan(analyzed).optimizedPlan
      val without = withoutRule(spark.sessionState.executePlan(analyzed).optimizedPlan)
      if (shape(withRule) == shape(without)) None else Some(name)
    }
    // s10 sorts the 64 principal-component loadings it computes on the
    // driver; t24 sorts its driver-side merge trace. Both now sort those
    // rows on the driver, as the rule is meant to.
    assert(changed == Seq("s10_pca_power", "t24_bpe_merges"), changed)
    changed.foreach { name =>
      val df = SparkEntry.queries(name)(spark, dir)
      assert(df.queryExecution.optimizedPlan.isInstanceOf[LocalRelation], name)
      assert(df.collect().toSeq == withoutRule(SparkEntry.queries(name)(spark, dir).collect().toSeq), name)
    }
  }
}
