package graft

import graft.functions.{KeySet, KeySetProbe}
import org.apache.spark.sql.{AnalysisException, Column, GraftColumns}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The state store's journal-key probe: the generated and the
  * interpreted path agree with a driver-side membership test, for one
  * and for several integral key columns, with nulls in the probed rows. */
class KeySetProbeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def probe(cols: Seq[String], keys: Seq[Seq[Long]]): Column =
    GraftColumns.of(KeySetProbe(cols.map(UnresolvedAttribute.quoted), new KeySet(keys)))

  test("KeySet answers whole-key and first-column membership by binary search") {
    val ks = new KeySet(Seq(Seq(5L, 2L), Seq(1L, 9L), Seq(5L, -3L), Seq(Long.MinValue, 0L)))
    assert(ks.size == 4 && ks.width == 2 && ks.toString == "4 keys")
    assert(Seq(5L, 1L, Long.MinValue).forall(ks.containsFirst))
    assert(!ks.containsFirst(2L) && !ks.containsFirst(Long.MaxValue))
    assert(Seq(Array(5L, 2L), Array(1L, 9L), Array(5L, -3L), Array(Long.MinValue, 0L)).forall(ks.contains))
    assert(!ks.contains(Array(5L, 9L)) && !ks.contains(Array(1L, 2L)) && !ks.contains(Array(0L, 0L)))
  }

  test("generated and interpreted probes equal a driver-side membership test, nulls never match") {
    import spark.implicits._
    val rows = for (a <- Seq(Some(1L), Some(2L), Some(7L), None); b <- Seq(Some(1), Some(3), None))
      yield (a, b)
    val df = rows.toDF("a", "b")
    val keys = Seq(Seq(1L, 3L), Seq(2L, 1L), Seq(7L, 7L), Seq(9L, 1L))
    val want2 = rows.filter { case (a, b) => a.isDefined && b.isDefined &&
      keys.contains(Seq(a.get, b.get.toLong)) }.map(_.toString).sorted
    val want1 = rows.filter { case (a, _) => a.exists(v => keys.exists(_.head == v)) }
      .map(_.toString).sorted
    def got(c: Column): Seq[String] =
      df.filter(c).as[(Option[Long], Option[Int])].collect().map(_.toString).sorted.toSeq
    def both(check: => Unit): Unit = {
      check
      val conf = spark.conf
      conf.set("spark.sql.codegen.wholeStage", "false")
      conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      try check
      finally { conf.unset("spark.sql.codegen.wholeStage"); conf.unset("spark.sql.codegen.factoryMode") }
    }
    both {
      assert(got(probe(Seq("a", "b"), keys)) == want2)
      assert(got(probe(Seq("a"), keys.map(_.take(1)))) == want1)
      // The store filters on the negation: null-keyed rows survive it.
      assert(got(!probe(Seq("a", "b"), keys)).size == rows.size - want2.size)
    }
  }

  test("a non-integral key column or a width mismatch fails analysis with the probe's message") {
    import spark.implicits._
    val df = Seq(("x", 1L)).toDF("s", "n")
    val e1 = intercept[AnalysisException](df.filter(probe(Seq("s"), Seq(Seq(1L)))).collect())
    assert(e1.getMessage.contains("key_set_probe takes integral key columns"))
    val e2 = intercept[AnalysisException](df.filter(probe(Seq("n"), Seq(Seq(1L, 2L)))).collect())
    assert(e2.getMessage.contains("1 key columns, 2-column keys"))
  }
}
