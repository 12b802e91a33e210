package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the r13 compiled bigram closure (t23Bigrams' mapPartitions form)
  * against the expression form it replaced —
  * `filter(size(wv) >= 2)` + `explode(transform(sequence(1, size-1),
  * i => array_join(slice(wv, i, 2), " ")))` over `words(text)` — on the
  * fixture plus boundary docs (0/1/2 words, repeated separators, null). */
class T23BigramEquivalenceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  test("t23 bigram closure equals the explode(transform) expression form") {
    import spark.implicits._
    val adversarial = Seq(
      910001L -> "", 910002L -> "   ", 910003L -> "one",
      910004L -> "one two", 910005L -> "one two three",
      910006L -> "  a  b\tc\nd  ", 910007L -> "héllo wörld — café",
      910008L -> (null: String))
      .toDF("doc_id", "text")
    val sample = Tables(spark, dir).documents.select($"doc_id", $"text")
      .unionByName(adversarial)
    val wv = filter(split($"text", "\\s+"), w => w =!= lit(""))
    val expected = sample
      .select($"doc_id", wv.as("wv"))
      .filter(size($"wv") >= 2)
      .select($"doc_id", explode(transform(sequence(lit(1), size($"wv") - 1),
        i => array_join(slice($"wv", i, lit(2)), " "))).as("b"))
      .groupBy($"doc_id", $"b").count()
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    val actual = graft.operators.TextAnalysis.t23BigramsKernelForTest(sample)
      .groupBy($"doc_id", $"b").count()
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(actual == expected,
      s"bigram multiset divergence: ${(actual.toSet diff expected.toSet).take(3)} / " +
        s"${(expected.toSet diff actual.toSet).take(3)}")
  }

  test("t14 distinct-5-gram closure equals explode(array_distinct(ngrams(w,5)))") {
    import spark.implicits._
    val adversarial = Seq(
      920001L -> "", 920002L -> "one two three four",
      920003L -> "one two three four five",
      920004L -> "a b c d e f g", 920005L -> "x x x x x x x", // repeats dedup
      920006L -> "  pad  a\tb\nc d e  ", 920007L -> (null: String))
      .toDF("doc_id", "text")
    val sample = Tables(spark, dir).documents.select($"doc_id", $"text")
      .unionByName(adversarial)
    val wv = filter(split($"text", "\\s+"), w => w =!= lit(""))
    val ng = when(size(wv) >= 5,
        transform(sequence(lit(1), size(wv) - 4),
          i => concat_ws(" ", (0 until 5).map(k =>
            element_at(wv, i + k)): _*)))
      .otherwise(array().cast("array<string>"))
    val expected = sample
      .select($"doc_id", explode(array_distinct(ng)).as("gram"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val actual = graft.operators.PipelineOps.t14GramsKernelForTest(sample)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(actual == expected,
      s"5-gram set divergence: ${(actual diff expected).take(3)} / " +
        s"${(expected diff actual).take(3)}")
  }

  /** Spark's `lower` lowercases a string that holds a non-ASCII
    * character with the JVM default locale, so the case runs under the
    * default locale and again under Turkish, where `I` and `İ` lowercase
    * differently (doc 940004). */
  private def t25Case(): Unit = {
    import spark.implicits._
    val adversarial = Seq(
      940001L -> "", 940002L -> "ABC def GhI", 940003L -> "x1y2z3",
      940004L -> "İstanbul I THE End ß ÀÉ naïve", // casing edge chars
      940005L -> "日本語abcテキストDEF", 940006L -> "---", 940007L -> (null: String))
      .toDF("doc_id", "text")
    val sample = Tables(spark, dir).documents.select($"doc_id", $"text")
      .unionByName(adversarial)
    val expected = sample
      .select($"doc_id",
        explode(expr("regexp_extract_all(lower(text), '[a-z]+', 0)")).as("w"))
      .groupBy($"doc_id", $"w").count()
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    val actual = graft.operators.TextAnalysis.t25WordsKernelForTest(sample)
      .groupBy($"doc_id", $"w").count()
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(actual == expected,
      s"word multiset divergence: ${(actual.toSet diff expected.toSet).take(3)} / " +
        s"${(expected.toSet diff actual.toSet).take(3)}")
  }

  test("t25 lowercase-letter-run closure equals regexp_extract_all(lower, '[a-z]+')") {
    t25Case()
  }

  test("t25 closure equals regexp_extract_all(lower, '[a-z]+') under a Turkish default locale") {
    val prev = java.util.Locale.getDefault
    java.util.Locale.setDefault(java.util.Locale.forLanguageTag("tr"))
    try t25Case()
    finally java.util.Locale.setDefault(prev)
  }
}
