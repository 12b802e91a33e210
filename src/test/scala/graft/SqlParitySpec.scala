package graft

import graft.operators.SqlProgram
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnresolvedWith}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** The catalog's oracle SQL is written ONCE in the shared Spark∩DuckDB
  * dialect — with `GraftExtensions`' dialect-compat spellings installed
  * (sha256, len-on-arrays, list_filter/list_transform, range, unnest,
  * epoch_us, quantile_cont, ... — see `DialectCompat`), the
  * `SparkEntry.sqlPortable` oracle texts run VERBATIM on Spark SQL
  * (the first test states how many). This spec executes each via
  * spark.sql over the temp-view catalog and requires row-for-row
  * equality with the catalog program: one query text, three engines
  * (the catalog program, Spark SQL, DuckDB), one result.
  *
  * It also keeps one program per query. A catalog entry is either a
  * DataFrame program or its oracle text served through `SqlProgram`.
  * A DataFrame program must NOT be plan-equal to its text under
  * `SqlProgram` (a `sameResult`-equal optimized plan and the same
  * physical operator sequence): such a program only repeats the text
  * and should be replaced by it. tpch_q17 needs no exemption: its
  * DataFrame program broadcasts the per-part threshold by hand, and its
  * text plans a sort-merge join there before adaptive execution. A `SqlProgram` entry must serve the
  * oracle text itself, with no backslash (the parity profile's
  * escaped-literal parsing does not hold for catalog runs) and no CTE
  * named after a fixture table (`SqlProgram` binds fixture names, so
  * such a CTE would be bypassed).
  *
  * `spark.sql.parser.escapedStringLiterals=true` is part of the parity
  * profile: the warehouse dialect treats backslashes in string literals
  * as raw regex characters ('\s+'), where Spark's default parser would
  * consume them as escapes — a silent regex rewrite, not an error.
  *
  * The remaining texts use constructs with no shared spelling or
  * shared SEMANTICS to bridge — each pinned here so a future round
  * doesn't re-litigate them (s5/s8's parallel-unnest zipping was
  * RESTATED in the third session as a single range unnest +
  * 1-based list_extract and moved onto the surface, along with
  * t28/x4, which had simply never been tried):
  * recursive CTEs with UNION dedup (d7), `AS MATERIALIZED` CTE hints
  * that are load-bearing in the warehouse engine (its unrolled
  * multi-step CTE chains recompute exponentially without them) plus
  * anonymous-struct argmin spellings (s11, s12, t24, t25), correlated
  * lateral `unnest(generate_series(...)) u(i)` FROM-clause generators
  * (d11, d12), IGNORE NULLS inside the call parens (e7,
  * olap_gap_fill), string-unit date_diff/datediff that Spark's PARSER
  * owns with unit-keyword grammar before the function registry can see
  * a registration (e9, f_date, olap_rolling_range — verified: a
  * registered 3-arg alias never fires), ordered aggregation
  * `list(x ORDER BY y)` / `string_agg(x, sep ORDER BY y)` inside the
  * call parens (f_array; t29, whose chunk hash NEEDS the ordered
  * concat — Spark's ordered-agg spelling is `listagg ... WITHIN GROUP`,
  * a different grammar — and which additionally subscripts with the
  * warehouse's 1-based `w[i]` where Spark's subscript is silently
  * 0-based), and
  * length-free VARCHAR casts and fmt-style format (f_scalar). The
  * round-8 ANN oracles (s3, s6) are off-surface for a syntactic
  * reason: they embed the 64 SRP planes as bracketed list literals
  * `[1.0, -1.0, ...]` inside VALUES rows (Spark has no bracket array
  * literal — only `array(...)` — and rewriting 64×64 literals through
  * a dialect alias buys nothing) plus the `<<` bitshift operator
  * (Spark spells it shiftleft). Their
  * cross-engine check is the driver's DuckDB gate — which for these
  * two is a FULL hash gate, stronger than most of the pinned set.
  *
  * Round-7 bridges (each alias is a pure rewrite to builtin codegen'd
  * expressions; see GraftExtensions): `divide(a, b)` — the named
  * spelling of integer division — moved g1/g5/w10/pipe3; `max_by` with
  * a unique ordering key moved w11; a fixed-width lpad sort-key
  * encoding of the (us, eid, ch) struct order moved e14; `list_value`
  * (the named array constructor) moved e4; `list_dot_product`
  * (registered with the engine kernel's exact left-to-right double
  * accumulation) + `list_max` + `list_transform(..., CAST AS DOUBLE)`
  * moved s1/s2/s7; 1-arg `encode` (string→BLOB, UTF-8 implied) moved
  * the whole multimodal family m1–m5; `list_slice`/`list_extract` (the
  * named 1-based forms of the `l[i:j]`/`l[i]` parser syntax — the
  * subscript operator itself is 0-based on Spark, a silent off-by-one)
  * + `string_split` + `list_min`/`list_sum` moved
  * t4/t12/t13/t14/t23/d3/d4/d9/d10/pipe2; and `xor` (the named
  * bitwise xor — the `^` operator means POWER in the warehouse
  * dialect) moved d5b, with `list_extract` also moving s9.
  */
class SqlParitySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  // The list lives in main (SparkEntry.sqlPortable): ThriftServe serves
  // the same surface over the JDBC wire.
  private val portable: Seq[String] = SparkEntry.sqlPortable

  test(s"parity surface covers ${portable.size} oracle texts") {
    assert(portable.size >= 150, s"parity surface shrank to ${portable.size}")
    assert(portable.toSet.subsetOf(SparkEntry.oracleSql.keySet))
    val sqlPrograms = SparkEntry.queries.collect { case (n, _: SqlProgram) => n }.toSet
    assert(sqlPrograms.subsetOf(portable.toSet), sqlPrograms -- portable)
  }

  /** Same optimized plan up to expression ids, and the same physical
    * operator sequence before adaptive execution. */
  private def planEqual(a: DataFrame, b: DataFrame): Boolean = {
    def ops(d: DataFrame) = d.queryExecution.sparkPlan.collect { case p => p.nodeName }
    a.queryExecution.optimizedPlan.sameResult(b.queryExecution.optimizedPlan) && ops(a) == ops(b)
  }

  private def cteNames(plan: LogicalPlan): Seq[String] =
    plan.collectWithSubqueries { case w: UnresolvedWith =>
      w.cteRelations.flatMap { case (n, q, _) => n +: cteNames(q) }
    }.flatten

  portable.foreach { name =>
    test(s"$name: oracle SQL runs verbatim on Spark SQL with identical results") {
      Tables(spark, dir).registerAll()
      val prev = spark.conf.get("spark.sql.parser.escapedStringLiterals")
      spark.conf.set("spark.sql.parser.escapedStringLiterals", "true")
      try {
        val text = SparkEntry.oracleSql(name)
        val viaSql = spark.sql(text).collect().toSeq
        val program = SparkEntry.queries(name)
        val df = program(spark, dir)
        val viaDf = df.collect().toSeq
        assert(viaSql.map(_.toSeq) == viaDf.map(_.toSeq),
          s"$name: Spark SQL result differs from the catalog program's result")
        program match {
          case p: SqlProgram =>
            assert(p.text eq text, s"$name: serves a copy of its oracle text")
            assert(!text.contains('\\'), s"$name: text has a backslash")
            val shadowing = cteNames(spark.sessionState.sqlParser.parsePlan(text)).filter(Tables.names.contains)
            assert(shadowing.isEmpty, s"$name: CTEs named after fixture tables: $shadowing")
          case _ =>
            assert(!planEqual(df, SqlProgram(text)(spark, dir)),
              s"$name: the DataFrame program plans like its oracle text; serve the text through SqlProgram")
        }
      } finally spark.conf.set("spark.sql.parser.escapedStringLiterals", prev)
    }
  }

  test("SqlProgram binds the fixtures of the dir it is given and registers no temp view") {
    val s = spark.newSession()
    val program = SparkEntry.queries("p4_filter_scan")
    assert(program.isInstanceOf[SqlProgram])
    val results = Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01").map { d =>
      val got = program(s, d).collect().toSeq
      val expected = Tables(s, d).orders.filter(col("o_orderstatus") === "O")
        .select("o_orderkey", "o_custkey", "o_totalprice").orderBy("o_orderkey").collect().toSeq
      assert(got == expected, s"p4_filter_scan over $d")
      got
    }
    assert(results(0) != results(1), "the two dirs must give different rows")
    assert(s.catalog.listTables().collect().filter(_.isTemporary).isEmpty)
  }
}
