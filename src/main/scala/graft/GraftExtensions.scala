package graft

import graft.functions.{BoundLiteral, FloatDotProduct, ShingleHashArray, SortedLongIntersectCount}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BinaryComparison, Expression, ExpressionInfo, In, InterpretedOrdering, Literal}
import org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan, Sort}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.{LOCAL_RELATION, SORT}
import org.apache.spark.sql.execution.{ColumnarRule, FilterExec, SparkPlan}

/** Library packaging for the engine's custom expressions: install via
  *
  *   spark.sql.extensions=graft.GraftExtensions
  *
  * ([[Sessions.builder]] sets it, or `.withExtensions(new GraftExtensions)`).
  * Injected functions are session-bound builtins — available to SQL and
  * `call_function` alike, on every executor, with no per-query
  * registration. `VectorFunctions.register` remains as the programmatic
  * fallback for sessions created without the conf. It also installs
  * [[BindFilterLiterals]], the physical rule that keeps request values
  * out of generated code, and [[SortLocalRelation]], the optimizer rule
  * that sorts a local relation on the driver. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectColumnar(_ => new ColumnarRule {
      override def preColumnarTransitions: Rule[SparkPlan] = BindFilterLiterals
    })
    ext.injectOptimizerRule(_ => SortLocalRelation)
    ext.injectFunction((
      FunctionIdentifier("float_dot"),
      new ExpressionInfo(classOf[FloatDotProduct].getName, "float_dot"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        FloatDotProduct(exprs(0), exprs(1))))
    ext.injectFunction((
      FunctionIdentifier("sorted_intersect_count"),
      new ExpressionInfo(classOf[SortedLongIntersectCount].getName,
        "sorted_intersect_count"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        SortedLongIntersectCount(exprs(0), exprs(1))))
    ext.injectFunction((
      FunctionIdentifier("shingle_hashes"),
      new ExpressionInfo(classOf[ShingleHashArray].getName, "shingle_hashes"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        ShingleHashArray(exprs(0))))

    // Dialect-compat aliases: tiny, exactly-semantics-matched spellings
    // Spark lacks, so catalog SQL written in the common warehouse dialect
    // (and the DuckDB oracle texts) runs verbatim on this engine. Each is
    // a pure rewrite to a builtin expression — codegen'd, no UDF tier.
    import org.apache.spark.sql.catalyst.expressions.{Sha2, UnixMicros, UnixSeconds}
    def alias(name: String, build: Seq[Expression] => Expression): Unit =
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftExtensions].getName, name),
        build))
    // sha256(x) = lowercase-hex SHA-256, exactly DuckDB's output shape
    // (Spark's sha2 already emits lowercase hex).
    alias("sha256", exprs => Sha2(exprs(0), Literal(256)))
    // epoch_us(ts) = microseconds since epoch (DuckDB spelling of
    // unix_micros). The input passes through a Cast to TimestampType —
    // a no-op for instant timestamps, and for TIMESTAMP_NTZ columns
    // (the regenerated fixtures' physical encoding for date-like
    // columns) the wall-clock→instant conversion under the pinned UTC
    // session, which is exactly DuckDB's epoch_us(naive-timestamp)
    // semantics. Schema-drift tolerance at the dialect layer: the raw
    // UnixMicros REJECTS NTZ at analysis.
    alias("epoch_us", exprs =>
      UnixMicros(org.apache.spark.sql.catalyst.expressions.Cast(
        exprs(0), org.apache.spark.sql.types.TimestampType)))
    // epoch(ts) = whole seconds since epoch. DuckDB returns fractional
    // seconds; identical wherever the result feeds integer bucketing
    // (floor(epoch/k) with integer k), which is the catalog's only use.
    alias("epoch", exprs =>
      UnixSeconds(org.apache.spark.sql.catalyst.expressions.Cast(
        exprs(0), org.apache.spark.sql.types.TimestampType)))

    // The broader warehouse-dialect spellings (see DialectCompat's
    // scaladoc for the exact-semantics notes). All pure rewrites to
    // builtin codegen'd expressions.
    import graft.functions.DialectCompat
    import org.apache.spark.sql.catalyst.expressions.{ArrayDistinct, ArrayFilter, ArrayJoin, ArrayTransform, Explode, GetJsonObject, SortArray, StringInstr, StringSplit}
    import org.apache.spark.sql.catalyst.expressions.aggregate.Percentile
    alias("len", exprs => DialectCompat.DuckLen(exprs(0)))
    alias("list_filter", exprs => ArrayFilter(exprs(0), exprs(1)))
    alias("list_transform", exprs => ArrayTransform(exprs(0), exprs(1)))
    alias("list_distinct", exprs => ArrayDistinct(exprs(0)))
    alias("array_to_string", exprs => ArrayJoin(exprs(0), exprs(1), None))
    alias("string_split_regex",
      exprs => StringSplit(exprs(0), exprs(1), Literal(-1)))
    alias("unnest", exprs => Explode(exprs(0)))
    alias("range", DialectCompat.rangeCompat)
    alias("quantile_cont", exprs => new Percentile(exprs(0), exprs(1)))
    alias("json_extract_string", exprs => GetJsonObject(exprs(0), exprs(1)))
    alias("strpos", exprs => StringInstr(exprs(0), exprs(1)))
    alias("regexp_replace", DialectCompat.regexpReplaceCompat)
    alias("regexp_extract_all", DialectCompat.regexpExtractAllCompat)
    alias("list_sort", exprs => SortArray(exprs(0), Literal(true)))
    alias("list", exprs =>
      org.apache.spark.sql.catalyst.expressions.aggregate.CollectList(exprs(0)))
    // divide(a, b) = integer division on integral args — the warehouse
    // dialect's named spelling of its parser-level `//` operator (Spark
    // spells it `a div b`; neither operator parses in the other engine,
    // the named form runs in both). Registered as IntegralDivide: the
    // catalog uses it on BIGINT only, where both engines agree exactly
    // (truncating division, all-positive operands in every text).
    alias("divide", exprs =>
      org.apache.spark.sql.catalyst.expressions.IntegralDivide(exprs(0), exprs(1)))
    // list_value(a, b, ...) = array constructor (the warehouse dialect's
    // named spelling of its `[...]` literal, which Spark cannot parse).
    alias("list_value", exprs =>
      org.apache.spark.sql.catalyst.expressions.CreateArray(exprs))
    // list_dot_product: same left-to-right double accumulation as the
    // engine's float_dot kernel — see ListDotProduct's scaladoc for the
    // bit-exactness argument that puts s1/s2 on the parity surface.
    alias("list_dot_product", exprs =>
      graft.functions.ListDotProduct(exprs(0), exprs(1)))
    alias("list_max", exprs =>
      org.apache.spark.sql.catalyst.expressions.ArrayMax(exprs(0)))
    // list_slice(l, i, j) = 1-based INCLUSIVE [i..j] (the warehouse
    // dialect's named form of its `l[i:j]` parser slice) = Spark's
    // slice(l, i, j-i+1). Both clamp past the end and return [] for a
    // start beyond the end; catalog texts always have j >= i (constant
    // positive widths), the case where the two engines agree exactly.
    // list_extract(l, i) = 1-based element access (`l[i]` is 1-based
    // there but 0-based in Spark — a silent off-by-one, never shared).
    alias("list_slice", exprs =>
      org.apache.spark.sql.catalyst.expressions.Slice(exprs(0), exprs(1),
        org.apache.spark.sql.catalyst.expressions.Add(
          org.apache.spark.sql.catalyst.expressions.Subtract(exprs(2), exprs(1)),
          Literal(1))))
    alias("list_extract", exprs =>
      org.apache.spark.sql.catalyst.expressions.ElementAt(exprs(0),
        // ElementAt indexes with INT; the warehouse dialect's integer
        // literals/ranges are BIGINT. Catalog indices are tiny.
        org.apache.spark.sql.catalyst.expressions.Cast(exprs(1),
          org.apache.spark.sql.types.IntegerType)))
    // string_split(s, sep): literal-separator split. Mapped onto Spark's
    // regex split — identical whenever the separator has no regex
    // metacharacters, which is the only shared-dialect usage (the
    // catalog splits on ' '); keeps trailing empties like the source
    // dialect (limit -1).
    alias("string_split", exprs =>
      org.apache.spark.sql.catalyst.expressions.StringSplit(
        exprs(0), exprs(1), Literal(-1)))
    // xor(a, b) = bitwise xor, the shared NAMED spelling: the operator
    // forms disagree (`^` is xor on Spark but POWER on the warehouse
    // dialect — a silent semantic swap, never shared).
    alias("xor", exprs =>
      org.apache.spark.sql.catalyst.expressions.BitwiseXor(exprs(0), exprs(1)))
    // NOTE: date_diff/datediff/date_trunc are NOT bridgeable — Spark's
    // PARSER owns those names with unit-keyword grammar before the
    // function registry can see a registration (verified: a registered
    // 3-arg alias never fires; the parser rejects the quoted unit
    // first). e9/f_date/olap_rolling_range stay on the DuckDB-gate-only
    // tier for this reason.
    alias("list_min", exprs =>
      org.apache.spark.sql.catalyst.expressions.ArrayMin(exprs(0)))
    alias("list_contains", exprs =>
      org.apache.spark.sql.catalyst.expressions.ArrayContains(exprs(0), exprs(1)))
    alias("list_reverse", exprs =>
      org.apache.spark.sql.catalyst.expressions.Reverse(exprs(0)))
    // list_sum = fold with + over the element type, spelled as the same
    // ArrayAggregate the SQL parser would build for
    // `aggregate(l, 0, (acc, x) -> acc + x)` — names are fresh to avoid
    // capture; null elements propagate in both engines (catalog arrays
    // are null-free by construction).
    alias("list_sum", { exprs =>
      import org.apache.spark.sql.catalyst.expressions.{Add, ArrayAggregate, LambdaFunction, UnresolvedNamedLambdaVariable}
      val acc = UnresolvedNamedLambdaVariable(Seq("graft_ls_acc"))
      val x = UnresolvedNamedLambdaVariable(Seq("graft_ls_x"))
      val fin = UnresolvedNamedLambdaVariable(Seq("graft_ls_fin"))
      ArrayAggregate(exprs(0), Literal(0L),
        LambdaFunction(Add(acc, x), Seq(acc, x)),
        LambdaFunction(fin, Seq(fin)))
    })
    // encode: the warehouse dialect's 1-arg form means UTF-8 (its
    // string→BLOB conversion, which Spark spells CAST(.. AS BINARY) —
    // no shared spelling); the 2-arg form stays Spark's builtin. This
    // is the bridge that puts the multimodal family's
    // octet_length(encode(text)) byte accounting on the parity surface.
    alias("encode", {
      case Seq(s) => new org.apache.spark.sql.catalyst.expressions.Encode(
        s, Literal("UTF-8"))
      case Seq(s, cs) => new org.apache.spark.sql.catalyst.expressions.Encode(s, cs)
      case exprs => throw new IllegalArgumentException(
        s"encode expects 1 or 2 arguments, got ${exprs.length}")
    })
  }
}

/** Physical rule: the primitive literals that a `FilterExec` compares
  * against (a comparison operand, an IN list value) become
  * [[BoundLiteral]]s, which generated code reads by reference. A serving
  * read then compiles once per route, not once per request key: with the
  * value inlined, each new `o_orderkey = <id>` would compile a new
  * whole-stage class. It runs before whole-stage codegen, as a columnar
  * pre-transition rule, because those rules also run on plans without an
  * exchange, where adaptive execution's stage rules never run. The scan
  * below the filter captured its pushed filters at planning time from
  * the real literal, so parquet pushdown and row-group pruning are
  * unchanged, and the bound value renders as the literal did, so plan
  * strings are too. */
object BindFilterLiterals extends Rule[SparkPlan] {
  override def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case f: FilterExec =>
      val bound = f.condition.transformUp {
        case c: BinaryComparison => c.mapChildren(bind)
        case in: In if in.list.exists(e => bind(e) ne e) => in.copy(list = in.list.map(bind))
      }
      if (bound eq f.condition) f else f.copy(condition = bound)
  }

  private def bind(e: Expression): Expression = e match {
    case Literal(v, t) if v != null && BoundLiteral.inlined(t) => BoundLiteral(v, t)
    case other => other
  }
}

/** Optimizer rule: a global `Sort` over a `LocalRelation` becomes the
  * relation with its rows sorted on the driver, by an interpreted
  * ordering (no generated class). `ConvertToLocalRelation` already folds
  * `Project`, `Filter` and `Limit` over a local relation this way; with
  * `Sort` folded too, a serving feed whose rows all live in the journal
  * (`EntityState.current(where)` once the base's statistics rule the
  * key out) optimizes to one local relation, which collects with no
  * Spark job. The sort is stable, and its ordering is the one Spark's
  * sort uses (nulls first or last, NaN greatest). Partition-local sorts,
  * streaming relations and sort keys that cannot be evaluated on the
  * driver are left alone; the tree-pattern guard makes the rule free on
  * plans without both a sort and a local relation. */
object SortLocalRelation extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformWithPruning(_.containsAllPatterns(SORT, LOCAL_RELATION)) {
      case Sort(order, true, l: LocalRelation, _) if !l.isStreaming &&
          order.forall(o => o.deterministic && !ConvertToLocalRelation.hasUnevaluableExpr(o.child)) =>
        l.copy(data = l.data.sorted(new InterpretedOrdering(order, l.output)))
    }
}
