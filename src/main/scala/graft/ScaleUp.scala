package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic fixture scale-up for the EMPIRICAL scaling probe
  * (SURVEY §12): replicate a source fixture R× with disjoint key
  * spaces, so catalog queries can be timed at sf0.1 / ~sf0.3 / ~sf1 and
  * per-query scaling exponents measured rather than argued.
  *
  * Replication discipline — the point is to scale VOLUME without
  * manufacturing cross-replica structure that changes a query's
  * asymptotic class:
  *   - Keys shift by `r·(max+1)` per key domain; foreign keys shift by
  *     the SAME rule, so replica r's orders reference replica r's
  *     customers — join fanout and group cardinality per key are
  *     EXACTLY the source's, while key-space cardinality grows R×.
  *   - Entity-NAME columns (`s_name`, `c_name`, replicas r>0) get a
  *     3-char repeated-digit suffix: a common suffix leaves every
  *     within-replica Levenshtein distance unchanged, while distinct
  *     replica tags differ in all 3 positions, so no cross-replica
  *     name pair lands within edit distance 1 — fuzzy-join (j10)
  *     output volume grows linearly, matching the key-space rule.
  *     (Measured before the fix: unperturbed names made every entity
  *     appear R× verbatim and j10's true answer R²-sized — 12.3× wall
  *     at 10×; the operator was output-bound, the INPUT was wrong.)
  *   - `documents.text` (replicas r>0): every WORD is suffixed with a
  *     replica tag — an injective per-replica vocabulary rename. Shingle
  *     sets rename injectively with it, so within a replica every
  *     pairwise shingle intersection/union (hence every Jaccard value,
  *     hence the whole near/exact-dup structure) is EXACTLY the
  *     source's, while any cross-replica shingle overlap is exactly
  *     zero — near-dup volume grows linearly with R, never
  *     quadratically. (A first design appended a marker token after
  *     every 4th word; ScaleUpSpec caught 41k cross-replica colliding
  *     shingles — the 3-word gaps between markers are themselves
  *     complete unmarked 3-gram windows.)
  *   - `embeddings` (replicas r>0): a seeded per-replica ORTHOGONAL
  *     transform (dimension permutation + sign flips). Within a
  *     replica all pairwise angles and norms are untouched (ANN/
  *     centroid structure replicates exactly); across replicas vectors
  *     decorrelate, so near-neighbor volume scales linearly.
  *   - `region`/`nation` are fixed dimensions — copied as-is (a bigger
  *     corpus does not grow the world's nation list).
  *   - `events.ts` (replicas r>0): shifted by r × the axis span in
  *     whole days — a real 100× corpus spans more TIME, so replicas
  *     sharing one axis grew per-window density R× and the
  *     window/interval operators' scale rows read as quadratic
  *     replica-shape artifacts (r11 verdict #4). With the stretch,
  *     per-window/per-session structure within a replica is EXACTLY
  *     the source's (whole-day offsets relabel, never re-bin, every
  *     catalog window) and event-time volume scales linearly.
  *     `stretch-order-dates` opts the orders/lineitem DATE axis into
  *     the same treatment for targeted interval-join probes (see run's
  *     scaladoc for why it must not be the full-pass default).
  *
  * Usage: runMain graft.ScaleUp <srcSfDir> <outDir> <replicas> [tables]
  *
  * The optional 4th arg (comma list) restricts REPLICATION to a table
  * subset — the remaining tables are copied verbatim at 1× so every
  * catalog query still finds its inputs. This is the disk-budget lever
  * for the deep probes: a 100× replica of documents/embeddings/events
  * is ~340 MB where a full-fixture 100× would be ~1.6 GB dominated by
  * lineitem no deep-probe query touches at that scale. Full-fixture
  * mode scales to 999 replicas: customer/supplier name tags are
  * zero-padded constant-width suffixes (injective to 999), and the
  * documents `_r<N>` vocabulary tags and the seeded orthogonal
  * embedding transforms are injective at any replica count. */
object ScaleUp {

  private def shifted(df: DataFrame, rep: Int, keys: (String, Long)*): DataFrame =
    keys.foldLeft(df) { case (d, (k, domain)) =>
      d.withColumn(k, col(k) + lit(rep * domain))
    }

  /** Shift a time/date column by `days` whole days, per its physical
    * encoding (int64 NANOS events, TIMESTAMP/NTZ, DATE). Whole days
    * because every catalog window (5 min, 10 min, 1 day, the 7-day
    * grids anchored at fixed epochs) divides 24 h — so a replica's
    * within-replica window contents are EXACTLY the source's, just
    * relabeled by the offset. */
  private def shiftTime(df: DataFrame, column: String, days: Long): DataFrame = {
    import org.apache.spark.sql.types._
    df.schema(column).dataType match {
      case DateType => df.withColumn(column, date_add(col(column), days.toInt))
      case LongType =>
        df.withColumn(column, col(column) + lit(days * 86400L * 1000000000L))
      case TimestampType | TimestampNTZType =>
        df.withColumn(column, col(column) + expr(s"INTERVAL $days DAYS"))
      case other => throw new IllegalStateException(
        s"$column: unsupported time encoding $other")
    }
  }

  private val AllTables = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** Whole-day axis span of a time column, +1 day of margin — the
    * per-replica offset unit for the time-axis stretch. */
  private def axisSpanDays(df: DataFrame, column: String): Long = {
    import org.apache.spark.sql.types._
    val spanMicros = df.schema(column).dataType match {
      case LongType => // int64 NANOS encoding
        val r = df.agg(min(col(column)), max(col(column))).head()
        (r.getLong(1) - r.getLong(0)) / 1000L
      case _ =>
        val r = df.select(expr(
          s"unix_micros(CAST($column AS TIMESTAMP))").as("m"))
          .agg(min(col("m")), max(col("m"))).head()
        r.getLong(1) - r.getLong(0)
    }
    spanMicros / 86400000000L + 1L
  }

  def main(args: Array[String]): Unit = {
    val spark = Sessions.builder(Sessions.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def tables(csv: String): Set[String] =
      if (csv == "-") AllTables.toSet else csv.split(",").toSet
    args match {
      case Array(src, out, repStr) => run(spark, src, out, repStr.toInt)
      case Array(src, out, repStr, tablesCsv) =>
        run(spark, src, out, repStr.toInt, tables(tablesCsv))
      case Array(src, out, repStr, tablesCsv, "stretch-order-dates") =>
        run(spark, src, out, repStr.toInt, tables(tablesCsv),
          stretchOrderAxis = true)
    }
    spark.stop()
  }

  /** `stretchOrderAxis = true` additionally offsets each replica's
    * orders/lineitem DATE axis (o_orderdate + the three lineitem
    * dates, one shared span so their correlation is untouched) — the
    * targeted-probe mode for the interval/temporal operators (j11)
    * whose fixture-scale truth is otherwise quadratic in replica
    * count. OFF by default and NOT used for the full-catalog scale
    * pass: the TPC-H texts filter these axes with ABSOLUTE date
    * literals, so a stretched full fixture would shift replicas 1+
    * out of their selectivity windows and misrepresent exactly the
    * queries the pass exists to compare. (events.ts always stretches:
    * no catalog event query carries an absolute time literal.) */
  def run(spark: SparkSession, src: String, out: String, reps: Int,
          replicate: Set[String] = AllTables.toSet,
          stretchOrderAxis: Boolean = false): Unit = {
    // events.ts physical encoding varies by fixture generation (int64
    // NANOS or TIMESTAMP_NTZ — see Tables.events). When the source
    // footer carries NANOS, the conf surfaces it as plain INT64 and the
    // replica copies the column verbatim; scoped by the same footer
    // probe as the loader so the legacy conf never leaks onto sessions
    // whose fixtures don't need it.
    if (Tables.eventsCarriesNanos(spark, src))
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    import spark.implicits._

    def tbl(n: String) = spark.read.parquet(s"$src/$n.parquet")
    def domain(df: DataFrame, k: String): Long =
      df.agg(max(col(k))).head().getLong(0) + 1L
    def write(df: DataFrame, n: String): Unit =
      df.write.mode("overwrite").parquet(s"$out/$n.parquet")

    // Zero-padded replica tags are injective to 999 replicas; beyond
    // that the padding would alias and full-fixture mode must refuse.
    require(reps <= 999
        || !(replicate("customer") || replicate("supplier")),
      s"name tags support at most 999 replicas, got $reps with customer/supplier")

    // Fixed dimensions and unreplicated tables: verbatim 1× copies so
    // the out dir is a complete fixture for every catalog loader.
    (Seq("region", "nation") ++ AllTables.drop(2).filterNot(replicate))
      .foreach(n => write(tbl(n), n))

    def rep(df: DataFrame)(f: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until reps).map(r => f(df, r)).reduce(_ unionByName _)
    // Constant-width zero-padded tag, the 3-digit field REPEATED three
    // times ("#001001001"): injective to 999 replicas (the old
    // single-digit `#rrr` capped full-fixture mode at 10), and any two
    // distinct replicas' tags differ in ≥3 positions at equal length —
    // so no cross-replica name pair can sit within Levenshtein
    // distance 1 (equal length makes lev-1 a single substitution =
    // Hamming 1, which the tripled field rules out; the fuzzy-join
    // no-cross-replica-match invariant, spec-pinned).
    def tagName(df: DataFrame, r: Int, c: String): DataFrame =
      if (r == 0) df
      else df.withColumn(c, concat(col(c), lit("#" + f"$r%03d" * 3)))

    if (replicate("customer") || replicate("orders") || replicate("lineitem")
        || replicate("supplier") || replicate("part")) {
      val (cust, supp, part, ord, li) =
        (tbl("customer"), tbl("supplier"), tbl("part"), tbl("orders"),
          tbl("lineitem"))
      val (dCust, dSupp, dPart, dOrd) =
        (domain(cust, "c_custkey"), domain(supp, "s_suppkey"),
          domain(part, "p_partkey"), domain(ord, "o_orderkey"))
      if (replicate("customer"))
        write(rep(cust)((d, r) => tagName(shifted(d, r, "c_custkey" -> dCust), r, "c_name")), "customer")
      if (replicate("supplier"))
        write(rep(supp)((d, r) => tagName(shifted(d, r, "s_suppkey" -> dSupp), r, "s_name")), "supplier")
      if (replicate("part"))
        write(rep(part)(shifted(_, _, "p_partkey" -> dPart)), "part")
      // One shared span for the whole order axis (first order date →
      // last receipt date) keeps order/lineitem date correlation exact
      // under the opt-in stretch.
      // Lineitem date columns present in this fixture generation (the
      // TPC-H-ish schema carries l_shipdate; full TPC-H adds commit/
      // receipt dates — stretch whichever exist).
      val liDateCols = Seq("l_shipdate", "l_commitdate", "l_receiptdate")
        .filter(li.schema.fieldNames.contains)
      val orderAxisDays =
        if (!stretchOrderAxis) 0L
        else {
          val lo = ord.select(expr(
            "unix_micros(CAST(min(o_orderdate) AS TIMESTAMP))")).head().getLong(0)
          val hi = liDateCols.map(c => li.select(expr(
            s"unix_micros(CAST(max($c) AS TIMESTAMP))")).head().getLong(0)).max
          (hi - lo) / 86400000000L + 1L
        }
      if (replicate("orders"))
        write(rep(ord) { (d, r) =>
          val s = shifted(d, r, "o_orderkey" -> dOrd, "o_custkey" -> dCust)
          if (r == 0 || orderAxisDays == 0L) s
          else shiftTime(s, "o_orderdate", r * orderAxisDays)
        }, "orders")
      if (replicate("lineitem"))
        write(rep(li) { (d, r) =>
          val s = shifted(d, r, "l_orderkey" -> dOrd, "l_partkey" -> dPart,
            "l_suppkey" -> dSupp)
          if (r == 0 || orderAxisDays == 0L) s
          else liDateCols.foldLeft(s)((df, c) => shiftTime(df, c, r * orderAxisDays))
        }, "lineitem")
    }

    if (replicate("events")) {
      val ev = tbl("events")
      val (dEv, dUser) = (domain(ev, "event_id"), domain(ev, "user_id"))
      // TIME-AXIS STRETCH (r11 verdict #4): replicas used to share ONE
      // time axis, so per-window/per-band density grew R× and the
      // window/interval operators' 100× rows read as quadratic
      // replica-shape artifacts — a real 100× corpus spreads over more
      // time. Each replica's timestamps shift by r × the axis span
      // (whole days, see shiftTime), so density per window is EXACTLY
      // the source's and event-time volume scales linearly. Safe
      // unconditionally: no catalog event query carries an absolute
      // time literal (unlike the orders/lineitem axis below).
      val evDays = axisSpanDays(ev, "ts")
      write(rep(ev) { (d, r) =>
        val s = shifted(d, r, "event_id" -> dEv, "user_id" -> dUser)
        if (r == 0) s else shiftTime(s, "ts", r * evDays)
      }, "events")
    }

    if (replicate("documents")) {
      val doc = tbl("documents")
      val dDoc = domain(doc, "doc_id")
      write(rep(doc) { (d, r) =>
        val s = shifted(d, r, "doc_id" -> dDoc)
        if (r == 0) s
        else s
          .withColumn("text", array_join(
            transform(split($"text", " "), w => concat(w, lit(s"_r$r"))),
            " "))
          .withColumn("n_chars", length($"text"))
      }, "documents")
    }

    if (replicate("embeddings")) {
      val emb = tbl("embeddings")
      val dVec = domain(emb, "vec_id")
      val dim = emb.select(size($"embedding")).head().getInt(0)
      write(rep(emb) { (d, r) =>
        val s = shifted(d, r, "vec_id" -> dVec)
        if (r == 0) s
        else {
          val rng = new scala.util.Random(42 + r)
          val perm = rng.shuffle((0 until dim).toList)
          val sign = Array.fill(dim)(if (rng.nextBoolean()) 1.0f else -1.0f)
          s.withColumn("embedding", array((0 until dim).map(i =>
            $"embedding" (perm(i)) * lit(sign(i))): _*))
        }
      }, "embeddings")
    }

    println(s"scaled $src x$reps -> $out (${replicate.toSeq.sorted.mkString(",")})")
  }
}
