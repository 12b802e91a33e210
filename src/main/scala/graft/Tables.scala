package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Fixture-table loaders over a scale-factor directory (TESTDATA.md).
  *
  * Parquet is self-describing, so schemas come from the files (the
  * reference's collections are schemaless BSON — /root/reference/index.js:281-289
  * — and its implicit per-collection shapes are documented in SURVEY.md §1.2;
  * here the driver-generated star schema plays those roles, FIXTURES.md §1).
  *
  * Scale notes (100 TB design stance):
  *   - Loads are plain `spark.read.parquet` — vectorized scan, predicate
  *     pushdown and column pruning apply to every downstream query.
  *   - Dimension tables (region/nation/supplier/part/customer) are small
  *     relative to facts (orders/lineitem/events); join helpers in
  *     `operators` broadcast them explicitly where Catalyst's size
  *     estimate might not (e.g. after a filter that defeats stats).
  *   - Nothing is cached here: at 100 TB you never materialize a fact
  *     table; each query plans its own pruned scan.
  */
final case class Tables(spark: SparkSession, dir: String) {
  /** Memoized: `spark.read.parquet` runs a file listing + footer/schema
    * read EACH call, and the catalog is consulted ~99 times per
    * Verify/Bench run — the repeated listing was measurable fixed cost
    * per query. The cache holds LOGICAL plans only (no data; "nothing
    * is cached here" above still holds — every query still plans its
    * own pruned scan off the shared relation). */
  private def load(name: String): DataFrame =
    Tables.relationCache.getOrElseUpdate((spark, dir, name),
      normalized(spark.read.parquet(s"$dir/$name.parquet")))

  /** Encoding-drift normalization for the star-schema tables (the
    * events.ts lesson generalized BEFORE the driver finds the next one:
    * a lake ingests files written by many producers, and the parquet
    * writer has several legal physical spellings for the same logical
    * column). The loaders normalize to the types every downstream
    * query and oracle has always seen:
    *   - DATE32 date columns → TimestampType (midnight under the
    *     pinned UTC session zone — exactly the value the current
    *     timestamp[us] fixtures carry);
    *   - TIMESTAMP_NTZ → TimestampType (wall-clock-preserving, UTC);
    *   - DECIMAL (INT32-backed at precision ≤ 9, or any width) money/
    *     quantity columns → double (exact: fixture magnitudes are far
    *     below 2^53). */
  private def normalized(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.types._
    df.schema.fields.foldLeft(df) { (d, f) =>
      f.dataType match {
        // Exact only up to 15 significant digits (every such decimal
        // fits a double losslessly; fixture magnitudes are far below
        // 2^53). A WIDER decimal must fail loudly here rather than
        // silently round money and diverge from the oracle reading the
        // same parquet exactly.
        case dt: DecimalType if dt.precision <= 15 =>
          d.withColumn(f.name, col(f.name).cast(DoubleType))
        case dt: DecimalType =>
          throw new IllegalStateException(
            s"${f.name}: DECIMAL(${dt.precision},${dt.scale}) exceeds the exact double " +
              "range (precision > 15); refusing the lossy cast — widen the loader instead")
        case DateType         => d.withColumn(f.name, col(f.name).cast(TimestampType))
        case TimestampNTZType => d.withColumn(f.name, col(f.name).cast(TimestampType))
        case _ => d
      }
    }
  }

  def region: DataFrame     = load("region")
  def nation: DataFrame     = load("nation")
  def customer: DataFrame   = load("customer")
  def supplier: DataFrame   = load("supplier")
  def part: DataFrame       = load("part")
  def orders: DataFrame     = load("orders")
  def lineitem: DataFrame   = load("lineitem")
  def documents: DataFrame  = load("documents")
  def embeddings: DataFrame = load("embeddings")

  /** events.parquet's `ts` physical encoding has drifted across fixture
    * generations (TIMESTAMP(NANOS) → TIMESTAMP_NTZ µs), and a 100 TB lake
    * ingests files written by many producers over years — so the loader
    * adapts to the schema the footer actually declares instead of
    * hard-binding one encoding (the reference tolerates producer drift by
    * being schemaless, index.js:281-289; this is our equivalent contract).
    * All branches normalize to microsecond TimestampType under the pinned
    * UTC session zone, so every downstream query and the DuckDB oracle see
    * identical wall-clock values regardless of the file's encoding:
    *   - int64 NANOS (surfaced as LongType via the legacy conf, which the
    *     vectorized reader otherwise rejects with PARQUET_TYPE_ILLEGAL):
    *     floor-convert with integer `div` (never `/`: double division
    *     loses precision on ~1.7e18 nano values; DuckDB/pandas floor the
    *     same way when narrowing, so both engines agree exactly);
    *   - TIMESTAMP_NTZ (isAdjustedToUTC=false): cast to TimestampType —
    *     wall-clock-preserving because the session zone is UTC;
    *   - TIMESTAMP (instant µs/ms): already the target type. */
  def events: DataFrame = {
    // Scoped narrowing (ADVICE r8): the legacy conf makes EVERY
    // TIMESTAMP(NANOS) column on the session surface as LongType, so it
    // is set only when the events footer actually carries NANOS —
    // probed once per dir from the parquet metadata, no job.
    if (Tables.eventsCarriesNanos(spark, dir))
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = load("events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case org.apache.spark.sql.types.TimestampType => raw
      case other =>
        throw new IllegalStateException(
          s"events.ts: unsupported physical encoding $other (expected int64 nanos, TIMESTAMP_NTZ, or TIMESTAMP)")
    }
  }

  /** The fixture `name` (one of `Tables.names`). */
  def table(name: String): DataFrame =
    if (name == "events") events else load(name)

  /** Register every fixture as a temp view so the same queries run via
    * `spark.sql` — the Hive-style catalog surface of the engine.
    *
    * Fault-isolated: one sick table costs exactly the queries that touch
    * it, never the whole catalog (the reference's 47 routes fail
    * independently per request, index.js; in round 6 an events encoding
    * break took down three pure-lineitem olap queries and the Thrift
    * server wholesale). Returns the sick views (name → error) so callers
    * can surface them; healthy views are always registered. */
  def registerAll(): Map[String, String] =
    Tables.names.flatMap { n =>
      try { table(n).createOrReplaceTempView(n); None }
      catch { case e: Exception =>
        System.err.println(s"[tables] view '$n' failed to register: ${e.getMessage}")
        Some(n -> String.valueOf(e.getMessage))
      }
    }.toMap
}

object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  private val relationCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String, String), DataFrame]

  /** Embedding dimensionality, probed ONCE per (application, dir). The
    * element count of a variable-length list column is not carried in
    * the parquet schema, so the first call runs one single-row job;
    * memoizing it keeps plan BUILDS job-free — s3/s4 construct
    * dim-sized hyperplane literals at plan time, and a driver-blocking
    * mini-job per plan build was measurable fixed cost per query.
    * Keyed by applicationId, not SparkSession: Structured Streaming's
    * foreachBatch runs under a CLONED session per query, and a
    * session-keyed memo would both re-run the probe job on every new
    * streaming query and accumulate entries pinning dead session
    * clones (the histIndexRegistered lesson, same class). */
  private val dimCache =
    scala.collection.concurrent.TrieMap.empty[(String, String), Int]

  def embeddingDim(spark: SparkSession, dir: String): Int =
    dimCache.getOrElseUpdate((spark.sparkContext.applicationId, dir), {
      import org.apache.spark.sql.functions.{col, size}
      Tables(spark, dir).embeddings
        .select(size(col("embedding"))).head().getInt(0)
    })

  private val nanosProbeCache =
    scala.collection.concurrent.TrieMap.empty[String, Boolean]

  /** True iff the events fixture physically encodes `ts` as
    * TIMESTAMP(NANOS) — read from the parquet FOOTER (no Spark job, no
    * session conf), once per dir. Gates the legacy `nanosAsLong` conf
    * to exactly the fixture generations that need it, so other parquet
    * sources with NANOS columns are never silently narrowed to Long on
    * a session that merely touched events. */
  def eventsCarriesNanos(spark: SparkSession, dir: String): Boolean =
    nanosProbeCache.getOrElseUpdate(dir, {
      val conf = spark.sessionState.newHadoopConf()
      probeNanos(conf, s"$dir/events.parquet")
    })

  /** Session-free probe (ThriftServe needs the answer BEFORE building
    * its session, since the conf must be builder-level there). */
  def eventsCarriesNanos(dir: String): Boolean =
    nanosProbeCache.getOrElseUpdate(dir,
      probeNanos(new org.apache.hadoop.conf.Configuration(), s"$dir/events.parquet"))

  private def probeNanos(conf: org.apache.hadoop.conf.Configuration,
                         path: String): Boolean = {
    import org.apache.parquet.schema.LogicalTypeAnnotation
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(conf)
    if (!fs.exists(root)) return false
    val file =
      if (fs.getFileStatus(root).isDirectory)
        fs.listStatus(root).collectFirst {
          case s if s.isFile && s.getPath.getName.endsWith(".parquet") => s.getPath
        }.getOrElse(return false)
      else root
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(file, conf))
    try {
      val schema = reader.getFileMetaData.getSchema
      (0 until schema.getFieldCount).map(schema.getType).exists { f =>
        f.getName == "ts" && (f.getLogicalTypeAnnotation match {
          case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
            t.getUnit == LogicalTypeAnnotation.TimeUnit.NANOS
          case _ => false
        })
      }
    } finally reader.close()
  }
}
