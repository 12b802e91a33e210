package graft

import org.apache.spark.sql.SparkSession

/** The one way to build a session. Every main and the test suite start
  * from [[builder]], so bench, verify, serve and test run the same
  * session shape: `local[cores]`, one shuffle partition per core, the
  * UTC session zone, the engine's functions ([[GraftExtensions]]) and no
  * web UI. Callers add only what is theirs (an app name, a master
  * override, wire-protocol confs) and set their own log level.
  * `SessionsSpec` fails if a session is built anywhere else. */
object Sessions {

  /** Cores for mains without a fixed count: `SPARK_GRAFT_CPUS`, default 4. */
  def cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  def builder(cores: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")

  /** [[builder]] backed by a Hive metastore: the warehouse and a derby
    * metastore under `base`, so tables and views outlive the JVM
    * (`HiveRoundTrip`, `ThriftServe`). */
  def hive(cores: Int, base: String): SparkSession.Builder =
    builder(cores)
      .config("spark.sql.warehouse.dir", s"$base/warehouse")
      .config("spark.hadoop.javax.jdo.option.ConnectionURL",
        s"jdbc:derby:;databaseName=$base/metastore_db;create=true")
      .enableHiveSupport()
}
