package graft

import org.apache.spark.sql.SparkSession

/** Executable proof of the north-star "Spark SQL + Hive metastore
  * integration" claim (BASELINE.json; CatalogOps scaladoc): the very
  * same `CatalogOps.ensure` DDL that registers the graft.* warehouse on
  * the in-memory catalog becomes DURABLE when the session is backed by
  * a Hive metastore — tables and the c3 view survive a full engine
  * restart, exactly as the reference's named collections survive a
  * server restart (/root/reference/index.js:281-289).
  *
  * Two phases, run in SEPARATE JVMs by `HiveCatalogSpec` (a genuine
  * restart — nothing in-process can leak catalog state between them):
  *   phase1 <base> <sfDir>  — Hive-enabled session over a derby
  *     metastore under <base>, CatalogOps.ensure + the c3 view DDL,
  *     then stop.
  *   phase2 <base> <sfDir>  — a NEW Hive-enabled session over the same
  *     derby files; runs NO DDL, only queries. Prints the table/view
  *     row counts it can still see.
  *
  * Output protocol (stdout, one line per item, parsed by the spec):
  *   HIVE_RT tables=<n> orders=<rows> view=<rows> hasView=<bool>
  */
object HiveRoundTrip {

  private def session(base: String): SparkSession =
    Sessions.hive(2, base).appName("graft-hive-roundtrip").getOrCreate()

  def main(args: Array[String]): Unit = {
    val Array(phase, base, sfDir) = args
    val spark = session(base)
    spark.sparkContext.setLogLevel("ERROR")
    try {
      phase match {
        case "phase1" =>
          graft.operators.CatalogOps.ensure(spark, sfDir)
          // c3 issues the CREATE OR REPLACE VIEW before querying it.
          graft.operators.CatalogOps.queries("c3_catalog_view")(spark, sfDir)
            .collect()
          report(spark)
        case "phase2" =>
          // No DDL of any kind: everything visible here came from the
          // metastore the previous JVM wrote.
          report(spark)
      }
    } finally spark.stop()
  }

  private def report(spark: SparkSession): Unit = {
    val db = graft.operators.CatalogOps.Database
    val tables = spark.catalog.listTables(db).collect()
    val orders = spark.sql(s"SELECT count(*) FROM $db.orders").head().getLong(0)
    val hasView = tables.exists(t =>
      t.name == "revenue_by_nation" && t.tableType == "VIEW")
    val view =
      if (hasView)
        spark.sql(s"SELECT count(*) FROM $db.revenue_by_nation").head().getLong(0)
      else -1L
    println(s"HIVE_RT tables=${tables.length} orders=$orders view=$view hasView=$hasView")
  }
}
