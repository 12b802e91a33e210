package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test run (sessions are
  * expensive; specs only read). The warehouse lives under the
  * run-scoped Scratch root ON PURPOSE: every test JVM rebuilds its
  * artifacts (a few seconds at sf0.001) and no spec can green against
  * a stale prior-session warehouse — hygiene bought with rebuild time,
  * the same trade the bench sweeper makes. Four cores, whatever
  * SPARK_GRAFT_CPUS says, so specs plan the same on every box. WARN,
  * not ERROR: RegistrationSpec reads the engine's WARN events. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = Sessions.builder(4)
      .config("spark.sql.warehouse.dir", graft.Scratch.dir("warehouse"))
      .appName("graft-test")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
