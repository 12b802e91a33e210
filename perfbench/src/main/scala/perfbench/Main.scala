package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Command-line options of one benchmark run (see perfbench/run.py). */
final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
                      runDir: String, fixture: String, cores: Int)

/** What a workload hands back: operations attempted and failed, the
  * metrics of the requested mode, what each failed operation said, and
  * the facts the Python side checks. */
final case class Outcome(attempted: Long, failed: Long, metrics: Map[String, Double],
                         problems: Seq[String], checks: Map[String, Any])

object Main {
  /** Epoch ms at which this JVM started: set-up time counts from here. */
  val jvmStartMs: Long = ManagementFactory.getRuntimeMXBean.getStartTime

  /** Progress line on stderr, with seconds since the JVM started. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.currentTimeMillis() - jvmStartMs) / 1000.0}%7.2f s] $msg")

  def session(o: Opts): SparkSession = {
    // Sessions are configured like graft.Bench (GraftExtensions, UTC,
    // UI off, shuffle partitions = cores); every directory Spark writes
    // lives under the run directory.
    val s = SparkSession.builder()
      .master(s"local[${o.cores}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"${o.runDir}/warehouse")
      .config("spark.local.dir", s"${o.runDir}/spark-local")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val o = Opts(kv("workload"), kv("seed").toLong, kv("seconds").toInt, kv("trace") == "1",
      kv("run-dir"), kv("fixture"), kv("cores").toInt)
    Files.createDirectories(Paths.get(o.runDir, "spark-local"))
    val spark = session(o)
    log("session started")
    val tracer = new Tracer(spark, o.trace)
    val out = o.workload match {
      case "sql_marketplace" => Catalog.run(spark, o, tracer, Catalog.sqlPrograms, replicate = false)
      case "pipeline_text" => Catalog.run(spark, o, tracer, Catalog.pipelinePrograms, replicate = true)
      case "serve_marketplace" => Serve.run(spark, o, tracer)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    if (o.trace) tracer.spans.write(s"${o.runDir}/spans.jsonl")
    Files.write(Paths.get(o.runDir, "result.json"), Json.render(Map(
      "attempted" -> out.attempted, "failed" -> out.failed, "metrics" -> out.metrics,
      "problems" -> out.problems, "checks" -> out.checks,
      "spans" -> tracer.spans.count)).getBytes(UTF_8))
    spark.stop()
  }
}

/** Minimal JSON rendering for the result file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def render(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case m: Map[_, _] => m.map { case (k, x) => str(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case xs: Array[_] => render(xs.toSeq)
    case other => str(other.toString)
  }
}
