package graft

import org.apache.spark.scheduler.SparkListenerTaskEnd
import org.scalatest.funsuite.AnyFunSuite

/** Pins the bench artifact's `"warnings"` wiring: a non-Success task
  * end counts, a Success does not — so a green-but-noisy run (retried
  * task mid-bench logging a raw stack while `errors` stays 0) is
  * visible in the one JSON line the driver diffs. */
class BenchWarnSpec extends AnyFunSuite {
  test("BenchWarnListener counts non-Success task ends and nothing else") {
    val l = new BenchWarnListener
    l.onTaskEnd(SparkListenerTaskEnd(1, 0, "result",
      org.apache.spark.Success, null, null, null))
    assert(l.count.get() == 0)
    l.onTaskEnd(SparkListenerTaskEnd(1, 0, "result",
      org.apache.spark.UnknownReason, null, null, null))
    l.onTaskEnd(SparkListenerTaskEnd(2, 0, "result",
      org.apache.spark.Resubmitted, null, null, null))
    assert(l.count.get() == 2)
  }

  test("writeArtifact is best-effort: a malformed or unwritable path answers false instead of throwing") {
    val dir = Scratch.tempDir("bench_artifact")
    val ok = s"$dir/bench_out.json"
    assert(Bench.writeArtifact(ok, """{"metric":"total"}"""))
    assert(new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(ok)),
      java.nio.charset.StandardCharsets.UTF_8) == "{\"metric\":\"total\"}\n")
    // A NUL byte makes Paths.get throw InvalidPathException, which is no
    // IOException; a missing parent directory is the IOException case.
    assert(!Bench.writeArtifact(s"$dir/bad\u0000name.json", "{}"))
    assert(!Bench.writeArtifact(s"$dir/no/such/dir/bench_out.json", "{}"))
  }

  test("BenchErrorLogCounter counts ERROR log events and ignores WARN (r10 verdict #7)") {
    val c = new BenchErrorLogCounter
    c.attach()
    try {
      val log = org.apache.logging.log4j.LogManager.getLogger("graft.bench.probe")
      val before = c.count.get()
      log.warn("benign warn — must not count")
      assert(c.count.get() == before, "WARN must not count as a log error")
      log.error("raw stack stand-in — must count")
      assert(c.count.get() == before + 1,
        "an ERROR event must be visible in the bench artifact's log_errors")
    } finally {
      val ctx = org.apache.logging.log4j.LogManager.getContext(false)
        .asInstanceOf[org.apache.logging.log4j.core.LoggerContext]
      ctx.getConfiguration.getRootLogger.removeAppender("graft-bench-errors")
      ctx.updateLoggers()
      c.stop()
    }
  }
}
