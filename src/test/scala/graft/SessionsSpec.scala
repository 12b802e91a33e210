package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** One way to build a session: every main and the test suite start from
  * [[Sessions.builder]], so bench, verify, serve and test cannot drift
  * apart (core counts, the session zone, the engine's extensions).
  * Comment lines may name the call; code may not. */
class SessionsSpec extends AnyFunSuite {

  private def codeLines(p: Path): Iterator[String] =
    Files.readAllLines(p).asScala.iterator.map(_.trim)
      .filterNot(l => l.startsWith("//") || l.startsWith("*") || l.startsWith("/**"))

  test("SparkSession.builder() is called only in the session factory") {
    val factory = Paths.get("src/main/scala/graft/Sessions.scala")
    val self = Paths.get("src/test/scala/graft/SessionsSpec.scala")
    assert(Files.isRegularFile(self),
      s"run from the repository root (cwd ${Paths.get("").toAbsolutePath})")
    val sources = Seq("src/main/scala", "src/test/scala").flatMap { root =>
      val walk = Files.walk(Paths.get(root))
      try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    }
    val offenders = sources
      .filterNot(p => p == factory || p == self)
      .filter(p => codeLines(p).exists(_.contains("SparkSession.builder()")))
    assert(offenders.isEmpty,
      s"${offenders.size} files build their own session; use Sessions.builder: ${offenders.mkString(", ")}")
    assert(codeLines(factory).exists(_.contains("SparkSession.builder()")))
  }

  test("the factory's builder carries the engine's session shape") {
    val spark = TestSpark.spark
    val conf = spark.conf
    assert(spark.sparkContext.master == "local[4]")
    assert(conf.get("spark.sql.shuffle.partitions") == "4")
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.get("spark.sql.extensions") == "graft.GraftExtensions")
    assert(spark.sparkContext.getConf.get("spark.ui.enabled") == "false")
  }
}
