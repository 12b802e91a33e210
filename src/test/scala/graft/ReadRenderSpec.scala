package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The façade renders every read through `RestServe.jsonRows`, which
  * must give the exact text `toJSON` gives, and which lets a read the
  * base's statistics rule out collect with no Spark job. */
class ReadRenderSpec extends AnyFunSuite with RestHttp with BeforeAndAfterAll {
  private lazy val spark = TestSpark.spark
  private val dir = s"${sys.props("user.home")}/testdata/sf0.001"

  private lazy val started = RestServe.startWithStore(spark, dir, 0)
  override lazy val base: String = s"http://127.0.0.1:${started._1.getAddress.getPort}"
  override def afterAll(): Unit = {
    started._1.stop(0)
    started._1.getExecutor match {
      case es: java.util.concurrent.ExecutorService => es.shutdown()
      case _ => ()
    }
  }

  private def sameAsToJson(name: String, df: DataFrame): Unit =
    assert(RestServe.jsonRows(df).toSeq == df.toJSON.collect().toSeq, name)

  test("jsonRows renders every read route's DataFrame as toJSON does: hits, misses, journal-only rows, evolved columns, tombstones") {
    import spark.implicits._
    val store = new StateStore(spark, dir)
    val t = Tables(spark, dir)
    val Array(k0, k1, k2) = t.orders.select($"o_orderkey").as[Long].head(3)
    val cust = t.orders.select($"o_custkey").as[Long].head()
    val supp = t.lineitem.select($"l_suppkey").as[Long].head()
    val eventUser = t.events.select($"user_id").as[Long].head()
    val name = t.customer.select($"c_name").as[String].head()
    val fresh = 1000000L
    // A patched base row, a tombstone and journal-only rows with evolved
    // columns, on every entity a read route serves.
    Seq(store.tasks, store.payments, store.withdrawals).foreach { e =>
      assert(e.patch(Seq(k0), Map("o_orderstatus" -> "X", "title" -> "patched")))
      assert(e.delete(Seq(k1)))
      e.upsert(Map("o_orderkey" -> fresh, "o_custkey" -> fresh, "o_orderstatus" -> "P",
        "o_totalprice" -> 2.5, "title" -> "naïve — 日本", "slots" -> 3L))
    }
    store.users.upsert(Map("c_custkey" -> fresh, "c_name" -> "fresh@graft.io", "role" -> "worker"))
    store.notifications.upsert(Map("event_id" -> store.notifications.newId(),
      "user_id" -> fresh, "event_type" -> "notification", "message" -> "hi"))
    store.submissions.upsert(Map("l_orderkey" -> fresh, "l_linenumber" -> 1, "l_partkey" -> 0L,
      "l_suppkey" -> fresh, "l_quantity" -> 1.0, "status" -> "pending"))
    // The route shapes of RestServe's entity reads.
    def feeds(u: Long): Seq[(String, DataFrame)] = Seq(
      s"notifications $u" -> store.notifications.current($"user_id" === u)
        .select($"event_id", $"ts", $"event_type")
        .orderBy($"ts".desc, $"event_id".desc).limit(1000),
      s"payments $u" -> store.payments.current($"o_custkey" === u)
        .select($"o_orderkey", $"o_orderdate", $"o_totalprice")
        .orderBy($"o_orderkey".desc).limit(1000),
      s"submissions $u" -> store.submissions.current($"l_suppkey" === u)
        .select($"l_orderkey", $"l_linenumber", $"l_quantity", $"l_returnflag")
        .orderBy($"l_orderkey".desc, $"l_linenumber".desc).limit(1000))
    val reads: Seq[(String, DataFrame)] =
      Seq(k0, k1, k2, fresh, -1L).map(k => s"task $k" -> store.tasks.current($"o_orderkey" === k)) ++
      Seq(name, "fresh@graft.io", "nobody").map(n => s"profile $n" -> store.users.current($"c_name" === n)) ++
      Seq(cust, supp, eventUser, fresh, -1L).flatMap(feeds) ++
      Seq(None, Some("P"), Some("X")).map { s =>
        val w = s.fold(store.withdrawals.current())(v => store.withdrawals.current($"o_orderstatus" === v))
        s"withdrawals $s" -> w.select($"o_orderkey", $"o_orderstatus").orderBy($"o_orderkey").limit(1000)
      } ++
      Seq("full task scan" -> store.tasks.current()
        .select($"o_orderkey", $"o_orderstatus", $"o_totalprice").orderBy($"o_orderkey").limit(1000)) ++
      Seq("flagship_buyer_home", "flagship_worker_home", "flagship_admin_home", "a1_filtered_counts",
        "a5_conditional_counts", "o2_topk", "p4_filter_scan", "p9_projection_rename", "j1_semi_join")
        .map(n => n -> SparkEntry.queries(n)(spark, dir).limit(1000))
    reads.foreach { case (n, df) => sameAsToJson(n, df) }
    // The journal-only reads did take the driver path, and hold rows.
    Seq("task 1000000", s"notifications $fresh", s"payments $fresh", s"submissions $fresh",
        "profile fresh@graft.io").foreach { n =>
      val df = reads.find(_._1 == n).get._2
      assert(df.queryExecution.optimizedPlan.isInstanceOf[LocalRelation], n)
      assert(RestServe.jsonRows(df).nonEmpty, n)
    }
  }

  test("jsonRows equals toJSON on nulls, timestamps, doubles, non-ASCII text, arrays, structs, maps, duplicate and dotted names") {
    val local = spark.sql(
      """SELECT * FROM VALUES
        |  (1, CAST(NULL AS STRING), TIMESTAMP'2024-01-02 03:04:05.123456', 1.5D, 'naïve — 日本 "q" \\ /',
        |   array(1, NULL, 3), named_struct('x', 1, 'y', CAST(NULL AS STRING)), map('k', 1.0D)),
        |  (2, 'b', CAST(NULL AS TIMESTAMP), double('NaN'), '', array(), named_struct('x', NULL, 'y', 'z'),
        |   CAST(NULL AS MAP<STRING, DOUBLE>)),
        |  (3, 'c', TIMESTAMP'1969-12-31 23:59:59', 1.0E-7D, 'tab\tnewline\n', CAST(NULL AS ARRAY<INT>),
        |   CAST(NULL AS STRUCT<x: INT, y: STRING>), map()),
        |  (4, 'd', TIMESTAMP'2262-04-11 23:47:16', -0.0D, '😀', array(-2147483648), named_struct('x', 7, 'y', ''),
        |   map('a', double('Infinity')))
        |  AS t(id, s, ts, d, txt, arr, st, m)""".stripMargin)
    val shaped = local.select(col("*"), col("id").as("id"), col("s").as("a.b"),
      (col("d") * 1e21).as("big"), col("id").cast("decimal(10,3)").as("dec"),
      lit(null).as("nothing"), col("ts").cast("date").as("day"))
    assert(shaped.columns.count(_ == "id") == 2 && shaped.columns.contains("a.b"))
    val path = Scratch.tempDir("render") + "/t"
    // Parquet has no void type: the scanned copy stores `nothing` as a
    // null string, which renders the same (omitted).
    shaped.toDF(shaped.columns.indices.map(i => s"c$i"): _*)
      .withColumn(s"c${shaped.columns.indexOf("nothing")}", lit(null).cast("string"))
      .write.parquet(path)
    val scanned = spark.read.parquet(path).toDF(shaped.columns.toSeq: _*)
    Seq("local" -> shaped, "local, sorted" -> shaped.orderBy(col("txt").desc),
        "scanned" -> scanned, "scanned, sorted and limited" -> scanned.orderBy(col("d").asc_nulls_last).limit(3))
      .foreach { case (n, df) => sameAsToJson(n, df) }
    val second = RestServe.jsonRows(shaped.filter(col("txt") === "")).head
    assert(second.split(""""id":2""", -1).length == 3 && second.contains(""""a.b":"b""""), second)
  }

  test("journal-only feed and profile routes start 0 Spark jobs; task_by_id still starts 1") {
    import spark.implicits._
    val store = started._2
    val u = 2000000L
    val email = "jobless@graft.io"
    store.users.upsert(Map("c_custkey" -> u, "c_name" -> email, "role" -> "worker"))
    store.payments.upsert(Map("o_orderkey" -> u, "o_custkey" -> u, "o_totalprice" -> 3.0))
    store.notifications.upsert(Map("event_id" -> store.notifications.newId(),
      "user_id" -> u, "event_type" -> "notification"))
    store.submissions.upsert(Map("l_orderkey" -> u, "l_linenumber" -> 1, "l_partkey" -> 0L,
      "l_suppkey" -> u, "status" -> "pending"))
    val fixtureTask = Tables(spark, dir).orders.select($"o_orderkey").as[Long].head()
    val routes = Seq(s"/payments?user=$u", s"/api/notifications?user=$u", s"/submissions?user=$u",
      s"/users/profile?name=$email")
    (routes :+ s"/tasks/$fixtureTask").foreach(p => assert(get(p)._1 == 200, p)) // warm
    routes.foreach { p =>
      val ((status, body), jobs) = JobCount(spark)(get(p))
      assert(status == 200 && body.startsWith("[{"), s"$p: $status $body")
      assert(jobs == 0, s"$p started $jobs Spark jobs")
    }
    val ((status, body), jobs) = JobCount(spark)(get(s"/tasks/$fixtureTask"))
    assert(status == 200 && body.contains(s""""o_orderkey":$fixtureTask"""), body)
    assert(jobs == 1, s"task_by_id started $jobs Spark jobs")
  }
}
