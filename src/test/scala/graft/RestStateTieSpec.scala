package graft

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The write façade's state, tied to the batch w-family programs: a
  * FRESH server+store per suite, a known HTTP op sequence driven
  * against it, and the store's merged entity state asserted EQUAL to
  * the batch transformation the catalog gates for the same ops —
  * w1 insert-defaults, w2 masked `$set`, w3 `$inc` ledger, w4 delete
  * rewrite, w5 capacity rule. Plus the two properties the reference
  * cannot offer: linearizable concurrent increments (no lost updates)
  * and journal compaction that preserves content bit-for-bit. */
class RestStateTieSpec extends AnyFunSuite with RestHttp
    with org.scalatest.BeforeAndAfterAll {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private lazy val started = RestServe.startWithStore(spark, dir, 0)
  private lazy val server = started._1
  private lazy val store = started._2
  override lazy val base = s"http://127.0.0.1:${server.getAddress.getPort}"

  override def afterAll(): Unit = {
    server.stop(0)
    server.getExecutor match {
      case es: java.util.concurrent.ExecutorService => es.shutdown()
      case _ => ()
    }
  }

  test("w1 tie: HTTP-registered users carry exactly the insert-defaults the batch program derives") {
    import spark.implicits._
    assert(post("/users", """{"name":"B","email":"b@tie.io","role":"buyer"}""")._1 == 201)
    assert(post("/users", """{"name":"W","email":"w@tie.io","role":"worker"}""")._1 == 201)
    // The batch w1 rule (WritePath.w1, index.js:393): coins default by
    // role segment — run the LITERAL expression over the merged state
    // and require the stored balances to match it row-for-row.
    val rows = store.users.current()
      .filter($"c_name".isin("b@tie.io", "w@tie.io"))
      .select($"c_name", $"c_acctbal",
        when($"c_mktsegment" === "BUILDING", 50.0).otherwise(10.0).as("w1_coins"))
      .collect()
    assert(rows.length == 2)
    rows.foreach(r => assert(r.getDouble(1) == r.getDouble(2), r.toString))
  }

  test("w2 tie: a sequence of HTTP $set ops equals the masked-rewrite batch program on the full table") {
    import spark.implicits._
    val ids = Seq(7L, 11L, 13L)
    ids.foreach(id => assert(patch(s"/api/withdrawals/$id", "{}")._1 == 200))
    val actual = store.withdrawals.current()
      .select($"o_orderkey", $"o_orderstatus")
      .orderBy($"o_orderkey").collect()
    // The w2 shape (WritePath.w2): every row flows through, only the
    // keyed rows change — stated over the SAME op set.
    val expected = Tables(spark, dir).orders
      .select($"o_orderkey",
        when($"o_orderkey".isin(ids: _*), "approved")
          .otherwise($"o_orderstatus").as("o_orderstatus"))
      .orderBy($"o_orderkey").collect()
    assert(actual.length == expected.length)
    assert(actual.sameElements(expected), "HTTP $set state diverged from the w2 batch rewrite")
  }

  test("w3 tie: an HTTP $inc op log folds to the same balances as the one-pass batch ledger") {
    import spark.implicits._
    // Deterministic op sequence over three fixture users (emails are
    // their c_name). Deltas are integers and keep each balance inside
    // its binade, so sequential HTTP folding and the batch sum are
    // bit-identical in double.
    val u1 = "Customer#000000001"; val u2 = "Customer#000000002"; val u3 = "Customer#000000003"
    val ops = Seq[(String, Long)](
      (u1, 100), (u2, 250), (u1, 250), (u3, 400), (u2, 50), (u1, 50))
    ops.foreach { case (email, coins) =>
      assert(post("/purchase-coin",
        s"""{"email":"$email","coins":$coins,"amount":1}""")._1 == 200)
    }
    // A debit leg through the guarded withdrawal approval (w3's minus
    // sign, index.js:1355): u1 withdraws 200.
    val wd = post("/withdrawals",
      s"""{"worker_email":"$u1","worker_name":"C1","withdrawal_coin":200,
          "withdrawal_amount":10,"payment_system":"bank","account_number":"1"}""")
    assert(wd._1 == 201)
    val wid = "\"id\":(\\d+)".r.findFirstMatchIn(wd._2).get.group(1)
    assert(post(s"/admin/withdrawals/$wid/approve", "{}")._1 == 200)

    // Batch ledger (the w3 shape): balance = base + Σcredits − Σdebits
    // in ONE grouped pass over the op log.
    val opLog = (ops.map { case (e, c) => (e, c.toDouble) } :+ ((u1, -200.0)))
      .toDF("email", "delta")
    val expected = Tables(spark, dir).customer
      .join(opLog.groupBy($"email").agg(sum($"delta").as("d")),
        $"c_name" === $"email", "inner")
      .select($"c_name", ($"c_acctbal" + $"d").as("coins"))
      .orderBy($"c_name").collect()
    val actual = store.users.current()
      .filter($"c_name".isin(u1, u2, u3))
      .select($"c_name", $"c_acctbal".as("coins"))
      .orderBy($"c_name").collect()
    assert(actual.sameElements(expected),
      s"HTTP ledger ${actual.mkString(",")} != batch ${expected.mkString(",")}")
  }

  test("w5 tie: an HTTP approve sweep in submit order reproduces the batch capacity rule exactly") {
    import spark.implicits._
    // Task 3 has five fixture submissions; its capacity defaults to
    // w5's k = 3. Drive approvals in w5's window order — the first 3
    // must win, the rest must hit the fulfilled guard (index.js:816-822).
    val owner = {
      val ck = Tables(spark, dir).orders.filter($"o_orderkey" === 3L)
        .select($"o_custkey").head().getLong(0)
      Tables(spark, dir).customer.filter($"c_custkey" === ck)
        .select($"c_name").head().getString(0)
    }
    val subs = Tables(spark, dir).lineitem.filter($"l_orderkey" === 3L)
      .select($"l_orderkey", $"l_linenumber", $"l_partkey", $"l_suppkey")
      .orderBy($"l_shipdate", $"l_linenumber", $"l_partkey", $"l_suppkey")
      .collect()
      .map(r => s"${r.getLong(0)}-${r.getInt(1)}-${r.getLong(2)}-${r.getLong(3)}")
    assert(subs.length == 5)
    val codes = subs.map(id =>
      patch(s"/buyer/submissions/$id/approve", s"""{"email":"$owner"}""")._1)
    assert(codes.toSeq == Seq(200, 200, 200, 400, 400), codes.mkString(","))

    // The approved set equals the batch w5 program's winners for the task.
    val approved = store.submissions.current()
      .filter($"l_orderkey" === 3L && $"status" === "approved")
      .select($"l_orderkey", $"l_linenumber", $"l_partkey", $"l_suppkey")
      .collect().map(_.toSeq).toSet
    val batch = SparkEntry.queries("w5_capacity_rule")(spark, dir)
      .filter($"l_orderkey" === 3L)
      .select($"l_orderkey", $"l_linenumber", $"l_partkey", $"l_suppkey")
      .collect().map(_.toSeq).toSet
    assert(approved == batch, s"approved=$approved batch=$batch")

    // A base row whose composite key has a NULL column (l_suppkey): it
    // counts toward task 3's capacity once compaction folds it into the
    // base, and it must survive every later merge, as the anti join the
    // key-set filter replaced kept unmatched null keys. `upsert` refuses
    // a null key column, so the row arrives the one way it still can:
    // replayed from a write-ahead log written before that rule.
    val nullKeyed = Map[String, Any]("l_orderkey" -> 3L, "l_linenumber" -> 90,
      "l_partkey" -> 0L, "l_suppkey" -> null, "status" -> "approved")
    intercept[IllegalArgumentException](store.submissions.upsert(nullKeyed))
    store.submissions.replayOp(false, Seq(3L, 90, 0L, null), Some(nullKeyed))

    // The capacity guard survives COMPACTION (review fix): folding the
    // approved rows into the base and clearing the journal must not
    // reset the count — the guard reads the merged state, not the
    // journal alone.
    store.submissions.compact()
    assert(store.submissions.journalSize == 0)
    val compacted = store.submissions.current() // empty journal: the base itself
    val postCompact = patch(s"/buyer/submissions/${subs(3)}/approve",
      s"""{"email":"$owner"}""")
    assert(postCompact._1 == 400
      && postCompact._2.contains("Required number of workers already fulfilled"),
      s"compaction reset the capacity guard: $postCompact")

    // Base-approved rows superseded by the journal stop counting: one
    // flipped to rejected, one tombstoned. That frees one slot (4 base
    // approvals − 2 = 2 < 3), so subs(3)'s approve lands in the journal
    // and the approved rows split between base (subs(2) + the null-key
    // row) and journal (subs(3)); subs(4) then hits the full guard.
    def keyOf(id: String): Seq[Any] = id.split("-") match {
      case Array(o, l, p, s) => Seq[Any](o.toLong, l.toInt, p.toLong, s.toLong)
    }
    assert(patch(s"/buyer/submissions/${subs(0)}/reject", s"""{"email":"$owner"}""")._1 == 200)
    assert(store.submissions.delete(keyOf(subs(1))))
    assert(patch(s"/buyer/submissions/${subs(3)}/approve", s"""{"email":"$owner"}""")._1 == 200)
    val full = patch(s"/buyer/submissions/${subs(4)}/approve", s"""{"email":"$owner"}""")
    assert(full._1 == 400 && full._2.contains("Required number of workers already fulfilled"),
      s"the null-key base row was dropped from the merge: $full")

    // The same answers as the left-anti-join merge, restated here from
    // the compacted base and the journaled keys.
    val journaled = Seq(subs(0), subs(1), subs(3)).map(keyOf)
    assert(store.submissions.journalSize == journaled.size)
    val keyCols = store.submissions.keyCols
    val merged = store.submissions.current()
    val schema = merged.schema // the base's columns plus evolved ones (rejectedAt)
    val keysDf = spark.createDataFrame(
      journaled.map(org.apache.spark.sql.Row.fromSeq).asJava,
      org.apache.spark.sql.types.StructType(keyCols.map(c => schema(c))))
    val journalRows = journaled.flatMap(store.submissions.lookup)
    assert(journalRows.size == 2, "one journaled key is a tombstone")
    val journalDf = spark.createDataFrame(
      journalRows.map(m => org.apache.spark.sql.Row.fromSeq(
        schema.map(f => m.getOrElse(f.name, null)))).asJava, schema)
    // A USING join lists the key columns first: compare by column name.
    val antiJoin = compacted.join(broadcast(keysDf), keyCols, "left_anti")
      .unionByName(journalDf, allowMissingColumns = true)
      .select(merged.columns.map(col): _*)
    assert(merged.exceptAll(antiJoin).isEmpty && antiJoin.exceptAll(merged).isEmpty,
      "the key-set merge diverged from the anti-join merge")
    assert(merged.filter($"l_suppkey".isNull).count() == 1, "the null-key row must survive")
    val approvedNow = antiJoin.filter($"l_orderkey" === 3L && $"status" === "approved").count()
    assert(approvedNow == 3)
    assert(store.submissions.countWhere(Map("l_orderkey" -> 3L, "status" -> "approved"))
      == approvedNow)
  }

  test("w4 tie: HTTP deletes equal the negated-key filter rewrite") {
    import spark.implicits._
    // Events 5/6/7 belong to users 10/13/8 (their owners delete them).
    for ((id, user) <- Seq((5L, 10L), (6L, 13L), (7L, 8L)))
      assert(delete(s"/api/notifications/$id?user=$user")._1 == 200)
    // No route in this suite mints notification rows, so the merged
    // view must equal the negated-key rewrite EXACTLY, both directions.
    val current = store.notifications.current().select($"event_id")
    val expected = Tables(spark, dir).events
      .filter(!$"event_id".isin(5L, 6L, 7L)).select($"event_id")
    assert(current.exceptAll(expected).count() == 0)
    assert(expected.exceptAll(current).count() == 0)
  }

  test("concurrent $inc: 16 parallel purchases lose no update (the race the reference admits)") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.global
    assert(post("/users", """{"name":"R","email":"race@tie.io","role":"worker"}""")._1 == 201)
    val results = Await.result(Future.sequence((1 to 16).map(_ => Future(
      post("/purchase-coin", """{"email":"race@tie.io","coins":10,"amount":1}""")._1))),
      120.seconds)
    assert(results.forall(_ == 200))
    val coins = "\"c_acctbal\":([0-9.]+)".r
      .findFirstMatchIn(get("/users/profile?name=race%40tie.io")._2).get.group(1).toDouble
    assert(coins == 10.0 + 16 * 10.0, s"lost update: $coins")
  }

  test("compaction: the merged view survives bit-for-bit and the journal drains") {
    import spark.implicits._
    val before = store.users.current().orderBy($"c_custkey").toJSON.collect()
    assert(store.users.journalSize > 0)
    store.users.compact()
    assert(store.users.journalSize == 0)
    val after = store.users.current().orderBy($"c_custkey").toJSON.collect()
    assert(before.sameElements(after), "compaction changed content")
    // Served reads still see evolved columns (now real base columns).
    val prof = get("/users/profile?name=b%40tie.io")
    assert(prof._1 == 200 && prof._2.contains("\"role\":\"buyer\""), prof._2)
  }
}
