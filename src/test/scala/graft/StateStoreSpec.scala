package graft

import java.nio.file.{Files, Paths, StandardOpenOption}
import java.sql.{Date, Timestamp}
import graft.functions.BoundLiteral
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, SparkPlan}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** The store's own contracts, driven directly (no HTTP): the bounded
  * secondary-key read, and the write-ahead log — replay equivalence,
  * newId safety across restart, torn-tail tolerance vs mid-file
  * corruption, and the real thing: a SIGKILLed façade whose
  * acknowledged HTTP writes survive into a fresh process. */
class StateStoreSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def rowsOf(e: EntityState): Seq[String] =
    e.current().collect().map(_.toString).sorted.toSeq

  // ---- lookupBy: bounded, deterministic, supersede-aware -------------

  test("lookupBy on a NON-unique secondary column: smallest primary key wins, supersede hides rewritten base rows, journal wins last-write") {
    import spark.implicits._
    val store = new StateStore(spark, dir)
    // o_orderstatus is massively non-unique — the exact shape whose
    // every base match the old form collected onto the driver. The
    // read itself is limit(1) now; semantics pinned here.
    val expectedFirst = Tables(spark, dir).orders
      .filter($"o_orderstatus" === "O")
      .agg(min($"o_orderkey")).as[Long].head()
    val hit = store.tasks.lookupBy("o_orderstatus", "O")
    assert(hit.exists(_("o_orderkey") == expectedFirst),
      s"smallest-key determinism: $hit")

    // Supersede: journal the winner AWAY from status O — the base copy
    // of that key must be hidden and the next-smallest O row win.
    assert(store.tasks.patch(Seq(expectedFirst), Map("o_orderstatus" -> "X")))
    val second = Tables(spark, dir).orders
      .filter($"o_orderstatus" === "O" && $"o_orderkey" =!= expectedFirst)
      .agg(min($"o_orderkey")).as[Long].head()
    assert(store.tasks.lookupBy("o_orderstatus", "O")
      .exists(_("o_orderkey") == second))

    // Journal-first, last write wins: two journaled O rows — the later
    // one is returned regardless of key order.
    store.tasks.upsert(Map("o_orderkey" -> 900001L, "o_orderstatus" -> "O"))
    store.tasks.upsert(Map("o_orderkey" -> 900002L, "o_orderstatus" -> "O"))
    assert(store.tasks.lookupBy("o_orderstatus", "O")
      .exists(_("o_orderkey") == 900002L))

    // Tombstoned base row is hidden from the secondary read too.
    val uniq = store.users.lookupBy("c_name", "Customer#000000001")
    assert(uniq.isDefined)
    assert(store.users.delete(Seq(uniq.get("c_custkey"))))
    assert(store.users.lookupBy("c_name", "Customer#000000001").isEmpty)
  }

  test("lookupBy Bloom fast path: a provably-absent secondary value answers with ZERO Spark jobs; positives and compaction stay correct") {
    val store = new StateStore(spark, dir)
    // Warm-up: builds the per-column sketch (jobs expected here).
    assert(store.users.lookupBy("c_name", "nobody-1@graft.io").isEmpty)
    // The fast path, measured by the engine's own accounting: jobs our
    // thread triggers carry this job group — an absent value after the
    // sketch exists must enqueue NONE.
    val sc = spark.sparkContext
    sc.setJobGroup("bloom-fast-path", "StateStoreSpec bloom probe")
    try {
      assert(store.users.lookupBy("c_name", "nobody-2@graft.io").isEmpty)
      Thread.sleep(1500) // status store feeds from the async listener bus
      val jobs = sc.statusTracker.getJobIdsForGroup("bloom-fast-path")
      assert(jobs.isEmpty,
        s"absent-value guard must not run a Spark job, ran ${jobs.length}")
    } finally sc.clearJobGroup()
    // A present value rides the sketch's positive into the real probe.
    assert(store.users.lookupBy("c_name", "Customer#000000002").isDefined)
    // Compaction folds journal rows into the base AND into the live
    // sketches (no rebuild job): the folded row must stay visible, and
    // absent values must stay provably absent.
    store.users.upsert(Map("c_custkey" -> 777777L, "c_name" -> "folded@graft.io"))
    store.users.compact()
    assert(store.users.lookupBy("c_name", "folded@graft.io").isDefined,
      "a folded journal row must stay visible through the folded sketch")
    assert(store.users.lookupBy("c_name", "nobody-3@graft.io").isEmpty)
  }

  test("single-column key merge is null-safe: a base row with a null key survives a non-empty journal and counts") {
    import spark.implicits._
    val e = new EntityState(spark,
      Seq[(Option[Long], String)]((Some(1L), "a"), (None, "b"), (Some(2L), "b")).toDF("id", "v"),
      Seq("id"))
    e.upsert(Map("id" -> 2L, "v" -> "c"))
    assert(rowsOf(e) == Seq("[1,a]", "[2,c]", "[null,b]"),
      "a bare NOT IN would have dropped the null-key row")
    assert(e.countWhere(Map("v" -> "b")) == 1 && e.countWhere(Map("v" -> "c")) == 1)
    assert(e.lookupBy("v", "b").exists(_("id") == null))
  }

  test("upsert refuses a null or missing key column, single and composite, and journals nothing") {
    import spark.implicits._
    val e = new EntityState(spark, Seq((1L, "a")).toDF("id", "v"), Seq("id"))
    Seq(Map[String, Any]("id" -> null, "v" -> "x"), Map[String, Any]("v" -> "x")).foreach { row =>
      val err = intercept[IllegalArgumentException](e.upsert(row))
      assert(err.getMessage.contains("key column id"), err.getMessage)
    }
    assert(e.journalSize == 0 && rowsOf(e) == Seq("[1,a]"))
    val store = new StateStore(spark, dir)
    val err = intercept[IllegalArgumentException](store.submissions.upsert(Map(
      "l_orderkey" -> 1L, "l_linenumber" -> 1, "l_partkey" -> 1L, "l_suppkey" -> null)))
    assert(err.getMessage.contains("key column l_suppkey"), err.getMessage)
    assert(store.submissions.journalSize == 0)
  }

  test("current(where) answers current().filter(where): patched, tombstoned, new and null-key rows, single and composite keys") {
    import spark.implicits._
    def same(e: EntityState, where: org.apache.spark.sql.Column, expected: Seq[String]): Unit = {
      val pushed = e.current(where).collect().map(_.toString).sorted.toSeq
      assert(pushed == e.current().filter(where).collect().map(_.toString).sorted.toSeq)
      assert(pushed == expected)
    }
    val single = new EntityState(spark,
      Seq[(Option[Long], String)]((Some(1L), "a"), (None, "b"), (Some(2L), "b"), (Some(3L), "b"))
        .toDF("id", "v"),
      Seq("id"))
    same(single, col("v") === "b", Seq("[2,b]", "[3,b]", "[null,b]")) // empty journal: the base, filtered
    single.upsert(Map("id" -> 2L, "v" -> "c")) // a base match patched out of the filter
    single.upsert(Map("id" -> 4L, "v" -> "b")) // a new journal match
    assert(single.delete(Seq(3L)))             // a tombstoned base match
    same(single, col("v") === "b", Seq("[4,b]", "[null,b]"))
    same(single, col("v") =!= "b", Seq("[1,a]", "[2,c]"))
    val composite = new EntityState(spark,
      Seq((1L, 1, "x"), (1L, 2, "x"), (2L, 1, "x"), (2L, 2, "y")).toDF("k1", "k2", "v"),
      Seq("k1", "k2"))
    composite.upsert(Map("k1" -> 1L, "k2" -> 2, "v" -> "y"))
    composite.upsert(Map("k1" -> 2L, "k2" -> 3, "v" -> "x"))
    assert(composite.delete(Seq(2L, 1)))
    same(composite, col("v") === "x", Seq("[1,1,x]", "[2,3,x]"))
    same(composite, col("v") === "y", Seq("[1,2,y]", "[2,2,y]"))
  }

  test("an armed approve session starts no Spark job once the store is warm: every write guard answers from the journal") {
    val secret = "job-free-secret"
    val (server, store) = RestServe.startWithStore(spark, dir, 0, authSecret = Some(secret))
    try {
      val http = new RestHttp { val base = s"http://127.0.0.1:${server.getAddress.getPort}" }
      def as(email: String) = http.auth(GraftAuth.token(secret, email))
      def field(reply: (Int, String), name: String): String =
        s""""$name":"?([^",}]+)""".r.findFirstMatchIn(reply._2).get.group(1)
      val (admin, buyer, w1, w2) =
        ("admin@jobs.io", "buyer@jobs.io", "w1@jobs.io", "w2@jobs.io")
      // The store's one-time warm-up: registering the admin builds the
      // users e-mail Bloom and the users id watermark; the other
      // single-key entities' watermarks follow. The base relations were
      // resolved when the store was built.
      assert(http.post("/users", s"""{"name":"Admin","email":"$admin","role":"admin"}""")._1 == 201)
      Seq(store.tasks, store.payments, store.withdrawals, store.notifications).foreach(_.newId())
      // The façade's request threads set no job group, so every job a
      // request starts lands in the ungrouped set of the status store.
      val sc = spark.sparkContext
      def ungrouped(): Set[Int] = {
        Thread.sleep(1500) // status store feeds from the async listener bus
        sc.statusTracker.getJobIdsForGroup(null).toSet
      }
      val before = ungrouped()
      Seq(buyer -> "buyer", w1 -> "worker", w2 -> "worker").foreach { case (e, role) =>
        assert(http.post("/users", s"""{"name":"$role","email":"$e","role":"$role"}""")._1 == 201)
      }
      assert(as(buyer).post("/purchase-coin", """{"coins":400,"amount":20}""")._1 == 200)
      val task = as(buyer).post("/tasks",
        """{"task_title":"Label","task_detail":"Label 20 images","required_workers":1,""" +
          """"payable_amount":220,"completion_date":"2026-12-31","submission_info":"a link"}""")
      assert(task._1 == 201, task)
      val subs = Seq(w1, w2).map { w =>
        val r = as(w).post("/api/submissions",
          s"""{"task_id":${field(task, "taskId")},"worker_email":"$w","worker_name":"W"}""")
        assert(r._1 == 201, r)
        field(r, "id")
      }
      assert(as(buyer).patch(s"/buyer/submissions/${subs(0)}/approve", "{}")._1 == 200)
      val second = as(buyer).patch(s"/buyer/submissions/${subs(1)}/approve", "{}")
      assert(second._1 == 400 && second._2.contains("Required number of workers already fulfilled"),
        second)
      val wd = as(w1).post("/withdrawals",
        s"""{"worker_email":"$w1","worker_name":"W","withdrawal_coin":200,"withdrawal_amount":10,""" +
          """"payment_system":"bkash","account_number":"0170000000"}""")
      assert(wd._1 == 201, wd)
      assert(as(admin).post(s"/admin/withdrawals/${field(wd, "id")}/approve", "{}")._1 == 200)
      val started = ungrouped() -- before
      assert(started.isEmpty,
        s"the session's writes must start no Spark job, started ${started.size}")
    } finally {
      server.stop(0)
      server.getExecutor match {
        case es: java.util.concurrent.ExecutorService => es.shutdown()
        case _ => ()
      }
    }
  }

  test("a store resolves its base relations when it is built: the first write to an unread entity starts no Spark job") {
    // A fresh copy of the fixture, so Tables' relation cache holds none
    // of its relations and their parquet schema reads (a job each) are
    // still to come.
    val copy = Paths.get(Scratch.tempDir("eager_base"))
    val src = Paths.get(dir)
    val walk = Files.walk(src)
    try walk.forEach { p =>
      val to = copy.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(to) else Files.copy(p, to)
    } finally walk.close()
    val store = new StateStore(spark, copy.toString)
    val sc = spark.sparkContext
    sc.setJobGroup("eager-base", "StateStoreSpec first write")
    try {
      store.submissions.upsert(Map("l_orderkey" -> 900001L, "l_linenumber" -> 1,
        "l_partkey" -> 1L, "l_suppkey" -> 1L, "status" -> "pending"))
      Thread.sleep(1500) // status store feeds from the async listener bus
      val jobs = sc.statusTracker.getJobIdsForGroup("eager-base")
      assert(jobs.isEmpty, s"the first write must start no Spark job, started ${jobs.length}")
    } finally sc.clearJobGroup()
    assert(store.submissions.lookup(Seq(900001L, 1, 1L, 1L)).exists(_("status") == "pending"))
  }

  // ---- WAL: replay equivalence --------------------------------------

  test("WAL replay rebuilds the journal exactly: every op kind, every value type, across entities") {
    val wal = Scratch.tempDir("wal_spec") + "/ops.wal"
    val a = new StateStore(spark, dir, walPath = Some(wal))
    // Every coerce-producible type rides a row: long/int keys, double,
    // string, boolean + null + timestamp as EVOLVED columns.
    val id = a.users.newId()
    a.users.upsert(Map("c_custkey" -> id, "c_name" -> "wal@graft.io",
      "c_nationkey" -> 7, "c_acctbal" -> 12.5, "c_mktsegment" -> "BUILDING",
      "verified" -> true, "note" -> null, "joined" -> a.now()))
    assert(a.users.patch(Seq(id), Map("c_acctbal" -> 99.25)))
    assert(a.tasks.patch(Seq(7L), Map("o_orderstatus" -> "approved")))
    assert(a.tasks.delete(Seq(11L)))
    a.submissions.upsert(Map("l_orderkey" -> 1L, "l_linenumber" -> 1,
      "l_partkey" -> 155190L, "l_suppkey" -> 7706L, "status" -> "approved"))
    a.notifications.delete(Seq(5L))

    val b = new StateStore(spark, dir, walPath = Some(wal))
    for ((ea, eb) <- Seq(a.users -> b.users, a.tasks -> b.tasks,
        a.submissions -> b.submissions, a.notifications -> b.notifications)) {
      assert(ea.journalSize == eb.journalSize)
      assert(rowsOf(ea) == rowsOf(eb), "replayed merged state must be identical")
    }
    // Typed round-trip, point-read form.
    val u = b.users.lookup(Seq(id)).get
    assert(u("c_acctbal") == 99.25 && u("verified") == true
      && u("note") == null && u("joined").isInstanceOf[java.sql.Timestamp])
    // newId never re-hands-out a replayed id; the logical clock resumes
    // monotone past replayed stamps.
    assert(b.users.newId() > id)
    assert(b.now().after(u("joined").asInstanceOf[java.sql.Timestamp]))
  }

  test("WAL torn tail is dropped (unacknowledged); mid-file corruption refuses to boot") {
    val wal = Scratch.tempDir("wal_torn") + "/ops.wal"
    val a = new StateStore(spark, dir, walPath = Some(wal))
    a.tasks.patch(Seq(7L), Map("o_orderstatus" -> "approved")): Unit
    // A crash mid-append: partial JSON, no trailing newline.
    Files.write(Paths.get(wal), """{"e":"tasks","del":false,"tk":9,"key":[{"t":"l","v"""".getBytes,
      StandardOpenOption.APPEND)
    val b = new StateStore(spark, dir, walPath = Some(wal))
    assert(b.tasks.journalSize == 1 &&
      b.tasks.lookup(Seq(7L)).exists(_("o_orderstatus") == "approved"))

    // Corruption BEFORE acknowledged records must throw, not silently
    // drop acknowledged writes.
    val wal2 = Scratch.tempDir("wal_corrupt") + "/ops.wal"
    val c = new StateStore(spark, dir, walPath = Some(wal2))
    c.tasks.patch(Seq(7L), Map("o_orderstatus" -> "approved")): Unit
    val good = new String(Files.readAllBytes(Paths.get(wal2)))
    Files.write(Paths.get(wal2), ("garbage not json\n" + good).getBytes)
    assertThrows[IllegalStateException] {
      new StateStore(spark, dir, walPath = Some(wal2))
    }
  }

  test("auto-compaction does not lose WAL'd history: replay after a fold reproduces the merged state") {
    import spark.implicits._
    val wal = Scratch.tempDir("wal_compact") + "/ops.wal"
    val a = new StateStore(spark, dir, autoCompactAt = 4, walPath = Some(wal))
    // 6 upserts under mutateOn(): the 5th crosses the threshold and folds
    // the journal into a scratch base — which a NEW PROCESS cannot see.
    (1 to 6).foreach { i =>
      a.mutateOn(Seq("notifications"))(a.notifications.upsert(Map("event_id" -> (800000L + i),
        "event_type" -> "notification", "message" -> s"m$i")))
    }
    assert(a.notifications.journalSize <= 4, "threshold must have folded")
    val b = new StateStore(spark, dir, autoCompactAt = 4, walPath = Some(wal))
    val names = b.notifications.current()
      .filter($"event_id" >= 800001L && $"event_id" <= 800006L)
      .select($"message").as[String].collect().sorted.toSeq
    assert(names == (1 to 6).map(i => s"m$i"),
      s"all six acknowledged writes must survive the fold + restart: $names")
  }

  test("WAL checkpoint: snapshot + rotation bound recovery to ops-since-checkpoint; crash windows replay correctly; auto-trigger fires") {
    import java.nio.file.{Files, Paths}
    val root = Scratch.tempDir("wal_ckpt")
    val wal = root + "/ops.wal"
    def walLines(): Int = Files.readAllLines(Paths.get(wal)).size()

    val a = new StateStore(spark, dir, walPath = Some(wal))
    assert(a.tasks.patch(Seq(7L), Map("o_orderstatus" -> "approved")))
    a.users.upsert(Map("c_custkey" -> 700001L, "c_name" -> "ck@graft.io"))
    val preRotation = Files.readAllBytes(Paths.get(wal))
    a.checkpoint()
    assert(walLines() == 0, "a committed checkpoint must rotate the log")
    // Post-checkpoint ops: the log carries ONLY these.
    assert(a.notifications.delete(Seq(5L)))
    assert(a.tasks.patch(Seq(11L), Map("o_orderstatus" -> "approved")))
    assert(walLines() == 2, "recovery cost must be ops-SINCE-checkpoint")

    // Clean recovery: snapshot base + short log = the full state.
    val b = new StateStore(spark, dir, walPath = Some(wal))
    for ((ea, eb) <- Seq(a.tasks -> b.tasks, a.users -> b.users,
        a.notifications -> b.notifications))
      assert(rowsOf(ea) == rowsOf(eb),
        "checkpoint + tail replay must equal the live store")
    assert(b.users.newId() > 700001L,
      "the id watermark must survive through the snapshot")

    // Crash window: manifest committed but the rotation never ran —
    // the full pre-checkpoint log sits in FRONT of the tail. Replaying
    // already-folded ops onto the snapshot must be idempotent.
    val post = Files.readAllBytes(Paths.get(wal))
    Files.write(Paths.get(wal), preRotation ++ post)
    val c = new StateStore(spark, dir, walPath = Some(wal))
    for ((ea, ec) <- Seq(a.tasks -> c.tasks, a.users -> c.users,
        a.notifications -> c.notifications))
      assert(rowsOf(ea) == rowsOf(ec),
        "replay of pre-checkpoint ops onto the snapshot must be idempotent")

    // Crash window: a snapshot version without a manifest is a crash
    // remnant — recovery must ignore it and use the committed one.
    Files.createDirectories(Paths.get(s"$root/snap/v99/users"))
    Files.write(Paths.get(s"$root/snap/v99/users/part-junk"), "junk".getBytes)
    Files.write(Paths.get(wal), post) // back to the clean tail
    val d = new StateStore(spark, dir, walPath = Some(wal))
    assert(rowsOf(d.tasks) == rowsOf(a.tasks),
      "a manifest-less snapshot remnant must be invisible to recovery")

    // Auto-trigger: crossing walCheckpointEvery inside mutateOn()
    // checkpoints without anyone calling it.
    val root2 = Scratch.tempDir("wal_auto")
    val e = new StateStore(spark, dir, walPath = Some(root2 + "/ops.wal"),
      walCheckpointEvery = 5)
    (1 to 6).foreach(i => e.mutateOn(Seq("notifications"))(
      e.notifications.upsert(Map("event_id" -> (810000L + i),
        "event_type" -> "notification"))))
    assert(StateStore.latestSnapshot(root2).isDefined,
      "the op-count threshold must fire a checkpoint on its own")
    assert(Files.readAllLines(Paths.get(root2 + "/ops.wal")).size() < 6)
    val f = new StateStore(spark, dir, walPath = Some(root2 + "/ops.wal"))
    assert(rowsOf(f.notifications) == rowsOf(e.notifications))
  }

  // ---- incremental checkpoints (r10 verdict #1) -----------------------

  test("incremental checkpoint: an untouched entity is pointed at, not rewritten; the reaper never deletes a still-referenced version") {
    import java.nio.file.{Files, Paths}
    val root = Scratch.tempDir("wal_incr")
    val wal = root + "/ops.wal"
    val a = new StateStore(spark, dir, walPath = Some(wal))
    // Checkpoint 1: users + tasks dirty.
    a.users.upsert(Map("c_custkey" -> 710001L, "c_name" -> "incr@graft.io"))
    assert(a.tasks.patch(Seq(7L), Map("o_orderstatus" -> "approved")))
    a.checkpoint()
    val (v1, ptrs1, _) = StateStore.latestSnapshot(root).get
    assert(ptrs1 == Map("users" -> v1, "tasks" -> v1), s"first manifest: $ptrs1")
    // Checkpoint 2: ONLY notifications dirty — users/tasks must keep
    // their v1 pointers and their v1 bytes must NOT be rewritten.
    assert(a.notifications.delete(Seq(5L)))
    val usersSnapMtime = Files.getLastModifiedTime(
      Paths.get(s"$root/snap/v$v1/users")).toMillis
    a.checkpoint()
    val (v2, ptrs2, _) = StateStore.latestSnapshot(root).get
    assert(v2 == v1 + 1)
    assert(ptrs2 == Map("users" -> v1, "tasks" -> v1, "notifications" -> v2),
      s"the untouched entities must be re-REFERENCED, not re-written: $ptrs2")
    assert(Files.exists(Paths.get(s"$root/snap/v$v1/users")),
      "the reaper must never delete a still-referenced version")
    assert(Files.getLastModifiedTime(Paths.get(s"$root/snap/v$v1/users"))
      .toMillis == usersSnapMtime, "an untouched entity's snapshot was rewritten")
    assert(!Files.exists(Paths.get(s"$root/snap/v$v2/users")),
      "checkpoint 2 must snapshot ONLY the dirty entity")
    // A third checkpoint with a users touch moves its pointer and the
    // reaper may now drop nothing referenced by the two newest
    // manifests (v2's pointers still include v1's users/tasks).
    a.users.upsert(Map("c_custkey" -> 710002L, "c_name" -> "incr2@graft.io"))
    a.checkpoint()
    val (v3, ptrs3, _) = StateStore.latestSnapshot(root).get
    assert(ptrs3("users") == v3 && ptrs3("tasks") == v1)
    assert(Files.exists(Paths.get(s"$root/snap/v$v1/tasks")),
      "tasks@v1 is referenced by the LATEST manifest — must survive any reap")
    // Recovery through the pointers: exact state.
    val b = new StateStore(spark, dir, walPath = Some(wal))
    for ((ea, eb) <- Seq(a.users -> b.users, a.tasks -> b.tasks,
        a.notifications -> b.notifications))
      assert(rowsOf(ea) == rowsOf(eb),
        "recovery through entity->version pointers must be exact")
  }

  // ---- WAL batch framing + rollback (r10 ADVICE mediums) --------------

  test("a multi-op mutate() body is ONE atomic WAL record: a torn tail drops the whole body, never half an invariant") {
    import java.nio.file.{Files, Paths}
    val wal = Scratch.tempDir("wal_batch") + "/ops.wal"
    val a = new StateStore(spark, dir, walPath = Some(wal))
    // The approve shape: a submission $set + a user $inc in one body.
    a.mutateOn(Seq("submissions", "users")) {
      a.submissions.upsert(Map("l_orderkey" -> 1L, "l_linenumber" -> 1,
        "l_partkey" -> 155190L, "l_suppkey" -> 7706L, "status" -> "approved"))
      assert(a.users.patch(Seq(1L), Map("c_acctbal" -> 999.75)))
    }
    val lines = Files.readAllLines(Paths.get(wal))
    assert(lines.size() == 1, s"one body must frame as ONE record, got ${lines.size()}")
    assert(lines.get(0).contains("\"b\""), "multi-op bodies use the batch frame")
    // Replay of the intact record applies BOTH ops.
    val b = new StateStore(spark, dir, walPath = Some(wal))
    assert(b.users.lookup(Seq(1L)).exists(_("c_acctbal") == 999.75))
    assert(b.submissions.lookup(Seq(1L, 1, 155190L, 7706L))
      .exists(_("status") == "approved"))
    // Tear the record (crash mid-append): BOTH ops vanish — the store
    // can never recover half the invariant.
    val full = new String(Files.readAllBytes(Paths.get(wal)))
    Files.write(Paths.get(wal), full.dropRight(30).getBytes)
    val c = new StateStore(spark, dir, walPath = Some(wal))
    assert(c.users.journalSize == 0 && c.submissions.journalSize == 0,
      "a torn batch record must drop the WHOLE body on replay")
  }

  test("a failed WAL append rolls the body's journal ops back: served state never diverges from durable state") {
    val wal = Scratch.tempDir("wal_fail") + "/ops.wal"
    val a = new StateStore(spark, dir, walPath = Some(wal))
    a.users.upsert(Map("c_custkey" -> 720001L, "c_name" -> "pre@graft.io"))
    // Force the next append to fail: close the log's stream out from
    // under the store (the disk-full / IO-error stand-in).
    a.wal.get.close()
    val thrown = intercept[Exception] {
      a.mutateOn(Seq("users", "tasks")) {
        a.users.upsert(Map("c_custkey" -> 720002L, "c_name" -> "lost@graft.io"))
        a.tasks.patch(Seq(7L), Map("o_orderstatus" -> "half")): Unit
      }
    }
    assert(thrown.isInstanceOf[java.io.IOException], s"unexpected: $thrown")
    // The failed body's ops are GONE from served state...
    assert(a.users.lookup(Seq(720002L)).isEmpty,
      "an un-logged write must not stay live in memory")
    assert(!a.tasks.lookup(Seq(7L)).exists(_("o_orderstatus") == "half"))
    // ...and the pre-failure write (which WAS logged) replays fine.
    val b = new StateStore(spark, dir, walPath = Some(wal))
    assert(b.users.lookup(Seq(720001L)).isDefined)
    assert(b.users.lookup(Seq(720002L)).isEmpty)
  }

  // ---- checkpoint failure atomicity (r11 ADVICE medium #1) ------------

  test("a FAILED checkpoint leaves every entity dirty and commits nothing; the retry uses a fresh version and loses no acknowledged write") {
    val root = Scratch.tempDir("wal_ckpt_fail")
    val wal = root + "/ops.wal"
    val a = new StateStore(spark, dir, walPath = Some(wal))
    a.users.upsert(Map("c_custkey" -> 740001L, "c_name" -> "ckfail@graft.io"))
    assert(a.tasks.patch(Seq(7L), Map("o_orderstatus" -> "approved")))
    // Fail the manifest commit AFTER the compactTo loop has already
    // snapshotted (and re-based) the dirty entities — the exact window
    // where the old per-entity dirty-clearing lost acknowledged writes.
    StateStore.manifestFault =
      () => throw new java.io.IOException("injected manifest failure")
    try intercept[java.io.IOException] { a.checkpoint() }
    finally StateStore.manifestFault = () => ()
    // Nothing committed: no manifest, WAL unrotated — recovery from the
    // old base + full log is complete.
    assert(StateStore.latestSnapshot(root).isEmpty,
      "a failed checkpoint must not commit a manifest")
    assert(Files.readAllLines(Paths.get(wal)).size() == 2,
      "a failed checkpoint must not rotate the WAL")
    val b = new StateStore(spark, dir, walPath = Some(wal))
    assert(rowsOf(b.users) == rowsOf(a.users) && rowsOf(b.tasks) == rowsOf(a.tasks),
      "recovery across a failed checkpoint must see every acknowledged write")
    // Retry: a FRESH version commits — the failed attempt's v0 dirs
    // (which the live bases now read) are never overwritten — and both
    // entities re-snapshot (still dirty).
    a.checkpoint()
    val (v, ptrs, _) = StateStore.latestSnapshot(root).get
    assert(v == 1L, s"the retry must write a fresh version, got v$v")
    assert(ptrs == Map("users" -> 1L, "tasks" -> 1L), s"retry pointers: $ptrs")
    assert(Files.readAllLines(Paths.get(wal)).isEmpty,
      "the successful retry rotates the log")
    val c = new StateStore(spark, dir, walPath = Some(wal))
    assert(rowsOf(c.users) == rowsOf(a.users) && rowsOf(c.tasks) == rowsOf(a.tasks),
      "recovery through the retried checkpoint must be exact")
  }

  // ---- WAL partial-append truncation (r11 ADVICE medium #2) -----------

  test("a PARTIAL WAL append leaves no bytes behind: the op rolls back, the log stays replayable, later commits append cleanly") {
    val walPath = Scratch.tempDir("wal_partial") + "/ops.wal"
    val a = new StateStore(spark, dir, walPath = Some(walPath))
    a.users.upsert(Map("c_custkey" -> 750001L, "c_name" -> "ok@graft.io"))
    val lenBefore = new java.io.File(walPath).length()
    // Inject ONE mid-buffer failure (the ENOSPC shape): half the record's
    // bytes land, then the write throws.
    a.wal.get.out = new java.io.FileOutputStream(new java.io.File(walPath), true) {
      private var armed = true
      override def write(b: Array[Byte]): Unit =
        if (armed) { armed = false; super.write(b, 0, b.length / 2)
          throw new java.io.IOException("injected mid-buffer failure") }
        else super.write(b)
    }
    intercept[java.io.IOException] {
      a.users.upsert(Map("c_custkey" -> 750002L, "c_name" -> "torn@graft.io"))
    }
    assert(new java.io.File(walPath).length() == lenBefore,
      "the failed append's partial bytes must be truncated away")
    assert(a.users.lookup(Seq(750002L)).isEmpty,
      "the failed op must roll back from served state")
    // Without the truncation this next record would append AFTER the
    // torn bytes — mid-file corruption that refuses every later boot.
    a.users.upsert(Map("c_custkey" -> 750003L, "c_name" -> "after@graft.io"))
    val b = new StateStore(spark, dir, walPath = Some(walPath))
    assert(b.users.lookup(Seq(750001L)).isDefined)
    assert(b.users.lookup(Seq(750002L)).isEmpty)
    assert(b.users.lookup(Seq(750003L)).isDefined,
      "commits after a truncated failure must replay cleanly")
  }

  // ---- direct writes vs checkpoints (r11 ADVICE low) ------------------

  test("direct EntityState writes serialize with concurrent checkpoints: every acknowledged op survives recovery") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.global
    val wal = Scratch.tempDir("wal_direct_race") + "/ops.wal"
    val a = new StateStore(spark, dir, walPath = Some(wal))
    val n = 48
    val writer = Future {
      (1 to n).foreach(i => a.notifications.upsert(Map(
        "event_id" -> (840000L + i), "event_type" -> "notification")))
    }
    // Checkpoints race the direct writer: before the fence, a commit
    // could land its record in a log rotate() was deleting.
    val ckpts = Future { (1 to 6).foreach { _ => a.checkpoint(); Thread.sleep(10) } }
    Await.result(Future.sequence(Seq(writer, ckpts)), 300.seconds)
    val b = new StateStore(spark, dir, walPath = Some(wal))
    import spark.implicits._
    val got = b.notifications.current()
      .filter(col("event_id").between(840001L, 840000L + n))
      .select(col("event_id")).as[Long].collect().sorted.toSeq
    assert(got == (1 to n).map(840000L + _),
      s"every directly-acknowledged op must survive: got ${got.length} of $n")
  }

  // ---- group commit + per-entity concurrency (r10 verdict #2/#8) ------

  test("group commit: 8 concurrent writers fsync FEWER times than they commit; disjoint-entity bodies do not serialize on one store lock") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.global
    // Coalescing is RATE-dependent (the r11 survey's own observation:
    // when every fsync completes before the next commit arrives, syncs
    // legitimately equal commits — the fast-disk/quiet-box case, first
    // observed as a 320-of-320 flake in an otherwise green r12 run).
    // The property under test is that coalescing CAN engage under
    // queue pressure, so the load round retries a bounded number of
    // times and passes when ANY round coalesces; the no-lost-write
    // assertions below still run on every round unconditionally.
    val perThread = 40
    var coalesced = false
    var round = 0
    while (!coalesced && round < 4) {
      round += 1
      val wal = Scratch.tempDir(s"wal_group$round") + "/ops.wal"
      val a = new StateStore(spark, dir, walPath = Some(wal))
      val work = (0 until 8).map { t =>
        Future {
          val entity = if (t % 2 == 0) "users" else "notifications"
          (1 to perThread).foreach { i =>
            a.mutateOn(Seq(entity)) {
              if (t % 2 == 0)
                a.users.upsert(Map("c_custkey" -> (730000L + t * 1000 + i),
                  "c_name" -> s"g$t-$i@graft.io"))
              else
                a.notifications.upsert(Map("event_id" -> (830000L + t * 1000 + i),
                  "event_type" -> "notification"))
            }
          }
        }
      }
      Await.result(Future.sequence(work), 180.seconds)
      val w = a.wal.get
      assert(w.commits.get() == 8L * perThread, s"commits: ${w.commits.get()}")
      assert(w.syncs.get() <= w.commits.get(),
        s"syncs can never exceed commits: ${w.syncs.get()} vs ${w.commits.get()}")
      coalesced = w.syncs.get() < w.commits.get()
      // Nothing lost: every op replays — on EVERY round, coalesced or not.
      val b = new StateStore(spark, dir, walPath = Some(wal))
      assert(b.users.journalSize == 4 * perThread)
      assert(b.notifications.journalSize == 4 * perThread)
    }
    assert(coalesced,
      s"group commit never coalesced across $round rounds of 8-writer load " +
        "(every fsync won the race every time — on this box that is a real regression)")
  }

  // ---- the real thing: SIGKILL the serving process --------------------

  test("acknowledged HTTP writes survive a SIGKILLed facade: WAL replay in a fresh store") {
    val wal = Scratch.tempDir("wal_kill") + "/ops.wal"
    val proc = new ProcessBuilder(
      ChildJvm.command("graft.WalCrashServe", Seq(dir, wal)): _*)
      .redirectErrorStream(true).start()
    val reader = new java.io.BufferedReader(
      new java.io.InputStreamReader(proc.getInputStream))
    var port = -1
    val deadline = System.nanoTime() + 180L * 1000 * 1000 * 1000
    while (port < 0 && System.nanoTime() < deadline) {
      val l = reader.readLine()
      if (l == null) Thread.sleep(50)
      else if (l.startsWith("WAL_READY")) port = l.split("port=")(1).trim.toInt
    }
    assert(port > 0, "child facade never came up")
    try {
      val http = new RestHttp {
        override val base = s"http://127.0.0.1:$port"
      }
      assert(http.post("/users",
        """{"name":"K","email":"kill@graft.io","role":"admin"}""")._1 == 201)
      assert(http.patch("/admin/users/kill@graft.io/role",
        """{"role":"worker"}""")._1 == 200)
      // Both responses are in hand — the writes are ACKNOWLEDGED. Kill
      // without ceremony: no shutdown hooks, no flushes beyond what
      // append() already fsynced.
      proc.destroyForcibly()
      proc.waitFor()
    } finally if (proc.isAlive) { proc.destroyForcibly(); proc.waitFor(): Unit }

    val revived = new StateStore(spark, dir, walPath = Some(wal))
    val u = revived.users.lookupBy("c_name", "kill@graft.io")
    assert(u.isDefined, "the acknowledged registration must survive the kill")
    assert(u.get("role") == "worker",
      s"the acknowledged role patch must survive too: $u")
  }

  // ---- parameter binding: reads bind request values by reference ----
  // A point read with a new key reuses the classes the last read
  // compiled, answers the rows the interpreted engine and
  // `current().filter(where)` give, and catalog plans render exactly as
  // before.

  /** Janino compiles so far in this JVM (codegen cache hits do not count). */
  private def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  /** `body` with expression codegen and whole-stage codegen both off. */
  private def interpreted[A](body: => A): A = {
    val confs = Seq("spark.sql.codegen.factoryMode" -> "NO_CODEGEN",
      "spark.sql.codegen.wholeStage" -> "false")
    val prior = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prior.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  private def boundFilters(plan: SparkPlan): Seq[BoundLiteral] =
    plan.collect { case f: FilterExec => f.condition.collect { case b: BoundLiteral => b } }.flatten

  test("40 point reads and feeds with distinct keys compile at most one class in total") {
    import spark.implicits._
    val store = new StateStore(spark, dir)
    val t = Tables(spark, dir)
    val orderKeys = t.orders.select($"o_orderkey").as[Long].collect().sorted
    val custKeys = t.orders.select($"o_custkey").distinct().as[Long].collect().sorted
    val suppKeys = t.lineitem.select($"l_suppkey").distinct().as[Long].collect().sorted
    val userIds = t.events.select($"user_id").distinct().as[Long].collect().sorted
    assert(orderKeys.length > 60 && custKeys.length > 20 && suppKeys.length > 8 && userIds.length > 10)
    // A journal on every entity read below, so each read takes the
    // merged path: patched base rows, new rows and a tombstone.
    Seq(store.tasks, store.payments).foreach { e =>
      assert(e.patch(Seq(orderKeys(0)), Map("o_orderstatus" -> "X")))
      e.upsert(Map("o_orderkey" -> (orderKeys.last + 1), "o_custkey" -> custKeys(0), "o_totalprice" -> 1.0))
      assert(e.delete(Seq(orderKeys(1))))
    }
    // Journal rows that the warm-up's first key and every other
    // measured key (indexes 2, 4, 6) match.
    Seq(0, 2, 4, 6).foreach { i =>
      if (i > 0) assert(store.tasks.patch(Seq(orderKeys(i)), Map("o_orderstatus" -> "X")))
      if (i > 0) store.payments.upsert(Map("o_orderkey" -> (orderKeys.last + 1 + i),
        "o_custkey" -> custKeys(i), "o_totalprice" -> 2.0))
      store.submissions.upsert(Map("l_orderkey" -> orderKeys(i), "l_linenumber" -> 99,
        "l_partkey" -> 0L, "l_suppkey" -> suppKeys(i), "status" -> "pending"))
      store.notifications.upsert(Map("event_id" -> store.notifications.newId(),
        "user_id" -> userIds(i), "event_type" -> "notification"))
    }
    val sub = t.lineitem.select($"l_orderkey", $"l_linenumber", $"l_partkey", $"l_suppkey").head()

    // The route shapes of RestServe's parameterized reads, and the
    // store's point reads and guard count.
    val shapes: Seq[Long => Unit] = Seq(
      k => store.tasks.current($"o_orderkey" === k).toJSON.collect(),
      k => store.payments.current($"o_custkey" === k)
        .select($"o_orderkey", $"o_orderdate", $"o_totalprice")
        .orderBy($"o_orderkey".desc).limit(50).toJSON.collect(),
      k => store.notifications.current($"user_id" === k)
        .select($"event_id", $"ts", $"event_type")
        .orderBy($"ts".desc, $"event_id".desc).limit(50).toJSON.collect(),
      k => store.submissions.current($"l_suppkey" === k)
        .select($"l_orderkey", $"l_linenumber", $"l_quantity", $"l_returnflag")
        .orderBy($"l_orderkey".desc, $"l_linenumber".desc).limit(50).toJSON.collect(),
      k => store.tasks.lookup(Seq(k)),
      k => store.submissions.lookup(Seq(k, sub.getInt(1), sub.getLong(2), sub.getLong(3))),
      k => store.payments.countWhere(Map("o_custkey" -> k)))
    val keysOf: Seq[Array[Long]] =
      Seq(orderKeys, custKeys, userIds, suppKeys, orderKeys, orderKeys, custKeys)
    // Warm-up: every shape once with a journal match and once without.
    shapes.zip(keysOf).foreach { case (read, ks) => read(ks(0)); read(ks.last) }
    val before = compiles()
    // 40 reads, each with a key no earlier read used: hits, misses
    // (key + 1 past a base key may exist or not) and journal rows.
    val measured = (0 until 40).map { i =>
      val s = i % shapes.size
      val ks = keysOf(s)
      val k = if (i % 3 == 2) ks(2 + i / shapes.size) + 1000000L else ks(2 + i / shapes.size)
      shapes(s)(k)
      (s, k)
    }
    assert(measured.distinct.size == 40)
    val compiled = compiles() - before
    assert(compiled <= 1, s"40 distinct-key reads compiled $compiled classes")
  }

  /** A parquet base (so the filter runs over a real scan with pushed
    * filters) with Long key `id`, Int, Date and Timestamp columns and a
    * null-keyed row. */
  private def typedEntity(): EntityState = {
    import spark.implicits._
    val path = Scratch.tempDir("param-binding") + "/base"
    Seq[(Option[Long], Int, Date, Timestamp, String)](
      (Some(1L), 10, Date.valueOf("2024-01-01"), Timestamp.valueOf("2024-01-01 00:00:01"), "a"),
      (Some(2L), 20, Date.valueOf("2024-01-02"), Timestamp.valueOf("2024-01-02 00:00:01"), "b"),
      (Some(3L), 30, Date.valueOf("2024-01-03"), Timestamp.valueOf("2024-01-03 00:00:01"), "c"),
      (None, 20, Date.valueOf("2024-01-02"), Timestamp.valueOf("2024-01-02 00:00:01"), "n"),
      (Some(4L), 40, Date.valueOf("2024-01-04"), Timestamp.valueOf("2024-01-04 00:00:01"), "d"))
      .toDF("id", "i", "d", "ts", "v").write.parquet(path)
    val e = new EntityState(spark, spark.read.parquet(path), Seq("id"))
    assert(e.patch(Seq(2L), Map("i" -> 21, "v" -> "b2")))  // a patched base row
    e.upsert(Map("id" -> 5L, "i" -> 20, "d" -> Date.valueOf("2024-01-02"),
      "ts" -> Timestamp.valueOf("2024-01-05 00:00:01"), "v" -> "e")) // journal only
    assert(e.delete(Seq(3L)))                              // a tombstoned base row
    e
  }

  test("bound reads answer the interpreted engine's rows and current().filter(where)'s: hits, misses, tombstones, journal-only and null-keyed rows, Int/Long/Date/Timestamp") {
    val e = typedEntity()
    val wheres: Seq[(String, Column)] = Seq(
      "base hit" -> (col("id") === 1L),
      "patched" -> (col("id") === 2L),
      "tombstoned" -> (col("id") === 3L),
      "journal only" -> (col("id") === 5L),
      "miss" -> (col("id") === 99L),
      "int, null-keyed base row" -> (col("i") === 20),
      "date" -> (col("d") === Date.valueOf("2024-01-02")),
      "timestamp range" -> (col("ts") >= Timestamp.valueOf("2024-01-02 00:00:00") &&
        col("ts") < Timestamp.valueOf("2024-01-04 00:00:00")),
      "in list" -> col("id").isin(1L, 3L, 5L, 99L),
      "long range and int" -> (col("id") > 1L && col("i") <= 40))
    wheres.foreach { case (name, w) =>
      val bound = rows(e.current(w))
      assert(bound == rows(e.current().filter(w)), name)
      assert(bound == interpreted(rows(e.current(w))), name)
    }
    assert(rows(e.current(col("i") === 20)) ==
      Seq("[5,20,2024-01-02,2024-01-05 00:00:01.0,e]", "[null,20,2024-01-02,2024-01-02 00:00:01.0,n]"))
    Seq(1L, 2L, 3L, 5L, 99L).foreach { k =>
      assert(e.lookup(Seq(k)) == interpreted(e.lookup(Seq(k))), s"lookup $k")
    }
    assert(e.lookup(Seq(1L)).exists(_("v") == "a") && e.lookup(Seq(3L)).isEmpty)
    // The rule fired on the base side, and the scan still pushed the
    // real literal.
    val plan = e.current(col("id") === 1L && col("i") === 10).queryExecution.executedPlan
    assert(boundFilters(plan).map(_.value).toSet == Set(1L, 10), plan.toString)
    val scan = plan.collectFirst { case s: FileSourceScanExec => s }.get
    assert(scan.dataFilters.exists(_.exists(_ == Literal(1L))), scan.toString)
  }

  test("composite submissions keys: bound reads equal the interpreted engine's and current().filter(where)'s") {
    import spark.implicits._
    val store = new StateStore(spark, dir)
    val t = Tables(spark, dir)
    val base = t.lineitem.select($"l_orderkey", $"l_linenumber", $"l_partkey", $"l_suppkey")
      .orderBy($"l_orderkey", $"l_linenumber").limit(3).collect()
    def key(i: Int): Seq[Any] = base(i).toSeq
    val s = store.submissions
    assert(s.patch(key(0), Map("l_quantity" -> 7.0)))
    assert(s.delete(key(1)))
    s.upsert(Map("l_orderkey" -> base(2).getLong(0), "l_linenumber" -> 77,
      "l_partkey" -> base(2).getLong(2), "l_suppkey" -> base(2).getLong(3), "status" -> "pending"))
    val supp = base.map(_.getLong(3)).toSeq
    val wheres = supp.map(v => col("l_suppkey") === v) ++ Seq(
      col("l_orderkey") === base(0).getLong(0) && col("l_linenumber") === base(0).getInt(1),
      col("l_orderkey") === base(1).getLong(0) && col("l_linenumber") === base(1).getInt(1),
      col("l_orderkey") === -1L)
    wheres.foreach { w =>
      val bound = rows(s.current(w))
      assert(bound == rows(s.current().filter(w)), w.toString)
      assert(bound == interpreted(rows(s.current(w))), w.toString)
    }
    val keys = Seq(key(0), key(1), key(2), Seq(base(2).getLong(0), 77, base(2).getLong(2), base(2).getLong(3)),
      Seq(-1L, 1, 1L, 1L))
    keys.foreach(k => assert(s.lookup(k) == interpreted(s.lookup(k)), k.toString))
    assert(s.lookup(key(1)).isEmpty && s.lookup(key(0)).exists(_("l_quantity") == 7.0))
  }

  test("catalog plans render byte-identically: ReadPath P2's executed plan binds its key and prints the literal") {
    val qe = SparkEntry.queries("p2_point_lookup_id")(spark, dir).queryExecution
    val plan = qe.executedPlan
    assert(boundFilters(plan).map(_.value) == Seq(7L), plan.toString)
    val asLiterals = plan.transformAllExpressions {
      case b: BoundLiteral => Literal(b.value, b.dataType)
    }
    assert(boundFilters(asLiterals).isEmpty)
    assert(plan.toString == asLiterals.toString)
    assert(plan.toString.contains("(o_orderkey#") && plan.toString.contains("= 7)"), plan.toString)
    assert(plan.toString.contains("EqualTo(o_orderkey,7)"), "the scan's pushed filter keeps the literal")
  }

  test("a bound literal renders, evaluates and prints SQL exactly as the literal it replaces") {
    val values: Seq[(Any, DataType)] = Seq(true -> BooleanType, 3.toByte -> ByteType, 4.toShort -> ShortType,
      5 -> IntegerType, 6L -> LongType, 1.5f -> FloatType, -2.5 -> DoubleType,
      Double.NaN -> DoubleType, 19000 -> DateType, 1700000000000000L -> TimestampType,
      1700000000000000L -> TimestampNTZType)
    values.foreach { case (v, t) =>
      val b = BoundLiteral(v, t)
      val l = Literal(v, t)
      assert(b.toString == l.toString && b.sql == l.sql && java.util.Objects.equals(b.eval(), l.eval()), s"$v: $t")
      assert(b.dataType == l.dataType && !b.nullable && b.foldable)
    }
    assert(!BoundLiteral.inlined(StringType) && !BoundLiteral.inlined(DecimalType(10, 2)))
  }

  // ---- plan-time base skipping: the base's footer statistics --------
  // A key value outside every row group's min/max answers from the
  // journal alone, on the driver; any other value reads the base as
  // before, and the statistics follow the base through every swap.

  test("lookup and countWhere: an id outside the base's row groups answers None or 0 with no Spark job; ids inside answer as before") {
    import spark.implicits._
    val store = new StateStore(spark, dir)
    val t = Tables(spark, dir)
    val keys = t.orders.select($"o_orderkey").as[Long].collect().sorted
    val gap = keys.sliding(2).collectFirst { case Array(a, b) if b > a + 1 => a + 1 }
    val out = keys.last + 1000000L
    val sub = t.lineitem.select($"l_orderkey", $"l_linenumber", $"l_partkey", $"l_suppkey").head()
    val outside: Seq[(String, () => Any, Any)] = Seq(
      ("lookup", () => store.tasks.lookup(Seq(out)), None),
      ("lookup below the minimum", () => store.tasks.lookup(Seq(-1L)), None),
      ("composite lookup", () => store.submissions.lookup(
        Seq(out, sub.getInt(1), sub.getLong(2), sub.getLong(3))), None),
      ("patch", () => store.tasks.patch(Seq(out), Map("o_orderstatus" -> "X")), false),
      ("delete", () => store.tasks.delete(Seq(out)), false),
      ("countWhere", () => store.payments.countWhere(Map("o_custkey" -> out)), 0L),
      ("string countWhere", () => store.users.countWhere(Map("c_name" -> "zz@graft.io")), 0L))
    outside.foreach { case (name, read, want) =>
      val (got, jobs) = JobCount(spark)(read())
      assert(got == want, name)
      assert(jobs == 0, s"$name started $jobs Spark jobs")
    }
    // Inside the ranges: present keys, a key in a gap between present
    // ones if the fixture has one, and counts, each reading the base
    // with the answer it gave.
    (Seq(keys(0), keys(keys.length / 2)) ++ gap).foreach { k =>
      val want = t.orders.filter($"o_orderkey" === k).collect().headOption
        .map(r => r.schema.fieldNames.zip(r.toSeq).toMap)
      val (got, jobs) = JobCount(spark)(store.tasks.lookup(Seq(k)))
      assert(got == want, s"lookup $k")
      assert(jobs > 0, s"lookup $k must read the base")
    }
    val cust = t.orders.select($"o_custkey").as[Long].head()
    val (_, countJobs) = JobCount(spark)(t.orders.filter($"o_custkey" === cust).count())
    val (n, jobs) = JobCount(spark)(store.payments.countWhere(Map("o_custkey" -> cust)))
    assert(n == t.orders.filter($"o_custkey" === cust).count())
    // No Bloom is built on the way: that would add its own jobs.
    assert(jobs == countJobs, s"countWhere started $jobs jobs, the bare count $countJobs")
    // A value inside the string column's range that the base lacks:
    // only a Bloom can rule it out. The secondary-key guard builds one;
    // reads then consult it and start no job.
    val first = t.customer.select(min($"c_name")).as[String].head()
    assert(store.users.lookupBy("c_name", first + "x").isEmpty)
    val (absent, bloomJobs) = JobCount(spark)(store.users.countWhere(Map("c_name" -> (first + "y"))))
    assert(absent == 0L && bloomJobs == 0, s"a Bloom-ruled-out count started $bloomJobs jobs")
  }

  test("a read the base's statistics rule out keeps the merged shape: base columns, then evolved ones") {
    import spark.implicits._
    val store = new StateStore(spark, dir)
    val e = store.notifications
    val user = 3000000L
    e.upsert(Map("event_id" -> e.newId(), "user_id" -> user, "event_type" -> "notification",
      "message" -> "hello", "read" -> false))
    Seq(user, user + 1).foreach { u =>
      val w = $"user_id" === u
      val pruned = e.current(w)
      assert(pruned.queryExecution.optimizedPlan.isInstanceOf[LocalRelation], u)
      assert(pruned.schema == e.current().filter(w).schema, u)
      assert(rows(pruned) == rows(e.current().filter(w)), u)
    }
    val columns = e.current($"user_id" === user).columns.toSeq
    assert(columns.dropRight(2) == Tables(spark, dir).events.columns.toSeq)
    assert(columns.takeRight(2).toSet == Set("message", "read"))
  }

  test("a journal-only key reads back after compact(), a checkpoint and WAL recovery, then from the base with a job") {
    import spark.implicits._
    val wal = Scratch.tempDir("stats_swap") + "/ops.wal"
    val store = new StateStore(spark, dir, walPath = Some(wal))
    def feed(s: StateStore, u: Long): DataFrame =
      s.payments.current($"o_custkey" === u).select($"o_orderkey", $"o_custkey", $"o_totalprice")
    def readBack(s: StateStore, u: Long, fromBase: Boolean): Unit = {
      val (got, jobs) = JobCount(spark)(RestServe.jsonRows(feed(s, u)).toSeq)
      assert(got == Seq(s"""{"o_orderkey":$u,"o_custkey":$u,"o_totalprice":1.0}"""), s"feed $u")
      assert((jobs > 0) == fromBase, s"feed $u started $jobs jobs")
      val (row, lookupJobs) = JobCount(spark)(s.payments.lookup(Seq(u)))
      assert(row.exists(_("o_custkey") == u), s"lookup $u")
      assert((lookupJobs > 0) == fromBase, s"lookup $u started $lookupJobs jobs")
    }
    def pay(s: StateStore, u: Long): Unit =
      s.payments.upsert(Map("o_orderkey" -> u, "o_custkey" -> u, "o_totalprice" -> 1.0))
    val Seq(a, b, c) = Seq(4000001L, 4000002L, 4000003L)
    pay(store, a)
    readBack(store, a, fromBase = false)
    store.payments.compact()
    readBack(store, a, fromBase = true)
    pay(store, b)
    readBack(store, b, fromBase = false)
    store.checkpoint()
    readBack(store, b, fromBase = true)
    pay(store, c)
    readBack(store, c, fromBase = false)
    val revived = new StateStore(spark, dir, walPath = Some(wal))
    Seq(a, b).foreach(readBack(revived, _, fromBase = true))
    readBack(revived, c, fromBase = false)
  }
}
