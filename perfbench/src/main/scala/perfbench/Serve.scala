package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.Duration
import java.util.concurrent.{Executors, TimeUnit}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.{GraftAuth, RestServe, Tables}

/** The marketplace service workload: the REST façade started in-process
  * with auth armed and a WAL, driven over loopback by a closed loop of
  * one client thread per core. A round is every client running a fixed
  * number of seeded sessions; a run warms up with one round and times
  * the next ones on the same façade, so its journal grows the same way
  * in every run. */
object Serve {
  val Secret = "perfbench-secret"
  val SessionsPerClient = 1
  val WarmSessionsPerClient = 4
  private val mapper = new ObjectMapper()

  /** One request as the client saw it. Classes: read (point reads and
    * per-user feeds), write (POST/PATCH/PUT/DELETE), dash (memoized
    * dashboards), health (GET /, traced runs only). */
  final case class Rec(cls: String, route: String, ms: Double, bytes: Int)

  /** What a session's acknowledged operations imply: each registered
    * user's balance, each worker's key and submissions, and the fixture
    * point reads with their replies. */
  final case class SessionLog(coins: Seq[(String, Double)], feeds: Seq[(String, Long, Seq[String])],
                              pointReads: Seq[(Long, String)])

  final class Client(base: String, http: HttpClient, tr: Tracer, traced: Boolean) {
    val recs = mutable.ArrayBuffer.empty[Rec]
    val problems = mutable.ArrayBuffer.empty[String]
    var attempted = 0L
    var failed = 0L
    /** Whether the last reply had the expected status. */
    var ok = false

    /** One request; a reply whose status differs from `expect` is a
      * failed operation. */
    def call(cls: String, route: String, method: String, path: String, tok: Option[String],
             expect: Int, body: Option[String] = None, req: String = ""): String = {
      val b = HttpRequest.newBuilder(URI.create(base + path)).timeout(Duration.ofSeconds(120))
      val pub = body.fold(HttpRequest.BodyPublishers.noBody())(HttpRequest.BodyPublishers.ofString)
      b.method(method, pub)
      body.foreach(_ => b.header("Content-Type", "application/json"))
      tok.foreach(t => b.header("Authorization", s"Bearer $t"))
      attempted += 1
      val n0 = System.nanoTime()
      val (status, text) =
        try tr.spans(s"rest.$route", req) {
          val r = http.send(b.build(), HttpResponse.BodyHandlers.ofString())
          (r.statusCode(), r.body())
        } catch { case e: Exception => (-1, e.toString) }
      val ms = (System.nanoTime() - n0) / 1e6
      recs += Rec(cls, route, ms, text.length)
      ok = status == expect
      if (!ok) {
        failed += 1
        problems += s"$method $path -> $status (expected $expect): ${text.take(200)}"
      }
      text
    }

    def health(req: String): Unit = if (traced) call("health", "health", "GET", "/", None, 200, req = req): Unit

    /** One marketplace session: registration, coin purchase, a task,
      * two submissions against one slot, approval (the second hits the
      * capacity guard), a withdrawal and its admin approval, with the
      * buyer's and workers' reads and the dashboards in between. */
    def session(tag: String, rnd: Random, fixtureIds: IndexedSeq[Long], adminTok: String): SessionLog = {
      val buyer = s"buyer-$tag@bench.test"
      val w1 = s"worker1-$tag@bench.test"
      val w2 = s"worker2-$tag@bench.test"
      val (bt, t1, t2) = (GraftAuth.token(Secret, buyer), GraftAuth.token(Secret, w1), GraftAuth.token(Secret, w2))
      val coins = 300 + rnd.nextInt(200)
      val payable = 200 + rnd.nextInt(60)
      val (f1, f2) = (fixtureIds(rnd.nextInt(fixtureIds.size)), fixtureIds(rnd.nextInt(fixtureIds.size)))
      def id(json: String, field: String): String = {
        val n = mapper.readTree(json).path(field)
        if (n.isMissingNode) "" else n.asText()
      }
      def user(email: String, role: String): Option[Long] = {
        val reply = call("write", "post_users", "POST", "/users", None, 201,
          Some(s"""{"name":"$role $tag","email":"$email","role":"$role"}"""), tag)
        if (ok) id(reply, "insertedId").toLongOption else None
      }
      val bKey = user(buyer, "buyer")
      val w1Key = user(w1, "worker")
      val w2Key = user(w2, "worker")
      // Balances as the acknowledged operations imply them.
      var (bCoins, w1Coins, w2Coins) = (50.0, 10.0, 10.0)
      val r1 = call("read", "task_by_id", "GET", s"/tasks/$f1", None, 200, req = tag)
      call("write", "purchase_coin", "POST", "/purchase-coin", Some(bt), 200,
        Some(s"""{"coins":$coins,"amount":${coins / 20.0}}"""), tag)
      if (ok) bCoins += coins
      call("read", "payments", "GET", s"/payments?user=${bKey.getOrElse(-1L)}", Some(bt), 200, req = tag)
      val task = id(call("write", "post_tasks", "POST", "/tasks", Some(bt), 201, Some(
        s"""{"task_title":"Label $tag","task_detail":"Label 20 images","required_workers":1,""" +
          s""""payable_amount":$payable,"completion_date":"2026-12-31","submission_info":"a link"}"""), tag), "taskId")
      if (ok) bCoins -= payable
      health(tag)
      call("dash", "buyer_home", "GET", "/buyer/home", Some(bt), 200, req = tag)
      def submit(tok: String, email: String): Option[String] = {
        val reply = call("write", "post_submission", "POST", "/api/submissions", Some(tok), 201,
          Some(s"""{"task_id":$task,"worker_email":"$email","worker_name":"W $tag"}"""), tag)
        if (ok) Some(id(reply, "id")) else None
      }
      val s1 = submit(t1, w1)
      val s2 = submit(t2, w2)
      call("read", "notifications", "GET", "/api/notifications", Some(bt), 200, req = tag)
      call("write", "approve", "PATCH", s"/buyer/submissions/${s1.getOrElse("")}/approve", Some(bt), 200,
        Some("{}"), tag)
      if (ok) w1Coins += payable
      // The task has one slot: the second approval must hit the capacity guard.
      call("write", "approve", "PATCH", s"/buyer/submissions/${s2.getOrElse("")}/approve", Some(bt), 400,
        Some("{}"), tag)
      val w2Known = ok
      call("read", "worker_submissions", "GET", s"/submissions?user=${w1Key.getOrElse(-1L)}", Some(t1), 200,
        req = tag)
      call("dash", "top_workers", "GET", "/top-workers", None, 200, req = tag)
      val wd = id(call("write", "post_withdrawal", "POST", "/withdrawals", Some(t1), 201, Some(
        s"""{"worker_email":"$w1","worker_name":"W $tag","withdrawal_coin":200,"withdrawal_amount":10,""" +
          s""""payment_system":"bkash","account_number":"0170000000"}"""), tag), "id")
      call("write", "admin_approve_withdrawal", "POST", s"/admin/withdrawals/$wd/approve", Some(adminTok), 200,
        Some("{}"), tag)
      if (ok) w1Coins -= 200
      health(tag)
      call("read", "profile", "GET", s"/users/profile?name=$w1", None, 200, req = tag)
      val r2 = call("read", "task_by_id", "GET", s"/tasks/$f2", None, 200, req = tag)
      call("dash", "admin_stats", "GET", "/admin/stats", Some(adminTok), 200, req = tag)
      SessionLog(
        Seq((buyer, bKey, bCoins, true), (w1, w1Key, w1Coins, true), (w2, w2Key, w2Coins, w2Known))
          .collect { case (e, Some(_), c, true) => e -> c },
        Seq((w1, w1Key, s1), (w2, w2Key, s2)).collect { case (e, Some(k), sub) => (e, k, sub.toSeq) },
        Seq(f1 -> r1, f2 -> r2))
    }

    /** Untimed read-backs for the end-of-run check: each session
      * user's profile (its coins) and each worker's submission feed,
      * beside what the session log says they must hold. */
    val readbacks = mutable.ArrayBuffer.empty[Map[String, Any]]
    def readBack(log: SessionLog): Unit = {
      log.coins.foreach { case (e, want) =>
        readbacks += Map("kind" -> "coins", "email" -> e, "expected" -> want,
          "reply" -> call("check", "profile", "GET", s"/users/profile?name=$e", None, 200))
      }
      log.feeds.foreach { case (e, key, subs) =>
        readbacks += Map("kind" -> "feed", "email" -> e, "expected" -> subs,
          "reply" -> call("check", "worker_submissions", "GET", s"/submissions?user=$key&limit=10000",
            Some(GraftAuth.token(Secret, e)), 200))
      }
    }
  }

  final case class Round(recs: Seq[Rec], t0: Long, t1: Long, logs: Seq[SessionLog], attempted: Long,
                         failed: Long, problems: Seq[String])

  /** A started façade with its store and WAL, and an admin identity
    * registered on it. Per-store one-time work (the users e-mail sketch,
    * each entity's id watermark) happens here: it is set-up, not
    * serving. */
  final class Facade(spark: SparkSession, o: Opts, tr: Tracer, val name: String) {
    val walFile = new java.io.File(s"${o.runDir}/serve/$name/wal/ops.wal")
    val (server, store) = tr.spans("rest.start")(RestServe.startWithStore(spark, o.fixture, 0,
      authSecret = Some(Secret), walPath = Some(walFile.getPath)))
    val base = s"http://127.0.0.1:${server.getAddress.getPort}"
    val http: HttpClient = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1)
      .connectTimeout(Duration.ofSeconds(30)).build()
    private val admin = s"admin-$name@bench.test"
    val setupClient = new Client(base, http, tr, traced = false)
    setupClient.call("setup", "post_users", "POST", "/users", None, 201,
      Some(s"""{"name":"Admin","email":"$admin","role":"admin"}"""))
    Seq(store.tasks, store.payments, store.withdrawals, store.notifications).foreach(_.newId())
    val adminTok: String = GraftAuth.token(Secret, admin)

    def stop(): Unit = {
      server.stop(0)
      store.wal.foreach(_.close())
    }
  }

  private def fixtureTaskIds(spark: SparkSession, dir: String): IndexedSeq[Long] =
    Tables(spark, dir).orders.select(col("o_orderkey")).where(col("o_orderkey") % 101 === 7)
      .orderBy(col("o_orderkey")).limit(400).collect().map(_.getLong(0)).toIndexedSeq

  /** One round: every client runs `sessions` sessions against the
    * façade. */
  private def round(f: Facade, o: Opts, tr: Tracer, idx: Int, fixtureIds: IndexedSeq[Long],
                    traced: Boolean, sessions: Int): Round = {
    val clients = (0 until o.cores).map(_ => new Client(f.base, f.http, tr, traced))
    val pool = Executors.newFixedThreadPool(o.cores)
    val t0 = System.currentTimeMillis()
    val futures = clients.zipWithIndex.map { case (c, ci) =>
      pool.submit(() => (0 until sessions).map { s =>
        val rnd = new Random(o.seed * 1000003L + idx * 1009L + ci * 101L + s)
        c.session(s"s${o.seed}${f.name}r${idx}c${ci}n$s", rnd, fixtureIds, f.adminTok)
      })
    }
    val logs = futures.flatMap(_.get())
    val t1 = System.currentTimeMillis()
    pool.shutdown()
    pool.awaitTermination(1, TimeUnit.MINUTES)
    Round(clients.flatMap(_.recs), t0, t1, logs,
      clients.map(_.attempted).sum, clients.map(_.failed).sum, clients.flatMap(_.problems))
  }

  /** Untimed, after the timed region: every session's balances and
    * feeds, read back by one client per core. */
  private def readBackAll(f: Facade, o: Opts, tr: Tracer, logs: Seq[SessionLog]): Seq[Client] = {
    val clients = (0 until o.cores).map(_ => new Client(f.base, f.http, tr, traced = false))
    val pool = Executors.newFixedThreadPool(o.cores)
    try clients.zipWithIndex.map { case (c, i) =>
      pool.submit[Unit](() => logs.indices.filter(_ % o.cores == i).foreach(j => c.readBack(logs(j))))
    }.foreach(_.get())
    finally pool.shutdown()
    clients
  }

  /** Per-layer figures of the service: REST, state store, auth. */
  private def serviceLayers(f: Facade, rounds: Seq[Round], fixtureIds: IndexedSeq[Long],
                            tr: Tracer): Map[String, Double] = {
    val recs = rounds.flatMap(_.recs)
    def p50(cls: String) = Stats.median(recs.filter(_.cls == cls).map(_.ms))
    val reads = recs.filter(_.cls == "read")
    def timedMs(n: Int)(body: Int => Unit): Double =
      Stats.median((0 until n).map { i => val t0 = System.nanoTime(); body(i); (System.nanoTime() - t0) / 1e6 })
    val store = f.store
    val lookupMs = tr.spans("store.lookup")(timedMs(15)(i => require(store.users.lookup(Seq(1L + 37L * i)).isDefined)))
    val lookupByMs = tr.spans("store.lookup_by")(timedMs(15)(i =>
      require(store.users.lookupBy("c_name", f"Customer#${1 + 37 * i}%09d").isDefined)))
    val currentMs = tr.spans("store.current_read")(timedMs(10)(i =>
      store.tasks.current().filter(col("o_orderkey") === fixtureIds(i)).collect()))
    val journal = Seq(store.users, store.tasks, store.payments, store.withdrawals, store.submissions,
      store.notifications).map(_.journalSize).sum
    val commits = store.wal.map(_.commits.get()).getOrElse(0L)
    Map(
      "rest.health_p50_ms" -> p50("health"),
      "rest.dashboard_p50_ms" -> p50("dash"),
      "rest.read_bytes_per_req" -> reads.map(_.bytes.toDouble).sum / reads.size,
      "store.lookup_ms" -> lookupMs,
      "store.lookup_by_ms" -> lookupByMs,
      "store.current_read_ms" -> currentMs,
      "store.journal_rows" -> journal.toDouble,
      "store.wal_commits" -> commits.toDouble,
      "store.wal_syncs" -> store.wal.map(_.syncs.get()).getOrElse(0L).toDouble,
      "store.wal_bytes_per_write" -> f.walFile.length().toDouble / math.max(1L, commits),
      "auth.verify_us" -> tr.spans("auth.verify")(Probes.authVerifyUs(Secret, GraftAuth.token(Secret, "probe@bench.test"))))
  }

  /** The service layers measured by one traced round, for the traced
    * runs of the catalog workloads. */
  def probe(spark: SparkSession, o: Opts, tr: Tracer): Map[String, Double] = {
    val ids = fixtureTaskIds(spark, o.fixture)
    val f = new Facade(spark, o, tr, "probe")
    try serviceLayers(f, Seq(round(f, o, tr, 0, ids, traced = true, sessions = 1)), ids, tr)
    finally f.stop()
  }

  /** Every run times at least this many rounds, then whole rounds
    * until its seconds are up. */
  val MinRounds = 4

  def run(spark: SparkSession, o: Opts, tr: Tracer): Outcome = {
    val tablesLoadS = Probes.loadTables(spark, o.fixture)
    val ids = fixtureTaskIds(spark, o.fixture)
    Main.log(f"tables loaded in $tablesLoadS%.2f s")
    // Warm-up (untimed) on the façade the run measures, so the timed
    // rounds start from a journal that every run grows the same way:
    // with one session per client the first timed rounds still ran ~30%
    // slower than later ones while the JIT warmed.
    val f = new Facade(spark, o, tr, "measured")
    val warm = round(f, o, tr, 0, ids, o.trace, sessions = WarmSessionsPerClient)
    Main.log(f"warm-up round: ${(warm.t1 - warm.t0) / 1000.0}%.2f s")
    Jvm.settle()
    val setupS = (System.currentTimeMillis() - Main.jvmStartMs) / 1000.0
    val gc0 = Jvm.gcSeconds
    val rounds = mutable.ArrayBuffer.empty[Round]
    val deadline = System.nanoTime() + o.seconds * 1000000000L
    do {
      val r = round(f, o, tr, rounds.size + 1, ids, o.trace, SessionsPerClient)
      rounds += r
      Main.log(f"round ${rounds.size}: ${(r.t1 - r.t0) / 1000.0}%.2f s, ${r.recs.size} requests")
    } while (rounds.size < MinRounds || System.nanoTime() < deadline)
    val gcS = Jvm.gcSeconds - gc0
    val recs = rounds.flatMap(_.recs).toSeq
    def ms(cls: String) = recs.filter(_.cls == cls).map(_.ms)
    val metrics =
      if (!o.trace) {
        val wallS = rounds.map(r => (r.t1 - r.t0) / 1000.0)
        Map(
          "setup_s" -> setupS,
          "pass_s" -> Stats.median(wallS.toSeq),
          "query_p50_ms" -> Stats.median(ms("read") ++ ms("dash")),
          "rps" -> recs.size / wallS.sum,
          "read_p50_ms" -> Stats.median(ms("read")), "read_p95_ms" -> Stats.quantile(ms("read"), 0.95),
          "write_p95_ms" -> Stats.quantile(ms("write"), 0.95),
          "retained_heap_mb" -> Jvm.retainedHeapMb)
      } else {
        tr.drain()
        val engine = tr.engine.get
        val window = Catalog.medians(rounds.map(r => engine.window(r.t0, r.t1, o.cores)).toSeq)
        val service = serviceLayers(f, rounds.toSeq, ids, tr)
        val dash = Catalog.timedPass(spark, tr, o.fixture, Catalog.dashboardPrograms,
          new java.util.ArrayList[String]())
        tr.drain()
        window ++ service ++ (Catalog.layers(tr, dash, o.cores) -- window.keys) ++
          Map("tables.load_s" -> tablesLoadS, "jvm.gc_s" -> gcS) ++
          Probes.replicaLayers(spark, o, tr)
      }
    val all = warm +: rounds.toSeq
    // The warm-up sessions' replies were status-checked and their point
    // reads are checked below; reading back their balances as well would
    // add ~5 s to every run.
    val readers = try readBackAll(f, o, tr, rounds.toSeq.flatMap(_.logs)) finally f.stop()
    val others = readers :+ f.setupClient
    Outcome(all.map(_.attempted).sum + others.map(_.attempted).sum,
      all.map(_.failed).sum + others.map(_.failed).sum, metrics,
      all.flatMap(_.problems) ++ others.flatMap(_.problems),
      Map("kind" -> "serve", "fixture" -> o.fixture, "rounds" -> rounds.size,
        "readbacks" -> readers.flatMap(_.readbacks),
        "requests" -> rounds.map(_.recs.map(r => Map("class" -> r.cls, "route" -> r.route, "ms" -> r.ms))),
        "point_reads" -> all.flatMap(_.logs.flatMap(_.pointReads)).map { case (k, body) =>
          Map("o_orderkey" -> k, "body" -> body) }))
  }
}
