package graft

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.Executors
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.{DataFrame, GraftColumns, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's ENTIRE HTTP surface as a literal façade over the
  * engine — all 22 GET routes answered from the gated catalog programs,
  * and (new this round) all 25 POST/PATCH/PUT/DELETE registrations
  * (/root/reference/index.js:132 through :1371) served against a
  * [[StateStore]]: immutable fixture base + driver CDC journal, merged
  * on read — the w-family batch transformations (w1 insert-defaults,
  * w2 `$set`, w3 `$inc` ledger, w4 delete, w5 capacity guard) running
  * LIVE behind a wire contract. RestWriteSpec pins each mutation route's
  * guard shape, read-your-writes against the corresponding GET, and the
  * final state hash-equal to the batch w-family program on the same op
  * sequence.
  *
  * Entity/field vocabulary (SURVEY Appendix A's mapping, extended to
  * the write side):
  *   - users ≙ customer: c_custkey=id, c_name=email, c_acctbal=coins,
  *     role = evolved `role` else w1's rule (c_mktsegment BUILDING →
  *     buyer, else worker). ONE user directory for buyers and workers,
  *     like the reference's single users collection.
  *   - tasks / payments / withdrawals ≙ orders (independent journals
  *     over one base): o_orderkey=id, o_custkey=owner, o_orderstatus=
  *     status, o_totalprice=amount. Reference-only fields (task_title,
  *     withdrawal_coin, …) ride as EVOLVED columns (schema-on-read).
  *   - submissions ≙ lineitem: composite natural key rendered as the
  *     route id `"<orderkey>-<linenumber>-<partkey>-<suppkey>"`; status
  *     = evolved `status` else 'pending' (fixture submissions start
  *     pending by contract); payable = evolved `payable_amount` else
  *     l_extendedprice; the worker is user l_suppkey (or evolved
  *     worker_email). A task's capacity = evolved `required_workers`
  *     else 3 — exactly w5's k, so an HTTP approve sweep reproduces the
  *     batch capacity rule.
  *   - notifications ≙ events (event_type='notification', message/
  *     toEmail/actionRoute evolved).
  *
  * Identity: the reference's three middlewares are live when the
  * server is started with a signing secret. `verifyFBToken`
  * (index.js:93-110) becomes [[GraftAuth]]'s HMAC bearer check (401
  * missing/malformed header, 401 missing token, 403 bad signature —
  * the exact status split); `verifyRole` (:70-89) and `verifyAdmin`
  * (:115-129) are POINT LOOKUPS against the live users store — a role
  * PATCH changes what the next request may do, authorization as
  * dataflow. Each route carries exactly the middleware chain its
  * reference registration lists (cited per route below); the verified
  * email is the caller identity everywhere `req.decoded.email` was.
  * Without a secret the façade runs OPEN (embedding/bench mode): no
  * gate, and identity falls back to body `email` / `?email=` — the
  * pre-auth stand-in, kept so analytics harnesses need no tokens.
  *
  * Consistency upgrade, stated: every mutation runs under
  * [[StateStore.mutateOn]], holding the locks of the entities its route
  * declares it writes (the store gate's read side, then each entity's
  * lock in canonical order). Writers to disjoint entities run
  * concurrently; writers that share an entity — every cross-entity
  * invariant lists both of its entities — serialize, so each route's
  * read-check-write sequence is linearizable against every other writer
  * of what it writes. The reference's capacity and balance guards admit
  * overshoot under concurrency (index.js:816-822; SURVEY §3.3).
  * RestWriteSpec's parallel purchase probe pins lost-update freedom.
  *
  * Serving discipline at scale — no route may trigger an unbounded
  * driver collect (the engine-wide ban on corpus-sized collects):
  *   - entity routes are KEY-bounded (point lookups, per-user feeds);
  *   - dashboard routes are PRE-AGGREGATED (1-row flagships, counts);
  *   - listing routes are CAPPED: `?limit=` (default 1000, max 10000)
  *     rides each catalog query's existing total order;
  *   - writes are O(1) journal appends + key-pruned guard point reads;
  *     the base parquet is never rewritten per request (the
  *     Hudi/Delta merge-on-read posture — see [[StateStore]]).
  *
  * Routing: method-aware SEGMENT patterns (`/tasks/{id}`), resolved by
  * exact segment count, then most-literal-segments, then lexicographic
  * pattern — fully deterministic (RestWriteSpec pins the collision
  * rule); a path that matches some route but not its method answers
  * 405. Malformed query/body decoding answers 400 AFTER method
  * resolution, so a non-GET on a GET-only path is a 405 even with a
  * broken query string.
  *
  * JDK-only (`com.sun.net.httpserver` + the Jackson core Spark already
  * ships): no web framework enters the dependency set.
  *
  * Usage: runMain graft.RestServe <sfDir> <port>  (binds 127.0.0.1).
  */
object RestServe {

  private val MaxCap = 10000
  private val MaxBodyBytes = 1 << 20
  private val mapper = new ObjectMapper()

  private[graft] final case class Res(status: Int, body: String)

  private def esc(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }
  private def msg(status: Int, text: String): Res =
    Res(status, s"""{"message":"${esc(text)}"}""")

  /** Every read route's rendering: `df`'s rows as JSON objects, the text
    * `df.toJSON` gives, but computed by the plan itself, as
    * `to_json(struct(<output attributes>))`, and fetched by `collect()`,
    * which ends in the physical plan's `executeCollect`. So a plan that
    * the optimizer folds into a local relation (a feed whose rows all
    * live in the journal) starts no Spark job, and a sorted, limited
    * feed over the base collects through TakeOrderedAndProject in one
    * stage, where `toJSON`'s row-mapping job ran it as two. The struct
    * takes the plan's output attributes, not column names, so duplicate
    * and dotted names render as `toJSON` renders them. */
  private[graft] def jsonRows(df: DataFrame): Array[String] =
    df.select(to_json(struct(df.queryExecution.analyzed.output.map(GraftColumns.of): _*)))
      .collect().map(_.getString(0))

  // ---- server errors ------------------------------------------------

  private val log = org.apache.logging.log4j.LogManager.getLogger("graft.RestServe")
  private val requestIds = new java.util.concurrent.atomic.AtomicLong(0L)

  /** `e` and its causes, outermost first, as `Class: message` links
    * joined by ` <- ` (capped, so a cyclic chain still ends). */
  private[graft] def causeChain(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(16)
      .map(t => s"${t.getClass.getName}: ${t.getMessage}").mkString(" <- ")

  /** JSON body → flat column→value map (the reference's collections are
    * schemaless; nested payloads ride as their JSON text). Non-object
    * or unparseable bodies → None (the route's 400). */
  private[graft] def parseBody(raw: String): Option[Map[String, Any]] =
    if (raw.trim.isEmpty) Some(Map.empty)
    else try {
      val node = mapper.readTree(raw)
      if (!node.isObject) None
      else Some(node.properties().asScala.map { e =>
        e.getKey -> jsonValue(e.getValue)
      }.toMap)
    } catch { case _: Exception => None }

  private def jsonValue(n: JsonNode): Any =
    if (n.isNull) null
    else if (n.isTextual) n.asText()
    else if (n.isIntegralNumber) n.asLong()
    else if (n.isFloatingPointNumber) n.asDouble()
    else if (n.isBoolean) n.asBoolean()
    else n.toString

  // ---- route matching -----------------------------------------------

  /** Match one pattern's segments against a path's; `{x}` binds any
    * NON-EMPTY segment (so `/tasks/` never half-matches `/tasks/{id}`). */
  private[graft] def matchSegs(pattern: Vector[String],
                               path: Vector[String]): Option[Map[String, String]] =
    if (pattern.length != path.length) None
    else {
      val binds = Map.newBuilder[String, String]
      val ok = pattern.zip(path).forall {
        case (p, s) if p.startsWith("{") && p.endsWith("}") =>
          if (s.isEmpty) false else { binds += p.substring(1, p.length - 1) -> s; true }
        case (p, s) => p == s
      }
      if (ok) Some(binds.result()) else None
    }

  /** Deterministic choice among path-matching candidates: most literal
    * segments win (a literal route always beats a `{bind}` twin), ties
    * break on the lexicographically smallest pattern. */
  private[graft] def pickRoute[R](candidates: Seq[(R, String, Map[String, String])])
      : Option[(R, Map[String, String])] =
    candidates.sortBy { case (_, pattern, _) =>
      (-pattern.split("/").count(s => !s.startsWith("{")), pattern)
    }.headOption.map { case (r, _, b) => (r, b) }

  // ---- server ---------------------------------------------------------

  /** A route's middleware chain, verbatim from its reference
    * registration: Open (no middleware), FBToken (`verifyFBToken`),
    * RoleReq (`verifyFBToken, verifyRole([...])`), AdminReq
    * (`verifyFBToken, verifyAdmin`). */
  private[graft] sealed trait AuthReq
  private[graft] case object Open extends AuthReq
  private[graft] case object FBToken extends AuthReq
  private[graft] final case class RoleReq(allowed: Set[String]) extends AuthReq
  private[graft] case object AdminReq extends AuthReq

  private sealed trait Handler
  /** GET: params → DataFrame (None = missing/malformed parameter →
    * 400). `pointLookup` routes 404 on an empty result (the reference's
    * key-addressed shape, index.js:1023-1027); LISTING routes return []
    * — decided per route, never inferred from the param map. */
  private final case class ReadH(pointLookup: Boolean = false)(
      val make: Map[String, String] => Option[DataFrame]) extends Handler
  /** GET whose handler can answer a fully-formed response of its own —
    * a non-200 (e.g. /payments' 403 identity check, index.js:429-431)
    * or a pre-rendered 200 (the catalog memo): Left is served as-is,
    * Right rendered as the 200 row payload. */
  private final case class CheckedReadH(run: Map[String, String] => Either[Res, DataFrame])
      extends Handler
  /** Mutation route. `touches` = the entities the handler may WRITE:
    * the dispatch takes exactly those locks (canonical order) under
    * the store gate's read side, so writes to DISJOINT entities run
    * concurrently while overlapping writers — including every
    * cross-entity invariant, which lists both its entities —
    * serialize (StateStore's CONSISTENCY block). Nil is the
    * pure-computation form (no entity lock at all). Guard READS of
    * other entities deliberately take no lock — point-in-time reads,
    * the reference's own posture — because the no-lost-update and
    * capacity/balance invariants only need the WRITTEN entities
    * serialized (the debit path always locks the balance's entity). */
  private final case class WriteH(
      run: (Map[String, String], Map[String, Any]) => Res,
      touches: Seq[String])
      extends Handler
  /** Body-parameterized READ (the vector-search extension): parses the
    * bounded JSON body exactly like WriteH but runs NO mutation and
    * takes no store lock — the handler renders its own response. */
  private final case class QueryH(run: (Map[String, String], Map[String, Any]) => Res)
      extends Handler
  private final case class Route(method: String, pattern: String, h: Handler,
                                 auth: AuthReq = Open) {
    val segs: Vector[String] = pattern.split("/", -1).toVector.drop(1)
  }

  /** Start the façade; returns the live server (specs stop() it). */
  def start(spark: SparkSession, dir: String, port: Int): HttpServer =
    startWithStore(spark, dir, port)._1

  /** Start the façade plus its backing state store (specs assert state
    * content hash-equal to the batch w-family programs through it).
    *
    * `autoCompactAt` bounds every entity journal (see
    * [[StateStore.mutateOn]]).
    *
    * `authSecret = Some(s)` arms the reference's middleware chains on
    * every route (see the Identity scaladoc block); None runs the
    * façade open.
    *
    * `annStatePath = Some(p)` additionally serves the LIVING vector
    * index (graft.streaming.StreamingAnnIngest) at POST /ann/query —
    * the one ENGINE-EXTENSION route (clearly outside the reference's
    * surface, which is why it lives under its own /ann namespace):
    * body {"embedding": [floats], "k": n?} answers the payload's
    * exact-cosine top-k over history ∪ everything the stream has
    * ingested, through topK's bucket-pruned serving path.
    *
    * `walPath = Some(p)` makes the store DURABLE: every acknowledged
    * mutation is fsynced to the write-ahead log before its response,
    * and a façade restarted over the same path replays it (see
    * [[StateStore]]'s DURABILITY block; kill/restart spec-pinned).
    *
    * `publishViewsAs = Some(prefix)` additionally publishes every
    * entity's LIVE merged relation as `global_temp.<prefix>_<entity>`
    * after each mutation — the bridge that lets an in-process Thrift
    * server (or any session on the same context) read the store's
    * state over SQL, live (see [[StateStore.publishGlobalViews]]).
    * SECURITY BOUNDARY, stated: published views are context-visible
    * and do NOT pass through this façade's HTTP middlewares — the
    * route-level auth gates HTTP verbs, not co-located sessions (which
    * already own the SparkSession). A deployment that arms
    * `authSecret` AND publishes views must authenticate whatever WIRE
    * serves those views: ThriftServe's `live-armed` mode does exactly
    * that — HiveServer2 CUSTOM auth through [[GraftThriftAuth]], which
    * verifies the same [[GraftAuth]] HMAC tokens this façade's FBToken
    * chain does (one verifier, both wires; spec-pinned). Since round
    * 12 the armed wire also AUTHORIZES per view (r11 verdict #3): the
    * store publishes role-gated `<prefix>_admin_*` twins and narrows
    * `<prefix>_users` to the reader's own row, mirroring the
    * reference's admin-read role gates on the SQL surface (see
    * [[StateStore.publishEntityViews]]). The plain `live` mode remains
    * the open-façade posture for open deployments. */
  def startWithStore(spark: SparkSession, dir: String, port: Int,
                     autoCompactAt: Int = 4096,
                     authSecret: Option[String] = None,
                     annStatePath: Option[String] = None,
                     walPath: Option[String] = None,
                     walCheckpointEvery: Int = 100000,
                     publishViewsAs: Option[String] = None): (HttpServer, StateStore) = {
    import spark.implicits._
    val t = Tables(spark, dir)
    // Armed façade + published views ⇒ role-authorized publication: the
    // SQL wire then carries per-entity `<prefix>_admin_*` views whose
    // plans refuse non-admin identities, and `<prefix>_users` narrows
    // to the reader's own row (StateStore.publishEntityViews).
    val store = new StateStore(spark, dir, autoCompactAt, walPath,
      walCheckpointEvery, publishViewsAs,
      armedViews = authSecret.isDefined)

    // Clamped to [0, MaxCap]: a negative ?limit= must not reach
    // Dataset.limit (negative throws AnalysisException → a 500 where
    // the contract says listings always answer); limit=0 is a LEGAL
    // empty-listing request and stays one.
    def cap(params: Map[String, String]): Int =
      math.max(0, math.min(MaxCap,
        params.get("limit").flatMap(_.toIntOption).getOrElse(1000)))

    /** Catalog-backed listing/dashboard route (immutable-lake
      * analytics; entity CRUD reads go through the store instead).
      *
      * The DEFAULT-cap render is memoized: these programs read ONLY the
      * immutable fixture lake (never the store), so the payload is a
      * pure function of the program — serving discipline at scale is
      * that you do not run an analytics job per dashboard GET when its
      * inputs cannot change. Custom ?limit= renders stay live, so
      * adversarial distinct caps cannot grow driver memory (the memo is
      * bounded by the route count). computeIfAbsent means concurrent
      * first hits run the job once. */
    val catalogMemo = new java.util.concurrent.ConcurrentHashMap[String, String]()
    def catalogRoute(name: String): Map[String, String] => Either[Res, DataFrame] =
      params =>
        if (params.contains("limit"))
          Right(SparkEntry.queries(name)(spark, dir).limit(cap(params)))
        else
          Left(Res(200, catalogMemo.computeIfAbsent(name, _ =>
            jsonRows(SparkEntry.queries(name)(spark, dir).limit(cap(params)))
              .mkString("[", ",", "]"))))

    // Parameterized entity reads — the reference's :id / query-param
    // routes, each the parameterized form of a catalog read (ReadPath
    // P1/P2/S3, O1's per-user feed shape) over the entity's MERGED view
    // (read-your-writes; with an empty journal current(where) IS the
    // same cached relation filtered, so plans and bytes match the
    // read-only façade). The filter goes INTO current(where), so the
    // journal-key probe runs only on the rows it keeps. The request's
    // value is bound by reference, not inlined into generated code
    // (BindFilterLiterals; the journal side is filtered on the driver),
    // so a read with a new id reuses the classes the last read compiled.
    // A value outside every row group's min/max of the base (a fresh
    // user's key) leaves only journal rows, which plan and collect on
    // the driver with no Spark job (see StateStore's scaladoc).
    def taskById(params: Map[String, String]): Option[DataFrame] =
      params.get("id").flatMap(_.toLongOption).map { id =>
        store.tasks.current($"o_orderkey" === id) // P2, index.js:1017-1029
      }
    def userProfile(params: Map[String, String]): Option[DataFrame] =
      params.get("name").map { n =>
        store.users.current($"c_name" === n) // P1, index.js:413-424
      }
    def notificationsFeed(u: Long, params: Map[String, String]): DataFrame =
      store.notifications.current($"user_id" === u) // P4+O1, index.js:226-238
        .select($"event_id", $"ts", $"event_type")
        .orderBy($"ts".desc, $"event_id".desc).limit(cap(params))
    /** GET /api/notifications: the reference takes NO parameter — the
      * feed is find({toEmail: decoded.email}) (index.js:228-231). Armed,
      * the token identity alone selects the feed (?user= is ignored; an
      * identity with no users row reads an empty feed, exactly the
      * reference's empty find). Open mode keeps the ?user= stand-in. */
    def notifications(params: Map[String, String]): Option[DataFrame] =
      params.get("@auth") match {
        case Some(email) =>
          Some(notificationsFeed(userByEmail(email).map(userKey).getOrElse(-1L), params))
        case None =>
          params.get("user").flatMap(_.toLongOption).map(notificationsFeed(_, params))
      }
    def paymentsFeed(u: Long, params: Map[String, String]): DataFrame =
      store.payments.current($"o_custkey" === u) // P4+O1, index.js:427-439
        .select($"o_orderkey", $"o_orderdate", $"o_totalprice")
        .orderBy($"o_orderkey".desc).limit(cap(params))
    /** GET /payments: the reference 403s "Unauthorized" unless the
      * query identity equals the token identity (index.js:429-431 —
      * missing ?email OR a mismatch; this is the route's only
      * cross-user read protection). ?user= is the custkey translation
      * of the reference's ?email=, so armed it must equal the TOKEN
      * user's key (a token with no users row can match nothing → 403).
      * Open mode keeps the unguarded ?user= stand-in (400 absent). */
    def payments(params: Map[String, String]): Either[Res, DataFrame] =
      params.get("@auth") match {
        case Some(email) =>
          val own = userByEmail(email).map(userKey)
          params.get("user").flatMap(_.toLongOption) match {
            case Some(u) if own.contains(u) => Right(paymentsFeed(u, params))
            case _ => Left(msg(403, "Unauthorized"))
          }
        case None =>
          params.get("user").flatMap(_.toLongOption)
            .map(paymentsFeed(_, params))
            .toRight(msg(400, "missing or malformed parameter"))
      }
    def withdrawalsRead(params: Map[String, String]): Option[DataFrame] = {
      // S3 dynamic-predicate scan, index.js:1099-1109: the filter
      // exists only when the param does.
      val filtered = params.get("status")
        .fold(store.withdrawals.current())(s => store.withdrawals.current($"o_orderstatus" === s))
      Some(filtered.select($"o_orderkey", $"o_orderstatus")
        .orderBy($"o_orderkey").limit(cap(params)))
    }
    def fullTaskScan(params: Map[String, String]): Option[DataFrame] =
      Some(store.tasks.current() // S1 full scan, index.js:532-540/:1166-1173
        .select($"o_orderkey", $"o_orderstatus", $"o_totalprice")
        .orderBy($"o_orderkey").limit(cap(params)))
    def submissionsRead(params: Map[String, String]): Option[DataFrame] =
      params.get("user").flatMap(_.toLongOption).map { u =>
        store.submissions.current($"l_suppkey" === u) // P4+O1, index.js:1001-1015
          .select($"l_orderkey", $"l_linenumber", $"l_quantity", $"l_returnflag")
          .orderBy($"l_orderkey".desc, $"l_linenumber".desc).limit(cap(params))
      }

    // ---- write-side vocabulary helpers --------------------------------

    def present(body: Map[String, Any], k: String): Boolean =
      body.get(k).exists {                       // JS falsy: absent/null/''/0
        case null => false
        case s: String => s.nonEmpty
        case n: Long => n != 0L
        case d: Double => d != 0.0
        case b: Boolean => b
        case _ => true
      }
    def asLong(v: Any): Option[Long] = v match {
      case n: Long => Some(n)
      case d: Double => Some(d.toLong)
      case i: Int => Some(i.toLong)
      case s: String => s.trim.toLongOption
        .orElse(s.trim.toDoubleOption.map(_.toLong))
      case _ => None
    }
    def asDouble(v: Any): Option[Double] = v match {
      case n: Long => Some(n.toDouble)
      case d: Double => Some(d)
      case i: Int => Some(i.toDouble)
      case s: String => s.trim.toDoubleOption
      case _ => None
    }
    def str(v: Any): String = String.valueOf(v)

    /** Caller identity — `req.decoded.email`. The "@auth" param is
      * injected by the dispatch AFTER token verification (and stripped
      * from client input, so it cannot be spoofed); the body/param
      * fallbacks are the open-mode stand-in. */
    def identity(params: Map[String, String], body: Map[String, Any]): Option[String] =
      params.get("@auth")
        .orElse(body.get("email").collect { case s: String if s.nonEmpty => s })
        .orElse(params.get("email").filter(_.nonEmpty))

    def userByEmail(email: String): Option[Map[String, Any]] =
      store.users.lookupBy("c_name", email)
    def userKey(u: Map[String, Any]): Long = asLong(u("c_custkey")).get
    def coinsOf(u: Map[String, Any]): Double =
      u.get("c_acctbal").flatMap(asDouble).getOrElse(0.0)
    def nameOf(u: Map[String, Any]): String =
      u.get("name").collect { case s: String => s }.getOrElse(str(u("c_name")))
    /** Role: evolved column, else w1's fixture rule (BUILDING ≙ buyer). */
    def roleOf(u: Map[String, Any]): String =
      u.get("role").collect { case s: String => s }.getOrElse(
        if (u.get("c_mktsegment").contains("BUILDING")) "buyer" else "worker")
    def segmentOf(role: String): String = role match {
      case "buyer" => "BUILDING"
      case "admin" => "AUTOMOBILE"
      case _ => "MACHINERY"
    }
    def incCoins(u: Map[String, Any], delta: Double): Unit =
      store.users.patch(Seq(userKey(u)),
        Map("c_acctbal" -> (coinsOf(u) + delta))): Unit

    /** Task owner's email: evolved buyer_email, else user o_custkey's
      * c_name (fixture tasks belong to their customer). */
    def ownerEmail(task: Map[String, Any]): Option[String] =
      task.get("buyer_email").collect { case s: String => s }
        .orElse(asLong(task.getOrElse("o_custkey", null))
          .flatMap(k => store.users.lookup(Seq(k))).map(u => str(u("c_name"))))
    /** Capacity: evolved required_workers, else 3 — w5's k. */
    def capacityOf(task: Map[String, Any]): Long =
      task.get("required_workers").flatMap(asLong).getOrElse(3L)

    /** Submission composite key <-> the route's opaque id string. */
    def subKey(id: String): Option[Seq[Any]] = id.split("-") match {
      case Array(o, l, p, s) =>
        for (ok <- o.toLongOption; lk <- l.toIntOption;
             pk <- p.toLongOption; sk <- s.toLongOption)
          yield Seq[Any](ok, lk, pk, sk)
      case _ => None
    }
    def subId(key: Seq[Any]): String = key.mkString("-")
    def subStatus(sub: Map[String, Any]): String =
      sub.get("status").collect { case s: String => s }.getOrElse("pending")
    def subPayable(sub: Map[String, Any]): Double =
      sub.get("payable_amount").flatMap(asDouble)
        .orElse(sub.get("l_extendedprice").flatMap(asDouble)).getOrElse(0.0)
    def workerOf(sub: Map[String, Any]): Option[Map[String, Any]] =
      sub.get("worker_email").collect { case s: String => s }.flatMap(userByEmail)
        .orElse(asLong(sub.getOrElse("l_suppkey", null))
          .flatMap(k => store.users.lookup(Seq(k))))

    /** Fresh journal-unique line number for POSTed submissions (fixture
      * l_linenumber ≤ 7; minted ids start far above). Atomic: both
      * minting routes hold the `submissions` entity lock, but the
      * counter must stay correct even for a future caller that
      * doesn't. */
    val nextSubLine = new java.util.concurrent.atomic.AtomicInteger(1000000)
    def mintSubLine(): Int = nextSubLine.incrementAndGet()

    /** addNotification (index.js:56-66): one event-entity insert. */
    def notify(toUser: Long, toEmail: String, message: String, actionRoute: String): Unit =
      store.notifications.upsert(Map(
        "event_id" -> store.notifications.newId(),
        "ts" -> store.now(), "user_id" -> toUser,
        "event_type" -> "notification", "value" -> null, "props" -> null,
        "message" -> message, "toEmail" -> toEmail, "actionRoute" -> actionRoute))

    // ---- the 25 write registrations ------------------------------------

    /** POST /users — registration with role defaults (index.js:377-410):
      * the w1 insert-with-defaults shape live (buyer→50, worker→10). */
    def postUsers(params: Map[String, String], body: Map[String, Any]): Res = {
      if (!present(body, "name") || !present(body, "email") || !present(body, "role"))
        return msg(400, "Missing required fields")
      val email = str(body("email"))
      if (userByEmail(email).isDefined) return msg(409, "Email already exists")
      val role = str(body("role"))
      val coins = if (role == "buyer") 50.0 else 10.0
      val id = store.users.newId()
      store.users.upsert(Map(
        "c_custkey" -> id, "c_name" -> email, "c_nationkey" -> 0,
        "c_acctbal" -> coins, "c_mktsegment" -> segmentOf(role),
        "name" -> str(body("name")),
        "photo" -> body.get("photo").map(str).getOrElse(""),
        "role" -> role, "createdAt" -> store.now()))
      Res(201, s"""{"message":"User registered successfully","insertedId":$id}""")
    }

    /** POST /tasks (index.js:443-514): field validation, buyer-role
      * guard, coin-balance guard, debit (`$inc` −total), insert. */
    def postTasks(params: Map[String, String], body: Map[String, Any]): Res = {
      val required = Seq("task_title", "task_detail", "required_workers",
        "payable_amount", "completion_date", "submission_info")
      if (!required.forall(present(body, _)))
        return msg(400, "Missing required task fields")
      val rw = body.get("required_workers").flatMap(asLong).getOrElse(-1L)
      val pa = body.get("payable_amount").flatMap(asDouble).getOrElse(-1.0)
      if (rw <= 0 || pa <= 0)
        return msg(400, "Invalid required_workers or payable_amount")
      val caller = identity(params, body)
      val user = caller.flatMap(userByEmail)
      if (user.isEmpty || roleOf(user.get) != "buyer")
        return msg(403, "Only buyers can create tasks")
      val totalCost = rw * pa
      if (coinsOf(user.get) < totalCost)
        return msg(400, "Not enough coins. Please purchase coins.")
      incCoins(user.get, -totalCost)
      val id = store.tasks.newId()
      store.tasks.upsert(Map(
        "o_orderkey" -> id, "o_custkey" -> userKey(user.get),
        "o_orderstatus" -> "O", "o_totalprice" -> totalCost,
        "o_orderdate" -> store.now(), "o_orderpriority" -> "3-MEDIUM",
        "task_title" -> str(body("task_title")),
        "task_detail" -> str(body("task_detail")),
        "required_workers" -> rw, "payable_amount" -> pa,
        "completion_date" -> str(body("completion_date")),
        "submission_info" -> str(body("submission_info")),
        "task_image_url" -> body.get("task_image_url").map(str).getOrElse(""),
        "buyer_email" -> caller.get, "buyer_name" -> nameOf(user.get),
        "createdAt" -> store.now(), "status" -> "open"))
      Res(201, s"""{"message":"Task added successfully","taskId":$id}""")
    }

    /** PATCH /tasks/{id} (index.js:650-681): ownership-guarded `$set`
      * of the three editable fields — the w2 masked update live. */
    def patchTask(params: Map[String, String], body: Map[String, Any]): Res = {
      if (!present(body, "task_title") || !present(body, "task_detail")
          || !present(body, "submission_info"))
        return msg(400, "Missing required fields for update")
      params("id").toLongOption match {
        case None => msg(400, "Invalid task ID")
        case Some(id) => store.tasks.lookup(Seq(id)) match {
          case None => msg(404, "Task not found")
          case Some(task) =>
            if (!ownerEmail(task).exists(identity(params, body).contains))
              msg(403, "Forbidden: You cannot update this task")
            else {
              store.tasks.patch(Seq(id), Map(
                "task_title" -> str(body("task_title")),
                "task_detail" -> str(body("task_detail")),
                "submission_info" -> str(body("submission_info")),
                "updatedAt" -> store.now()))
              msg(200, "Task updated successfully")
            }
        }
      }
    }

    /** DELETE /tasks/{id} (index.js:684-706): ownership-guarded delete
      * (w4 live). */
    def deleteTask(params: Map[String, String], body: Map[String, Any]): Res =
      params("id").toLongOption match {
        case None => msg(400, "Invalid task ID")
        case Some(id) => store.tasks.lookup(Seq(id)) match {
          case None => msg(404, "Task not found")
          case Some(task) =>
            if (!ownerEmail(task).exists(identity(params, body).contains))
              msg(403, "Forbidden: You cannot delete this task")
            else { store.tasks.delete(Seq(id)); msg(200, "Task deleted successfully") }
        }
      }

    /** DELETE /api/admin/tasks/{id} (index.js:1175-1194): admin delete —
      * invalid-id 400 (P12's input-validity guard live on the write
      * side), no ownership check. */
    def adminDeleteTask(params: Map[String, String], body: Map[String, Any]): Res =
      params("id").toLongOption match {
        case None => msg(400, "Invalid task ID")
        case Some(id) =>
          if (store.tasks.delete(Seq(id))) msg(200, "Task deleted")
          else msg(404, "Task not found")
      }

    /** PATCH /refund-coins (index.js:708-734): self-only `$inc` — the
      * body email must equal the TOKEN email (:716-718). With auth on,
      * the caller is the verified email; open mode keeps the
      * `caller_email` stand-in (defaults to the target — self-refund). */
    def refundCoins(params: Map[String, String], body: Map[String, Any]): Res = {
      val emailOk = present(body, "email")
      val coinsOk = body.get("coins").exists { case _: Long | _: Double => true; case _ => false }
      if (!emailOk || !coinsOk) return msg(400, "Email and coins are required")
      val email = str(body("email"))
      val caller = params.get("@auth")
        .orElse(body.get("caller_email").map(str)).getOrElse(email)
      if (caller != email)
        return msg(403, "Forbidden: cannot refund coins for another user")
      userByEmail(email) match {
        case None => msg(404, "User not found")
        case Some(u) =>
          incCoins(u, asDouble(body("coins")).get)
          msg(200, "Coins refunded successfully")
      }
    }

    /** POST /purchase-coin (index.js:738-775; :964 is its dead
      * duplicate — Express serves the first registration): `$inc` coins
      * + payment insert — the w3 credit leg live. */
    def purchaseCoin(params: Map[String, String], body: Map[String, Any]): Res = {
      if (!present(body, "coins") || !present(body, "amount"))
        return msg(400, "Missing required fields")
      identity(params, body).flatMap(userByEmail) match {
        case None => msg(404, "User not found")
        case Some(u) =>
          val coins = body.get("coins").flatMap(asLong).getOrElse(0L)
          incCoins(u, coins.toDouble)
          store.payments.upsert(Map(
            "o_orderkey" -> store.payments.newId(), "o_custkey" -> userKey(u),
            "o_totalprice" -> body.get("amount").flatMap(asDouble).getOrElse(0.0),
            "o_orderdate" -> store.now(),
            "email" -> str(u("c_name")), "name" -> nameOf(u), "coins" -> coins,
            "amount_usd" -> body.get("amount").flatMap(asDouble).getOrElse(0.0),
            "payment_method" -> "Stripe", "payment_date" -> store.now()))
          msg(200, s"Successfully purchased $coins coins")
      }
    }

    /** POST /api/payments/record (index.js:292-322): payment insert +
      * unguarded `$inc` (a missing user matches zero docs in the
      * reference; here it is a no-op patch). */
    def paymentsRecord(params: Map[String, String], body: Map[String, Any]): Res = {
      if (!present(body, "amount_usd") || !present(body, "coins"))
        return msg(400, "Missing amount or coins")
      val caller = identity(params, body)
      val user = caller.flatMap(userByEmail)
      store.payments.upsert(Map(
        "o_orderkey" -> store.payments.newId(),
        "o_custkey" -> user.map(userKey).getOrElse(0L),
        "o_totalprice" -> body.get("amount_usd").flatMap(asDouble).getOrElse(0.0),
        "o_orderdate" -> store.now(),
        "buyer_email" -> caller.getOrElse(""),
        "amount_usd" -> body.get("amount_usd").flatMap(asDouble).getOrElse(0.0),
        "coins" -> body.get("coins").flatMap(asLong).getOrElse(0L),
        "payment_method" -> body.get("payment_method").map(str).getOrElse("Stripe"),
        "payment_date" -> store.now(), "status" -> "completed"))
      user.foreach(u => incCoins(u, body.get("coins").flatMap(asLong).getOrElse(0L).toDouble))
      msg(200, "Payment recorded and coins updated")
    }

    /** POST /create-payment-intent (index.js:260-276): the one
      * externally-dependent route (Stripe). The side effect is out of
      * engine scope; the LOCAL computation — amount validation and the
      * cents rounding `Math.round(amount*100)` (index.js:267, also in
      * f_scalar_suite) — answers deterministically. */
    def paymentIntent(params: Map[String, String], body: Map[String, Any]): Res =
      body.get("amount_usd") match {
        case Some(d: Double) if d > 0 =>
          Res(200, s"""{"clientSecret":"pi_${math.round(d * 100)}_secret_graft"}""")
        case Some(n: Long) if n > 0 =>
          Res(200, s"""{"clientSecret":"pi_${n * 100}_secret_graft"}""")
        case _ => msg(400, "Invalid amount")
      }

    /** POST /api/submissions (index.js:198-219): worker submits; buyer
      * is notified (S4+S4). The reference inserts before checking the
      * task and crashes into its 500 catch-all when the task id is
      * dangling — the façade guards first (404) so no orphan row lands. */
    def postApiSubmission(params: Map[String, String], body: Map[String, Any]): Res = {
      val taskId = body.get("task_id").orElse(body.get("taskId")).flatMap(asLong)
      if (taskId.isEmpty) return msg(400, "Missing or malformed task_id")
      store.tasks.lookup(Seq(taskId.get)) match {
        case None => msg(404, "Task not found")
        case Some(task) =>
          val worker = body.get("worker_email").collect { case s: String => s }
            .flatMap(userByEmail)
          val key = Seq[Any](taskId.get, mintSubLine(), 0L,
            worker.map(userKey).getOrElse(0L))
          // The body spread must not override the composite KEY columns
          // (the 201 response's id would dangle against the journal).
          val handled = Set("task_id", "taskId",
            "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")
          store.submissions.upsert(Map(
            "l_orderkey" -> key(0), "l_linenumber" -> key(1),
            "l_partkey" -> key(2), "l_suppkey" -> key(3),
            "l_extendedprice" ->
              body.get("payable_amount").flatMap(asDouble)
                .orElse(task.get("payable_amount").flatMap(asDouble)).getOrElse(0.0),
            "l_shipdate" -> store.now(), "status" -> "pending",
            "submitted_at" -> store.now())
            ++ body.view.filterKeys(k => !handled(k)).toMap)
          for (be <- ownerEmail(task); buyer <- userByEmail(be))
            notify(userKey(buyer), be,
              s"${body.get("worker_name").map(str).getOrElse("A worker")} has submitted a task: ${
                task.get("task_title").map(str).getOrElse(str(task("o_orderkey")))}",
              "/dashboard/buyer-submissions")
          Res(201, s"""{"message":"Submission sent","id":"${subId(key)}"}""")
      }
    }

    /** POST /submissions (index.js:924-935): unguarded insert with the
      * submitted_at stamp (F8+S4) — the reference's second submission
      * sink, no task check at all. */
    def postSubmission(params: Map[String, String], body: Map[String, Any]): Res = {
      val taskId = body.get("task_id").orElse(body.get("taskId"))
        .flatMap(asLong).getOrElse(0L)
      val worker = body.get("worker_email").collect { case s: String => s }
        .flatMap(userByEmail)
      val key = Seq[Any](taskId, mintSubLine(), 0L, worker.map(userKey).getOrElse(0L))
      val handled = Set("task_id", "taskId",
        "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")
      store.submissions.upsert(Map(
        "l_orderkey" -> key(0), "l_linenumber" -> key(1),
        "l_partkey" -> key(2), "l_suppkey" -> key(3),
        "status" -> "pending", "submitted_at" -> store.now())
        ++ body.view.filterKeys(k => !handled(k)).toMap)
      Res(201, s"""{"message":"Submission saved","id":"${subId(key)}"}""")
    }

    /** PATCH /api/submissions/{id} (index.js:132-167): buyer sets a
      * submission's status; approved/rejected notify the worker (w2 +
      * S4). */
    def patchSubmission(params: Map[String, String], body: Map[String, Any]): Res =
      subKey(params("id")) match {
        case None => msg(400, "Invalid submission ID")
        case Some(key) => store.submissions.lookup(key) match {
          case None => msg(404, "Submission not found")
          case Some(sub) =>
            val status = body.get("status").map(str).getOrElse("")
            store.submissions.patch(key, Map("status" -> status))
            if (status == "approved" || status == "rejected") {
              val buyerName = identity(params, body).flatMap(userByEmail)
                .map(nameOf).getOrElse("The buyer")
              val task = asLong(sub("l_orderkey")).flatMap(k => store.tasks.lookup(Seq(k)))
              val title = task.flatMap(_.get("task_title")).map(str)
                .getOrElse(str(sub("l_orderkey")))
              val text =
                if (status == "approved")
                  s"You have earned ${subPayable(sub)} from $buyerName for completing $title"
                else s"$buyerName rejected your submission for $title"
              workerOf(sub).foreach(w =>
                notify(userKey(w), str(w("c_name")), text, "/dashboard/worker-home"))
            }
            msg(200, s"Submission $status")
        }
      }

    /** PATCH /buyer/submissions/{id}/approve (index.js:799-849): THE
      * flagship guarded mutation — ownership (J4/F6), already-approved
      * (400, :811-813), capacity (A2+F6, :816-822 — the w5 rule, k =
      * required_workers, default 3), then `$set approved` + `$inc`
      * worker coins (w2+w3). Reference order kept: the status flips
      * BEFORE the worker lookup, so a dangling worker leaves an
      * approved submission and a 404 (pinned in RestWriteSpec). */
    def approveSubmission(params: Map[String, String], body: Map[String, Any]): Res =
      subKey(params("id")) match {
        case None => msg(400, "Invalid submission ID")
        case Some(key) => store.submissions.lookup(key) match {
          case None => msg(404, "Submission not found")
          case Some(sub) =>
            val taskKey = asLong(sub("l_orderkey")).get
            val task = store.tasks.lookup(Seq(taskKey))
            if (!task.exists(t => ownerEmail(t).exists(identity(params, body).contains)))
              return msg(403, "Not authorized to approve this submission")
            if (subStatus(sub) == "approved")
              return msg(400, "Submission already approved")
            // Capacity count over the MERGED state (index.js:816-822),
            // journal first: approved rows in the journal count on the
            // driver, and the base is scanned — without the keys the
            // journal supersedes, the same key set current() merges by —
            // only once a compaction has folded a `status` column into
            // it (a journal-only count would reset after compact(), the
            // review's finding). A fixture base has no `status` column
            // and holds no approved row, so until then an approve starts
            // no Spark job.
            val approved = store.submissions.countWhere(
              Map("l_orderkey" -> taskKey, "status" -> "approved"))
            if (approved >= capacityOf(task.get))
              return msg(400, "Required number of workers already fulfilled")
            store.submissions.patch(key,
              Map("status" -> "approved", "approvedAt" -> store.now()))
            workerOf(sub) match {
              case None => msg(404, "Worker not found")
              case Some(w) =>
                incCoins(w, subPayable(sub))
                msg(200, "Submission approved and coins added to worker")
            }
        }
      }

    /** PATCH /buyer/submissions/{id}/reject (index.js:853-879). */
    def rejectSubmission(params: Map[String, String], body: Map[String, Any]): Res =
      subKey(params("id")) match {
        case None => msg(400, "Invalid submission ID")
        case Some(key) => store.submissions.lookup(key) match {
          case None => msg(404, "Submission not found")
          case Some(sub) =>
            val task = asLong(sub("l_orderkey")).flatMap(k => store.tasks.lookup(Seq(k)))
            if (!task.exists(t => ownerEmail(t).exists(identity(params, body).contains)))
              return msg(403, "Not authorized to reject this submission")
            if (subStatus(sub) == "rejected")
              return msg(400, "Submission already rejected")
            store.submissions.patch(key,
              Map("status" -> "rejected", "rejectedAt" -> store.now()))
            msg(200, "Submission rejected")
        }
      }

    /** PUT /api/submissions/approve/{id} and reject/{id}
      * (index.js:882-920): the UNGUARDED `$set` pair — no ownership, no
      * capacity, no coin movement (the reference's admin-side shortcut). */
    def putSubmissionStatus(status: String)(
        params: Map[String, String], body: Map[String, Any]): Res =
      subKey(params("id")) match {
        case None => msg(400, "Invalid submission ID")
        case Some(key) =>
          if (store.submissions.patch(key, Map("status" -> status)))
            msg(200, s"Submission $status successfully")
          else msg(404, "Submission not found")
      }

    /** POST /withdrawals (index.js:1046-1093; :1284 dead dup): field
      * guard, 200-coin minimum, balance guard, pending insert. */
    def postWithdrawal(params: Map[String, String], body: Map[String, Any]): Res = {
      val required = Seq("worker_email", "worker_name", "withdrawal_coin",
        "withdrawal_amount", "payment_system", "account_number")
      if (!required.forall(present(body, _)))
        return msg(400, "Missing required fields")
      val coin = body.get("withdrawal_coin").flatMap(asLong).getOrElse(0L)
      if (coin < 200) return msg(400, "Minimum withdrawal is 200 coins")
      userByEmail(str(body("worker_email"))) match {
        case None => msg(404, "User not found")
        case Some(u) =>
          if (coinsOf(u) < coin) return msg(400, "Insufficient coins")
          val id = store.withdrawals.newId()
          store.withdrawals.upsert(Map(
            "o_orderkey" -> id, "o_custkey" -> userKey(u),
            "o_orderstatus" -> "pending", "o_orderdate" -> store.now(),
            "worker_email" -> str(body("worker_email")),
            "worker_name" -> str(body("worker_name")),
            "withdrawal_coin" -> coin,
            "withdrawal_amount" -> body.get("withdrawal_amount").flatMap(asDouble).getOrElse(0.0),
            "payment_system" -> str(body("payment_system")),
            "account_number" -> str(body("account_number")),
            "withdraw_date" -> store.now()))
          Res(201,
            s"""{"message":"Withdrawal request submitted successfully","id":$id}""")
      }
    }

    /** POST /admin/withdrawals/{id}/approve (index.js:1336-1371): the
      * guarded debit — already-approved 400, worker 404, balance 400
      * (:1350), then `$inc` −coins + `$set` approved. */
    def adminApproveWithdrawal(params: Map[String, String], body: Map[String, Any]): Res =
      params("id").toLongOption match {
        case None => msg(400, "Invalid withdrawal ID")
        case Some(id) => store.withdrawals.lookup(Seq(id)) match {
          case None => msg(404, "Withdrawal not found")
          case Some(wd) =>
            if (wd.get("o_orderstatus").contains("approved"))
              return msg(400, "Withdrawal already approved")
            // Worker resolution falls back to the o_custkey user for
            // fixture rows (the same vocabulary rule as tasks'
            // ownerEmail and submissions' workerOf — without it every
            // fixture withdrawal would be unapprovable on this path
            // while the unguarded PATCH succeeded on the same row).
            wd.get("worker_email").collect { case s: String => s }
              .flatMap(userByEmail)
              .orElse(asLong(wd.getOrElse("o_custkey", null))
                .flatMap(k => store.users.lookup(Seq(k)))) match {
              case None => msg(404, "Worker not found")
              case Some(u) =>
                val coin = wd.get("withdrawal_coin").flatMap(asLong).getOrElse(0L)
                if (coinsOf(u) < coin)
                  return msg(400, "Worker has insufficient coins")
                incCoins(u, -coin.toDouble)
                store.withdrawals.patch(Seq(id),
                  Map("o_orderstatus" -> "approved", "approvedAt" -> store.now()))
                msg(200, "Withdrawal approved and coins deducted")
            }
        }
      }

    /** PATCH /api/withdrawals/{id} (index.js:170-194): the reference's
      * SECOND approval path — `$set` approved + notify, deliberately NO
      * coin movement (divergence kept verbatim; pinned in spec). */
    def patchWithdrawal(params: Map[String, String], body: Map[String, Any]): Res =
      params("id").toLongOption match {
        case None => msg(400, "Invalid withdrawal ID")
        case Some(id) => store.withdrawals.lookup(Seq(id)) match {
          case None => msg(404, "Withdrawal not found")
          case Some(wd) =>
            store.withdrawals.patch(Seq(id), Map("o_orderstatus" -> "approved"))
            for (e <- wd.get("worker_email").collect { case s: String => s };
                 u <- userByEmail(e))
              notify(userKey(u), e,
                s"Your withdrawal of $$${wd.get("withdrawal_amount").flatMap(asDouble).getOrElse(0.0)} has been approved.",
                "/dashboard/worker-home")
            msg(200, "Withdrawal approved")
        }
      }

    /** DELETE /api/notifications/{id} (index.js:241-256): ownership
      * check (403 on another user's notification) then delete (w4). */
    def deleteNotification(params: Map[String, String], body: Map[String, Any]): Res =
      params("id").toLongOption match {
        case None => msg(400, "Invalid notification ID")
        case Some(id) => store.notifications.lookup(Seq(id)) match {
          case None => msg(404, "Notification not found")
          case Some(n) =>
            // index.js:249: ownership is notif.toEmail === decoded.email
            // and NOTHING else. Armed, the verified email alone decides
            // (matched against toEmail, or against user_id through the
            // email's own users row for pre-evolution fixture rows) —
            // the ?user= channel is open-mode stand-in ONLY, or any
            // token could delete any notification by guessing a key.
            val armed = params.contains("@auth")
            val callerEmail = identity(params, body)
            val callerUser =
              if (armed) None else params.get("user").flatMap(_.toLongOption)
            if (callerEmail.isEmpty && callerUser.isEmpty)
              return msg(400, "Caller identity required")
            val nUser = asLong(n.getOrElse("user_id", null))
            val owns =
              callerEmail.exists(e => n.get("toEmail").contains(e) ||
                userByEmail(e).map(userKey).exists(nUser.contains)) ||
              callerUser.exists(nUser.contains)
            if (!owns) msg(403, "Not authorized to delete this notification")
            else { store.notifications.delete(Seq(id)); msg(200, "Notification deleted") }
        }
      }

    /** DELETE /admin/users/{email} (index.js:1125-1137). */
    def adminDeleteUser(params: Map[String, String], body: Map[String, Any]): Res = {
      val email = params("email")
      userByEmail(email) match {
        case None => Res(404, """{"error":"User not found"}""")
        case Some(u) =>
          store.users.delete(Seq(userKey(u)))
          msg(200, s"User $email deleted successfully")
      }
    }

    /** PATCH /admin/users/{email}/role (index.js:1141-1162): enum guard
      * (F6), and the reference 404s when nothing CHANGED
      * (modifiedCount=0) — same-role patches answer 404 here too. */
    def adminPatchRole(params: Map[String, String], body: Map[String, Any]): Res = {
      val role = body.get("role").map(str).getOrElse("")
      if (!Set("admin", "buyer", "worker").contains(role))
        return msg(400, "Invalid role")
      userByEmail(params("email")) match {
        case None => msg(404, "User not found or role unchanged")
        case Some(u) =>
          if (roleOf(u) == role) msg(404, "User not found or role unchanged")
          else {
            store.users.patch(Seq(userKey(u)),
              Map("role" -> role, "c_mktsegment" -> segmentOf(role)))
            msg(200, s"User role updated to $role")
          }
      }
    }

    // ---- route table ----------------------------------------------------

    // Middleware chains verbatim from each registration: Open routes
    // are exactly the reference's unguarded ones (/users :377,
    // /users/profile :413/:1261, /api/all-tasks :532, /submissions
    // :924, /tasks/:id :1017, /admin/tasks :1166 — yes, unguarded in
    // the reference, kept verbatim — /top-workers :1237, and "/").
    /** POST /ann/query — the living vector index served over the wire
      * (see the startWithStore scaladoc). Contract: 400 for a missing/
      * non-array/non-numeric/wrong-dimension embedding; k clamped to
      * [1, 100]; the response is exactly the engine's rows for a
      * one-vector payload (spec-pinned byte-equal to the direct call,
      * row-equal to topK). Rides `StreamingAnnIngest.serve` — the
      * CACHED serving view (per base-version + delta-set, invalidated
      * exactly when a new delta's `_SUCCESS` lands) with the payload's
      * bucket keys hashed driver-side, so each request runs ONE Spark
      * job over in-memory columnar state; rows are rank-ordered to
      * make the wire rendering plan-independent. */
    def annQuery(statePath: String)(params: Map[String, String],
                                    body: Map[String, Any]): Res = {
      val dim = Tables.embeddingDim(spark, dir)
      val parsed: Either[String, Array[Float]] = body.get("embedding") match {
        case Some(s: String) =>
          try {
            val node = mapper.readTree(s)
            if (!node.isArray)
              Left("embedding must be a JSON array of numbers")
            else {
              val xs = node.elements().asScala.toArray
              if (!xs.forall(_.isNumber))
                Left("embedding must contain only numbers")
              else if (xs.length != dim)
                Left(s"embedding must have $dim dimensions")
              else Right(xs.map(_.asDouble().toFloat))
            }
          } catch {
            case scala.util.control.NonFatal(_) =>
              Left("embedding must be a JSON array of numbers")
          }
        case _ => Left("embedding is required")
      }
      parsed match {
        case Left(m) => msg(400, m)
        case Right(vec) =>
          // k: lossless integral coercion, the WriteH discipline —
          // integral JSON, a WHOLE floating value, or a numeric string
          // all land; anything else (5.5, "x", true, null) is the 400
          // shape (QueryH maps the IAE). Clamp in the Long domain so a
          // huge literal clamps instead of overflowing.
          def clamp(l: Long): Int = math.max(1L, math.min(100L, l)).toInt
          val k = body.get("k") match {
            case None => graft.streaming.StreamingAnnIngest.TopK
            case Some(l: Long) => clamp(l)
            case Some(d: Double) if d.isWhole => clamp(d.toLong)
            case Some(s: String) =>
              s.trim.toLongOption
                .orElse(s.trim.toDoubleOption.filter(_.isWhole).map(_.toLong))
                .map(clamp).getOrElse(
                  throw new IllegalArgumentException("non-integral k"))
            case Some(_) =>
              throw new IllegalArgumentException("non-integral k")
          }
          // serve()'s default query_id is a SENTINEL no corpus id can
          // carry (fixture and stream vec_ids are >= 0): the engine
          // excludes a query's own vec_id from its neighbors, so a
          // colliding id — 0 is a real history vector — would silently
          // drop that vector from every wire response (the r9 ADVICE
          // finding).
          val rows = jsonRows(graft.streaming.StreamingAnnIngest
            .serve(spark, dir, statePath, vec, k)
            .orderBy($"rank")
            .select($"rank", $"neighbor_id", $"sim_r"))
          Res(200, rows.mkString("[", ",", "]"))
      }
    }

    val buyerOnly  = RoleReq(Set("buyer"))   // index.js:132
    val workerOnly = RoleReq(Set("worker"))  // index.js:198
    val routes: Seq[Route] = Seq(
      // Every GET path the reference registers (the /users/profile and
      // /buyer-tasks duplicates share their live twin's handler).
      Route("GET", "/buyer/home",        CheckedReadH(catalogRoute("flagship_buyer_home")), FBToken),  // :542
      Route("GET", "/api/worker/home",   CheckedReadH(catalogRoute("flagship_worker_home")), FBToken), // :325
      Route("GET", "/admin/home",        CheckedReadH(catalogRoute("flagship_admin_home")), AdminReq), // :1200
      Route("GET", "/admin/stats",       CheckedReadH(catalogRoute("a1_filtered_counts")), AdminReq),  // :1375
      Route("GET", "/api/buyer/stats",   CheckedReadH(catalogRoute("a5_conditional_counts")), FBToken), // :593
      Route("GET", "/top-workers",       CheckedReadH(catalogRoute("o2_topk"))),                        // :1237 open
      Route("GET", "/buyer/tasks",       CheckedReadH(catalogRoute("p4_filter_scan")), FBToken),       // :517
      Route("GET", "/buyer-tasks",       CheckedReadH(catalogRoute("p4_filter_scan")), FBToken),       // :632
      Route("GET", "/worker/tasks",      CheckedReadH(catalogRoute("p4_filter_scan")), FBToken),       // :1034
      Route("GET", "/admin/users",       CheckedReadH(catalogRoute("p9_projection_rename")), AdminReq), // :1112
      Route("GET", "/buyer/submissions", CheckedReadH(catalogRoute("j1_semi_join")), FBToken),         // :778
      Route("GET", "/api/buyer/pending-submissions", CheckedReadH(catalogRoute("j1_semi_join")), FBToken), // :940
      Route("GET", "/api/all-tasks",     ReadH()(fullTaskScan)),                                   // :532 open
      Route("GET", "/admin/tasks",       ReadH()(fullTaskScan)),                                   // :1166 open
      Route("GET", "/submissions",       ReadH()(submissionsRead), FBToken),                      // :1001
      Route("GET", "/admin/withdrawals", ReadH()(withdrawalsRead), AdminReq),                     // :1099
      Route("GET", "/api/notifications", ReadH()(notifications), FBToken),                        // :226
      Route("GET", "/payments",          CheckedReadH(payments), FBToken),                        // :427
      Route("GET", "/users/profile",     ReadH(pointLookup = true)(userProfile)),                  // :413 open
      Route("GET", "/tasks/{id}",        ReadH(pointLookup = true)(p =>
        taskById(p))),                                                                             // :1017 open
      // The 25 write registrations (index.js lines in each handler's
      // scaladoc; the two dead duplicates share their live twin).
      // Each declares the entities it may WRITE (the per-entity
      // concurrency contract in WriteH's scaladoc): single-entity
      // writers run concurrently when disjoint; cross-entity
      // invariants list every written entity and stay linearizable.
      Route("POST",   "/users",                          WriteH(postUsers, Seq("users"))),                       // :377 open
      Route("POST",   "/tasks",                          WriteH(postTasks, Seq("tasks", "users")), FBToken),    // :443
      Route("PATCH",  "/tasks/{id}",                     WriteH(patchTask, Seq("tasks")), FBToken),             // :650
      Route("DELETE", "/tasks/{id}",                     WriteH(deleteTask, Seq("tasks")), FBToken),            // :684
      Route("DELETE", "/api/admin/tasks/{id}",           WriteH(adminDeleteTask, Seq("tasks")), AdminReq),      // :1175
      Route("PATCH",  "/refund-coins",                   WriteH(refundCoins, Seq("users")), FBToken),           // :708
      Route("POST",   "/purchase-coin",                  WriteH(purchaseCoin, Seq("users", "payments")), FBToken), // :738
      Route("POST",   "/api/payments/record",            WriteH(paymentsRecord, Seq("payments", "users")), FBToken), // :292
      Route("POST",   "/create-payment-intent",          WriteH(paymentIntent, Nil), FBToken),                  // :260 (writes nothing)
      Route("POST",   "/api/submissions",                WriteH(postApiSubmission, Seq("submissions", "notifications")), workerOnly), // :198
      Route("POST",   "/submissions",                    WriteH(postSubmission, Seq("submissions"))),            // :924 open
      Route("PATCH",  "/api/submissions/{id}",           WriteH(patchSubmission, Seq("submissions", "notifications")), buyerOnly), // :132
      Route("PATCH",  "/buyer/submissions/{id}/approve", WriteH(approveSubmission, Seq("submissions", "users")), FBToken), // :799
      Route("PATCH",  "/buyer/submissions/{id}/reject",  WriteH(rejectSubmission, Seq("submissions")), FBToken), // :853
      Route("PUT",    "/api/submissions/approve/{id}",   WriteH(putSubmissionStatus("approved"), Seq("submissions")), FBToken), // :882
      Route("PUT",    "/api/submissions/reject/{id}",    WriteH(putSubmissionStatus("rejected"), Seq("submissions")), FBToken), // :904
      Route("POST",   "/withdrawals",                    WriteH(postWithdrawal, Seq("withdrawals")), FBToken),  // :1046
      Route("PATCH",  "/api/withdrawals/{id}",           WriteH(patchWithdrawal, Seq("withdrawals", "notifications")), AdminReq), // :170
      Route("POST",   "/admin/withdrawals/{id}/approve", WriteH(adminApproveWithdrawal, Seq("withdrawals", "users")), AdminReq), // :1336
      Route("DELETE", "/api/notifications/{id}",         WriteH(deleteNotification, Seq("notifications")), FBToken), // :241
      Route("DELETE", "/admin/users/{email}",            WriteH(adminDeleteUser, Seq("users")), AdminReq),      // :1125
      Route("PATCH",  "/admin/users/{email}/role",       WriteH(adminPatchRole, Seq("users")), AdminReq)        // :1141
    ) ++ annStatePath.map(sp =>
      // ENGINE EXTENSION (no reference twin — hence the /ann
      // namespace): vector search over the living index. The payload
      // is request data, never corpus data; k is clamped so no request
      // can demand an unbounded render. FBToken: the response is
      // corpus-DERIVED (neighbor ids + cosines), so on an armed façade
      // it is guarded like every other data route; on an open façade
      // authorize() short-circuits and the route stays open (the
      // bench/embedding posture).
      Route("POST", "/ann/query", QueryH(annQuery(sp)), FBToken))

    /** The middleware chain, run AFTER method resolution and BEFORE
      * query decoding (Express order: route middlewares fire before the
      * handler ever reads the request — a broken query string on a
      * token-less request is still the 401). Left = the middleware's
      * response; Right = the verified email to inject (None when the
      * route is open or the façade runs without a secret). */
    def authorize(need: AuthReq,
                  header: Option[String]): Either[Res, Option[String]] =
      (authSecret, need) match {
        case (None, _) | (_, Open) => Right(None)
        case (Some(sec), _) =>
          val hdr = header.getOrElse("")
          if (!hdr.startsWith("Bearer "))
            Left(msg(401, "Unauthorized access: missing or invalid Authorization header"))
          else {
            // split(' ')[1] verbatim (index.js:99): "Bearer  x" yields
            // the empty token and the second 401, like the reference.
            val tok = hdr.split(" ", -1).lift(1).getOrElse("")
            if (tok.isEmpty) Left(msg(401, "Unauthorized access: missing token"))
            else GraftAuth.verify(sec, tok) match {
              case None => Left(msg(403, "Forbidden access: invalid token"))
              case Some(email) => need match {
                case RoleReq(allowed) => // index.js:70-89
                  userByEmail(email) match {
                    case Some(u) if allowed(roleOf(u)) => Right(Some(email))
                    case _ => Left(msg(403, "Access denied: insufficient permissions"))
                  }
                case AdminReq => // index.js:115-129
                  userByEmail(email) match {
                    case Some(u) if roleOf(u) == "admin" => Right(Some(email))
                    case _ => Left(msg(403, "Admin access required"))
                  }
                // Plain verifyFBToken trusts the decode alone — an
                // email with no users row still passes (Firebase never
                // reads the users collection); the route's own guards
                // then see a missing user.
                case _ => Right(Some(email))
              }
            }
          }
      }

    // TCP_NODELAY on the server's sockets (read once by the JDK server's
    // static config — set before the first create()): without it every
    // request pays the classic ~40 ms Nagle/delayed-ACK stall, which the
    // r10 probes measured as a 44 ms p50 "wire floor" on EVERY route —
    // including the zero-Spark health path. With it the wire floor is
    // sub-millisecond and the serving numbers measure the ENGINE.
    System.setProperty("sun.net.httpserver.nodelay", "true")
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
    // Daemon workers: the façade must never pin a host JVM (specs and
    // embedding sessions exit cleanly; `main` blocks explicitly).
    server.setExecutor(Executors.newFixedThreadPool(8, r => {
      val th = new Thread(r, "graft-rest")
      th.setDaemon(true)
      th
    }))

    def respond(ex: HttpExchange, res: Res,
                ctype: String = "application/json"): Unit =
      // close() in finally: a client dropping mid-write must not leak
      // the exchange (a body-write IOException would otherwise skip it,
      // and the catch-all's second respond can't re-send headers).
      try {
        val bytes = res.body.getBytes(StandardCharsets.UTF_8)
        ex.getResponseHeaders.set("Content-Type", ctype)
        ex.sendResponseHeaders(res.status, bytes.length.toLong)
        ex.getResponseBody.write(bytes)
      } finally ex.close()

    server.createContext("/", (ex: HttpExchange) => {
      val requestId = requestIds.incrementAndGet()
      val method = ex.getRequestMethod
      // The matched route's pattern, named by the server-error log line.
      var routePattern = "(unrouted)"
      try {
        val uri = ex.getRequestURI
        val rawPath = Option(uri.getPath).getOrElse("")
        if (rawPath == "/") {
          if (method == "GET")
            respond(ex, Res(200, "graft analytics engine is running"), "text/plain")
          else respond(ex, msg(405, "method not allowed"))
        } else {
          // split(-1) keeps trailing empties, and `{bind}` refuses the
          // empty segment — `/tasks/` matches nothing and 404s instead
          // of half-matching `/tasks/{id}` (or worse, POST /tasks).
          val pathSegs = rawPath.split("/", -1).toVector.drop(1)
          val pathMatches = routes.flatMap(r =>
            matchSegs(r.segs, pathSegs).map(b => (r, r.pattern, b)))
          if (pathMatches.isEmpty) respond(ex, msg(404, "no such route"))
          else pickRoute(pathMatches.filter(_._1.method == method)) match {
            case None => respond(ex, msg(405, "method not allowed"))
            case Some((route, binds)) =>
              routePattern = route.pattern
              authorize(route.auth,
                Option(ex.getRequestHeaders.getFirst("Authorization"))) match {
                case Left(res) => respond(ex, res)
                case Right(authEmail) =>
              // Split on the RAW query, decode each value exactly once:
              // URI.getQuery pre-decodes, so decoding its output again
              // would corrupt literal '+' to a space and let an encoded
              // '&' inside a value truncate it at the split. Malformed
              // percent-encoding is a CLIENT error → the 400 shape (the
              // JDK HttpClient pre-rejects these, a raw socket doesn't
              // have to). Checked AFTER method resolution: a broken
              // query on a wrong-method request is still a 405.
              val params0Opt =
                try Some(Option(uri.getRawQuery).toSeq
                  .flatMap(_.split("&").toSeq)
                  .flatMap { kv =>
                    kv.split("=", 2) match {
                      case Array(k, v) => Some(java.net.URLDecoder.decode(k, "UTF-8")
                        -> java.net.URLDecoder.decode(v, "UTF-8"))
                      case _           => None
                    }
                  }.toMap)
                catch { case _: IllegalArgumentException => None }
              params0Opt match {
                case None => respond(ex, msg(400, "malformed query encoding"))
                case Some(params0) =>
                  // Path binds beat query params; "@auth" is server-
                  // injected only (client-supplied copies stripped —
                  // identity() trusts this channel).
                  val params = (params0 - "@auth") ++ binds ++
                    authEmail.map("@auth" -> _)
                  route.h match {
                    case CheckedReadH(run) => run(params) match {
                      case Left(res) => respond(ex, res)
                      case Right(df) =>
                        val rows = jsonRows(df)
                        respond(ex, Res(200, rows.mkString("[", ",", "]")))
                    }
                    case rh: ReadH => rh.make(params) match {
                      case None =>
                        respond(ex, msg(400, "missing or malformed parameter"))
                      case Some(df) =>
                        val rows = jsonRows(df)
                        // Key-addressed lookups 404 on absence, the
                        // reference's shape (index.js:1023-1027);
                        // listings return [] — a per-route decision.
                        if (rows.isEmpty && rh.pointLookup)
                          respond(ex, msg(404, "not found"))
                        else respond(ex, Res(200, rows.mkString("[", ",", "]")))
                    }
                    case QueryH(run) =>
                      // Same bounded-body discipline as WriteH; no
                      // store lock, no mutation — a malformed payload
                      // value is still the client's 400.
                      val rawQ = ex.getRequestBody.readNBytes(MaxBodyBytes + 1)
                      if (rawQ.length > MaxBodyBytes)
                        respond(ex, msg(413, "payload too large"))
                      else parseBody(new String(rawQ, StandardCharsets.UTF_8)) match {
                        case None => respond(ex, msg(400, "malformed JSON body"))
                        case Some(body) =>
                          respond(ex,
                            try run(params, body)
                            catch { case _: IllegalArgumentException =>
                              msg(400, "malformed field value") })
                      }
                    case WriteH(run, touches) =>
                      // Bounded read: the write side must not buffer an
                      // unbounded client body in the driver (the read
                      // side's no-unbounded-work discipline). Express's
                      // json() default limit is 100 kB and answers 413;
                      // mirror it at 1 MB.
                      val raw0 = ex.getRequestBody.readNBytes(MaxBodyBytes + 1)
                      if (raw0.length > MaxBodyBytes)
                        respond(ex, msg(413, "payload too large"))
                      else parseBody(new String(raw0, StandardCharsets.UTF_8)) match {
                        case None => respond(ex, msg(400, "malformed JSON body"))
                        case Some(body) =>
                          // A client value that cannot land in its
                          // column's type (unparseable string, lossy
                          // fractional→integral) throws from the store's
                          // coercion — a CLIENT error, mapped to the 400
                          // shape. Guards precede writes and coercion
                          // precedes the journal update, so a rejected
                          // op leaves no partial row.
                          val res =
                            try store.mutateOn(touches)(run(params, body))
                            catch {
                              case _: IllegalArgumentException =>
                                msg(400, "malformed field value")
                            }
                          respond(ex, res)
                      }
                  }
              }
              }
          }
        }
      } catch {
        case e: Throwable =>
          // The reply names only the exception class; the log carries
          // the route, the request id and the whole cause chain (with
          // its stack), so a server fault is never silent.
          log.error(s"500 on $method $routePattern (request $requestId): ${causeChain(e)}", e)
          try respond(ex, msg(500, e.getClass.getSimpleName))
          catch { case _: Throwable => () }
      }
    })
    server.start()
    (server, store)
  }

  /** Usage: runMain graft.RestServe <sfDir> <port> [authSecret].
    * With a secret the reference middleware chains are live; mint
    * tokens with `GraftAuth.token(secret, email)`. */
  def main(args: Array[String]): Unit = {
    val (sfDir, port, secret) = args match {
      case Array(d, p)    => (d, p, None)
      case Array(d, p, s) => (d, p, Some(s))
    }
    val spark = Sessions.builder(Sessions.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    startWithStore(spark, sfDir, port.toInt, authSecret = secret)
    println(s"graft REST facade listening on 127.0.0.1:$port over $sfDir" +
      secret.fold("")(_ => " (auth armed)"))
    Thread.currentThread().join()
  }
}
