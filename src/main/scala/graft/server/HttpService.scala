package graft.server

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.Executors

import com.sun.net.httpserver.{HttpExchange, HttpServer}

import graft.core.JobStatus
import graft.workflow.{ArgSpecs, Engine, Workflow}

/**
 * The HTTP/JSON service layer — the Spark-first equivalent of the
 * reference's SOAP endpoint (`/root/reference/src/oph_execute_main.c:256`
 * `oph__ophExecuteMain`): a request document goes in, a
 * `{jobid, response, error}` envelope comes out, with the same error
 * vocabulary (`src/oph_server_error.h:22-29`). The transport is plain
 * HTTP/JSON (the payload the reference ships inside its SOAP body IS
 * the workflow JSON) served by the JDK's built-in HttpServer — the
 * server is control-plane only, so no Spark involvement in transport.
 * With a [[Tls]] config the same routes serve HTTPS-only (the
 * reference's SSL transport, `src/ssl/oph_server.c`).
 *
 * Routes:
 *  - `POST /services/execute` — body = workflow request JSON;
 *    `exec_mode=sync` runs inline and returns the rendered Response,
 *    `exec_mode=async` returns the minted jobid immediately.
 *  - `GET /services/status?jobid=N` — lifecycle of an async job.
 *  - `GET /services/resume?id=N&id_type=workflow|marker&document_type=
 *    request|response&level=0-5&status_filter=MASK` — the saved
 *    document store (oph_resume over HTTP): id>0 (or `last`) fetches
 *    one document, id=0/absent returns the session job LISTING as
 *    columns+rows. The query string is the operator's argument map,
 *    answered by the operator's own `SessionService.resumeRequest`: a
 *    wrong parameter (400) is whatever the `oph_resume` descriptor
 *    rejects.
 *  - `GET /services/info` — service liveness (oph_service).
 *
 * Authentication (`src/oph_auth.c`, token constants `oph_auth.h:37,121`):
 * HTTP Basic `user:password`, Basic `__token__:<token>`, or
 * `Authorization: Bearer <token>` — 401 without valid credentials.
 * Authorization: executing requires the session's Execute role bit
 * (`oph_auth.h:79-96` role model) — 403 otherwise.
 */
object HttpService {
  // `src/oph_server_error.h:22-29`
  val Ok = 0
  val ErrUnknown = 1
  val ErrNullPointer = 2
  val ErrGeneric = 3
  val ErrIo = 4
  val ErrAuth = 5
  val ErrSystem = 6
  val ErrWrongParameter = 7

  /** Status entries hold only per-task STATUSES — a status poll needs
    * no answers, and the map lives as long as the service.
    * `cancel` targets the run's reserved workflow id on its engine
    * (the /services/cancel route). */
  final case class Job(id: Int,
      future: scala.concurrent.Future[Map[String, JobStatus.Value]],
      /** kill/abort/stop cancellation (reference type arg). */
      cancel: Char => Unit = _ => (),
      /** Cancellation authorization: the submitter, or anyone holding
        * the Execute role on the job's session — a global sequential
        * jobid must not let any authenticated user kill others' runs. */
      canCancel: String => Boolean = _ => true)

  /** HTTP worker pool size — the reference provisions a thread farm
    * (`SERVER_FARM_SIZE`, `etc/server.conf.in:27`, default 128) so
    * long sync workflows don't head-of-line block other requests. */
  val DefaultPoolSize = 128

  /** Completed-job retention bound: older entries evict FIFO (a status
    * poll for an evicted jobid gets 404, like an expired reference
    * marker); without it a long-lived server leaks one entry per
    * request. */
  val MaxTrackedJobs = 512

  /** Routed-session bound — live engines are not evicted behind their
    * users' backs, so minting past this is refused with 503 (idle
    * `autoremove` sessions ARE reaped first, freeing slots). */
  val MaxSessions = 64

  /** Idle threshold after which an `autoremove` session's engine is
    * reaped (reference sessions expire via the session timeout +
    * autoremove property, `src/oph_parser.h:202`). */
  val DefaultIdleTtlMillis: Long = 30L * 60 * 1000
}

final class HttpService(
    val engine: Engine,
    val auth: AuthService,
    port: Int = 0,
    /** autoremove-session idle TTL; injectable for tests. */
    idleTtlMillis: Long = HttpService.DefaultIdleTtlMillis,
    nowMillis: () => Long = System.currentTimeMillis,
    /** Worker threads serving requests (reference SERVER_FARM_SIZE). */
    poolSize: Int = HttpService.DefaultPoolSize,
    /** Durable per-session state directory: each routed session's
      * role table + saved documents persist as `session-<code>.json`
      * (a [[StateStore.Log]]) and are restored after a restart
      * (ownership included — a restarted server must not hand someone
      * else's session to the first requester). None = memory only. */
    stateDir: Option[java.nio.file.Path] = None,
    /** TLS materials (reference `src/ssl/oph_server.c` serves SOAP
      * over SSL) — when set, the service speaks HTTPS only and a
      * plaintext client is refused at the handshake; bearer tokens
      * never cross the wire in the clear. None = plaintext HTTP (dev
      * / behind a terminating proxy). */
    tls: Option[Tls] = None) {
  import HttpService._

  private var server: HttpServer = _
  private var pool: java.util.concurrent.ExecutorService = _
  private val jobSeq = new java.util.concurrent.atomic.AtomicInteger(0)
  private val jobs =
    scala.collection.concurrent.TrieMap[Int, HttpService.Job]()

  /** `oph__oph_notify` bookkeeping (`src/oph_notify.c:42-48`:
    * service_info->incoming_notifications). */
  private val incomingNotifications =
    new java.util.concurrent.atomic.AtomicLong(0)

  private lazy val callbackClient = java.net.http.HttpClient.newBuilder()
    .followRedirects(java.net.http.HttpClient.Redirect.NORMAL)
    .connectTimeout(java.time.Duration.ofSeconds(10)).build()

  /** Completion push to a request's `callback_url` — the reference's
    * curl GET appending result info to the caller-supplied URL
    * (`oph_workflow_engine.c:6768-6818`, CONNECTTIMEOUT 10,
    * FOLLOWLOCATION). Failures are logged, never raised: a dead
    * callback listener must not fail the workflow. */
  private def notifyCallback(url: String, jobid: Int, status: String): Unit = {
    val sep = if (url.contains("?")) "&" else "?"
    val full = s"$url${sep}jobid=$jobid&status=$status"
    try {
      val req = java.net.http.HttpRequest
        .newBuilder(java.net.URI.create(full))
        .timeout(java.time.Duration.ofSeconds(10)).GET().build()
      // sendAsync: a dead listener hanging until its timeout must not
      // pin a global-EC thread (the same pool that runs async
      // workflows) for the duration
      callbackClient.sendAsync(req,
          java.net.http.HttpResponse.BodyHandlers.discarding())
        .whenComplete((_, err) =>
          if (err == null) engine.sessions.log(s"sent notification to $full")
          else engine.sessions.log(
            s"unable to send notification to $full: ${err.getMessage}"))
    } catch {
      case e: Exception => // malformed URI etc.
        engine.sessions.log(s"unable to send notification to $full: ${e.getMessage}")
    }
  }

  /** Session routing (`sessionid` request field / `session` query
    * param): each session code owns its OWN engine — catalog, cube
    * store, role table — exactly the reference's per-session state.
    * The first authenticated user to name a NEW code becomes its owner;
    * everyone else needs a granted role on it. Guard rails: codes are
    * validated, capped in number (an authenticated user must not be
    * able to allocate engines without bound), and a code already
    * registered in ANY engine's session service cannot be squatted by
    * minting a second owner for it over HTTP. */
  private val sessionEngines =
    scala.collection.concurrent.TrieMap[String, Engine](
      engine.catalog.sessionCode -> engine)

  final case class RoutingError(status: Int, message: String)
    extends Exception(message)

  /** Serializes session minting: the cap check, the squat check, and
    * the insert must be one atomic step — `getOrElseUpdate` alone can
    * both exceed the cap under concurrency and evaluate its thunk
    * twice, registering a discarded Engine's session code. */
  private val mintLock = new Object

  /** Last-request stamp per routed session — feeds the autoremove
    * reaper. The primary engine never appears here (it is never
    * reaped). */
  private val lastUsed =
    scala.collection.concurrent.TrieMap[String, Long]()

  /** Release a routed engine: drop its cube store (with the rows its
    * imported cubes own) and forget the route. */
  private def releaseEngine(code: String, eng: Engine): Unit = {
    sessionEngines.remove(code)
    lastUsed.remove(code)
    eng.clearCubes()
  }

  /** Opportunistic session GC, run on every route resolution (the
    * reference runs session cleanup server-side on its timer): an
    * engine whose session was REMOVED via oph_manage_session releases
    * immediately; an `autoremove` session idle past the TTL is removed
    * and released — exactly the reference's autoremove semantics
    * (`src/oph_parser.h:202`). */
  private def reapSessions(): Unit = {
    val now = nowMillis()
    sessionEngines.foreach { case (code, eng) =>
      if ((eng ne engine) && eng.runningCount == 0) {
        // runningCount guard: an engine mid-workflow is BUSY, not idle —
        // reaping it would clear cubes under the run's feet
        if (!eng.sessions.exists(code)) {
          releaseEngine(code, eng)
          engine.sessions.log(s"session $code engine released (removed)")
        } else if (eng.sessions.autoremoveEnabled(code) &&
            now - lastUsed.getOrElse(code, now) > idleTtlMillis) {
          // autoremove REMOVES the session (reference semantics), so the
          // persisted state must forget it too or a later request would
          // resurrect it
          eng.sessions.purge(code)
          releaseEngine(code, eng)
          engine.sessions.log(s"session $code reaped (autoremove, idle)")
        }
      }
    }
  }

  private def sessionFileOf(code: String): Option[java.nio.file.Path] =
    stateDir.map(_.resolve(s"session-$code.json"))

  /** Persisted sessions owned by `user` that have NO live engine:
    * (code, state file, autoremove), read by the session service's own
    * replay; an unreadable file counts for nobody and is logged. */
  private def persistedOwnedBy(
      user: String): Seq[(String, java.nio.file.Path, Boolean)] =
    stateDir.toSeq.flatMap(d => Option(d.toFile.listFiles).toSeq.flatten).flatMap { f =>
      val c = f.getName.stripPrefix("session-").stripSuffix(".json")
      try Option.when(f.getName == s"session-$c.json" && !sessionEngines.contains(c))(
          new SessionService(Some(f.toPath))).filter(_.ownerOf(c).contains(user))
        .map(s => (c, f.toPath, s.autoremoveEnabled(c)))
      catch { case e: Exception => engine.sessions.log(e.getMessage); None }
    }

  private def engineFor(code: String, user: String,
      createIfAbsent: Boolean): Option[Engine] = {
    reapSessions()
    // a persisted session restores on ANY route (status/resume too) —
    // the restart must be transparent to clients holding a session code
    val restorable = sessionFileOf(code)
      .exists(java.nio.file.Files.isRegularFile(_))
    val found = sessionEngines.get(code).orElse {
      if (!createIfAbsent && !restorable) None
      else mintLock.synchronized {
        sessionEngines.get(code).orElse {
          if (!code.matches("[A-Za-z0-9_-]{1,64}"))
            throw RoutingError(400, s"invalid session code '$code'")
          if (sessionEngines.size >= MaxSessions)
            throw RoutingError(503,
              s"session limit ($MaxSessions) reached")
          if (sessionEngines.values.exists(_.sessions.exists(code)))
            throw RoutingError(403,
              s"session '$code' already exists in another registry")
          val minted = new Engine(engine.spark,
            new graft.core.Catalog(code), user, engine.sleeper,
            sessionStateFile = sessionFileOf(code))
          sessionEngines(code) = minted
          Some(minted)
        }
      }
    }
    if (found.isDefined && (found.get ne engine))
      lastUsed(code) = nowMillis()
    found
  }

  def boundPort: Int = server.getAddress.getPort

  def start(): HttpService = {
    server = tls match {
      case Some(t) =>
        val https = com.sun.net.httpserver.HttpsServer
          .create(new InetSocketAddress(port), 0)
        https.setHttpsConfigurator(
          new com.sun.net.httpserver.HttpsConfigurator(t.sslContext()))
        https
      case None => HttpServer.create(new InetSocketAddress(port), 0)
    }
    pool = Executors.newFixedThreadPool(poolSize)
    server.setExecutor(pool)
    server.createContext("/services/execute", exchange =>
      guard(exchange) { user => handleExecute(exchange, user) })
    server.createContext("/services/status", exchange =>
      guard(exchange) { _ => handleStatus(exchange) })
    // cancel one submitted request's run — the reference's OPH_CANCEL
    // known operator (`src/oph_parser.h:206`) over the jobid the
    // execute route minted; drives the engine's cancelJobGroup path
    server.createContext("/services/cancel", exchange =>
      guard(exchange) { user =>
        query(exchange).get("jobid").flatMap(_.toIntOption)
          .flatMap(jobs.get) match {
          case None => reply(exchange, 404,
            s"""{"error":$ErrWrongParameter,"message":"unknown jobid"}""")
          case Some(job) if !job.canCancel(user) =>
            reply(exchange, 403, s"""{"error":$ErrAuth,"message":""" +
              s""""user '$user' cannot cancel job ${job.id}"}""")
          case Some(job) =>
            val ctype = Engine.parseCancelType(
              query(exchange).getOrElse("type", "kill"))
            ctype match {
              case None => reply(exchange, 400,
                s"""{"error":$ErrWrongParameter,"message":"wrong parameter 'type'"}""")
              case Some(_) if job.future.isCompleted =>
                // the run already settled: a flag now would have no
                // finally to clean it and nothing to act on it
                reply(exchange, 200,
                  s"""{"jobid":${job.id},"error":$Ok,"message":"already settled"}""")
              case Some(c) =>
                job.cancel(c)
                reply(exchange, 200,
                  s"""{"jobid":${job.id},"error":$Ok,"message":"cancel sent"}""")
            }
        }
      })
    server.createContext("/services/resume", exchange =>
      guard(exchange) { user => handleResume(exchange, user) })
    server.createContext("/services/info", exchange =>
      guard(exchange) { _ =>
        reply(exchange, 200, s"""{"status":"up","error":$Ok,""" +
          s""""notifications":${incomingNotifications.get}}""")
      })
    // the per-session browsable HTML report (`oph_session_report.h`):
    // every saved command with links into the resume document store
    server.createContext("/services/report", exchange =>
      guard(exchange) { user =>
        val code = query(exchange).getOrElse("session",
          engine.catalog.sessionCode)
        try engineFor(code, user, createIfAbsent = false) match {
          case None => reply(exchange, 404,
            s"""{"error":$ErrWrongParameter,""" +
              s""""message":${quote(s"no session '$code'")}}""")
          case Some(target) =>
            replyHtml(exchange, 200, target.sessions.report(code, user))
        } catch {
          case RoutingError(status, msg) => reply(exchange, status,
            s"""{"error":$ErrAuth,"message":${quote(msg)}}""")
          case e: SessionService.AuthError => reply(exchange, 403,
            s"""{"error":$ErrAuth,"message":${quote(e.getMessage)}}""")
        }
      })
    // admin user CRUD (`src/oph_manage_user.c` actions add|del|
    // update|list) — 403 unless the authenticated caller holds the
    // admin bit; a removed user's live tokens die with the account
    server.createContext("/services/manage_user", exchange =>
      guard(exchange) { user =>
        val q = query(exchange)
        val action = q.getOrElse("action", "")
        try {
          val listing = auth.manageUser(user, action, q)
          if (action.equalsIgnoreCase("list")) {
            val rows = listing.map { case (n, adm) =>
              s"""{"username":${quote(n)},"is_admin":$adm}"""
            }.mkString(",")
            reply(exchange, 200, s"""{"error":$Ok,"users":[$rows]}""")
          } else
            reply(exchange, 200,
              s"""{"error":$Ok,"message":"$action done"}""")
        } catch {
          case e: SessionService.AuthError => reply(exchange, 403,
            s"""{"error":$ErrAuth,"message":${quote(e.getMessage)}}""")
          case e: IllegalArgumentException => reply(exchange, 400,
            s"""{"error":$ErrWrongParameter,"message":${quote(e.getMessage)}}""")
        }
      })
    // the notification receiver — the reference's second SOAP endpoint
    // `oph__oph_notify` (`src/oph_notify.c:39`): a chained engine or an
    // external notifier posts completion data; authenticated like any
    // other route, counted like service_info->incoming_notifications
    server.createContext("/services/notify", exchange =>
      guard(exchange) { user =>
        val data = new String(exchange.getRequestBody.readAllBytes,
          StandardCharsets.UTF_8)
        incomingNotifications.incrementAndGet()
        engine.sessions.log(
          s"notification from '$user': ${data.take(200)}")
        reply(exchange, 200, s"""{"response":$Ok}""")
      })
    // login mints a bearer token from PASSWORD credentials only (the
    // reference's token grant, `oph_auth.h:121` access_token) — a
    // presented token must NOT mint further tokens, or revocation of
    // the original would be escapable through derived tokens
    server.createContext("/services/login", exchange =>
      guard(exchange) { _ =>
        auth.authenticatePassword(Option(
          exchange.getRequestHeaders.getFirst("Authorization"))) match {
          case Some(user) =>
            val token = auth.loginAuthenticated(user)
            reply(exchange, 200,
              s"""{"error":$Ok,"access_token":${quote(token)}}""")
          case None =>
            reply(exchange, 401,
              s"""{"error":$ErrAuth,"message":"login requires Basic user:password"}""")
        }
      })
    server.start()
    this
  }

  def stop(): Unit = {
    if (server != null) server.stop(0)
    if (pool != null) pool.shutdown() // the pool is ours: release its threads
  }

  // ------------------------------------------------------- handlers

  /** Authenticate, run the handler, convert stray errors to 500s. */
  private def guard(ex: HttpExchange)(body: String => Unit): Unit =
    try {
      // throttling is keyed by the REMOTE HOST (reference `oph_is_in_bl`
      // block-list) — an attacker must not be able to lock out an
      // account by name from anywhere
      val host = Option(ex.getRemoteAddress)
        .flatMap(a => Option(a.getAddress)).map(_.getHostAddress)
        .getOrElse("")
      auth.authenticate(
        Option(ex.getRequestHeaders.getFirst("Authorization")), host) match {
        case Some(user) => body(user)
        case None =>
          ex.getResponseHeaders.add("WWW-Authenticate", "Basic realm=\"graft\"")
          reply(ex, 401, s"""{"error":$ErrAuth,"message":"authentication required"}""")
      }
    } catch {
      // admission refusal (QUEUE_SIZE, reference oph_job_list.c:104):
      // Too Many Requests, not a server fault
      case e: Engine.QueueFullError =>
        reply(ex, 429,
          s"""{"error":$ErrSystem,"message":${quote(e.getMessage)}}""")
      case e: Exception =>
        reply(ex, 500,
          s"""{"error":$ErrSystem,"message":${quote(e.getMessage)}}""")
    } finally ex.close()

  private def handleExecute(ex: HttpExchange, user: String): Unit = {
    if (ex.getRequestMethod != "POST")
      return reply(ex, 405, s"""{"error":$ErrWrongParameter,"message":"POST only"}""")
    val body = new String(ex.getRequestBody.readAllBytes, StandardCharsets.UTF_8)
    if (body.trim.isEmpty)
      return reply(ex, 400, s"""{"error":$ErrNullPointer,"message":"empty request"}""")
    val spec =
      try Workflow.parse(body)
      catch {
        case e: Exception => return reply(ex, 400,
          s"""{"error":$ErrWrongParameter,"message":${quote(e.getMessage)}}""")
      }
    try Workflow.validate(spec)
    catch {
      case e: Workflow.ValidationError => return reply(ex, 400,
        s"""{"error":$ErrWrongParameter,"message":${quote(e.getMessage)}}""")
    }
    // per-user gate + quotas — the reference's user.dat fields
    // (`authz/users/<u>/user.dat`; enabled gate `oph_execute_main.c:
    // 2150-2162`, ncores/nhost caps :6329-6377)
    val uprops = auth.userProps(user)
    if (!uprops.enabled)
      return reply(ex, 503,
        s"""{"error":$ErrSystem,"message":"service is not available for user '$user'"}""")
    if (uprops.maxCores > 0 && spec.ncores.exists(_ > uprops.maxCores))
      return reply(ex, 400,
        s"""{"error":$ErrWrongParameter,"message":"ncores exceeds the user maximum (${uprops.maxCores})"}""")
    if (uprops.maxHosts > 0 && spec.nhosts.exists(_ > uprops.maxHosts))
      return reply(ex, 400,
        s"""{"error":$ErrWrongParameter,"message":"nhost exceeds the user maximum (${uprops.maxHosts})"}""")
    // the user's default data directory applies when the request
    // leaves cdd unset (user.dat OPH_CDD)
    val specR =
      if (spec.cdd == "/" && uprops.cdd != "/") spec.copy(cdd = uprops.cdd)
      else spec
    // session routing AFTER validation: an invalid workflow must not
    // allocate anything. sessionid selects (or mints) the target
    // session's engine; the authenticated user needs its Execute role
    // bit (`oph_auth.h:79-96`) — the creator owns a new session
    val code = spec.sessionId.getOrElse(engine.catalog.sessionCode)
    // max_sessions gates only submissions that would MINT a session;
    // at the cap, a timeout lets the user's expired AUTOREMOVE
    // sessions reap first (`oph_workflow_engine.c:536-595` — the
    // reference counts the user's session links and removes the
    // timed-out autoremove ones before refusing)
    // the expensive disk scan runs OUTSIDE mintLock (ADVICE r15: the
    // lock must not serialize every submission behind directory I/O);
    // it is only a quota input — liveOwned, recomputed INSIDE the
    // lock, sees any session a concurrent request mints, so the
    // count-and-decide stays race-free
    val persistedPre =
      if (uprops.maxSessions > 0) persistedOwnedBy(user) else Seq.empty
    // the count-and-decide + the mint itself run under mintLock: two
    // concurrent submissions by the same user must not both see
    // atCap=false and each mint a session, overshooting the cap by one
    // (engineFor takes the same lock re-entrantly; the inner persisted
    // reap's mintLock block is likewise re-entrant). preexisting is
    // ALSO evaluated inside the lock (ADVICE r15): a concurrent mint of
    // the same code between an outside snapshot and the quota gate
    // would otherwise count the session against its own cap and 429 a
    // request it should simply route
    val eng = mintLock.synchronized {
      val preexisting = code == engine.catalog.sessionCode ||
        sessionEngines.contains(code) ||
        sessionFileOf(code).exists(java.nio.file.Files.isRegularFile(_))
      if (!preexisting && uprops.maxSessions > 0) {
        // the count covers LIVE engines plus persisted-but-unrouted
        // sessions (the reference counts the user's session links on
        // disk, `oph_workflow_engine.c:547-585`) — a restart must not
        // reset anyone's quota
        def liveOwned: Seq[String] = sessionEngines.toSeq.collect {
          case (c, e) if e.sessions.ownerOf(c).contains(user) => c
        }
        // ONE directory scan per decision point: the pre-lock snapshot
        // gates, then (only if a reap actually ran) a recount
        val persisted0 = persistedPre
        var atCap =
          (liveOwned ++ persisted0.map(_._1)).distinct.size >=
            uprops.maxSessions
        if (atCap && uprops.timeoutSessionDays > 0) {
          val cutoff =
            nowMillis() - uprops.timeoutSessionDays * 86400000L
          liveOwned.foreach { c =>
            sessionEngines.get(c).foreach { e =>
              // same guards as reapSessions: never the primary engine,
              // never an engine mid-workflow — the quota reaper must not
              // clear cubes under a run's feet or detach the primary.
              // purge logs the removal (a file left empty is deleted)
              if ((e ne engine) && e.runningCount == 0 &&
                  e.sessions.autoremoveEnabled(c) &&
                  lastUsed.getOrElse(c, 0L) < cutoff) {
                e.sessions.purge(c)
                releaseEngine(c, e)
                engine.sessions.log(s"session $c reaped (user quota, expired)")
              }
            }
          }
          // persisted-but-unrouted expired sessions reap too — else a
          // restart could lock the user at the cap forever. The file's
          // mtime stands in for last access; the file's own service
          // purges the session (a shared file's siblings survive), under
          // mintLock with a live re-check — engineFor restores under the
          // same lock, so the purge cannot race a concurrent restore
          persisted0.foreach { case (c, p, reapable) =>
            val mtime =
              try java.nio.file.Files.getLastModifiedTime(p).toMillis
              catch { case _: Exception => Long.MaxValue }
            if (reapable && mtime < cutoff) mintLock.synchronized {
              if (!sessionEngines.contains(c)) {
                new SessionService(Some(p)).purge(c)
                engine.sessions.log(
                  s"session $c reaped (user quota, expired on disk)")
              }
            }
          }
          atCap =
            (liveOwned ++ persistedOwnedBy(user).map(_._1)).distinct.size >=
              uprops.maxSessions
        }
        if (atCap)
          return reply(ex, 429,
            s"""{"error":$ErrSystem,"message":"too many open sessions (maximum is ${uprops.maxSessions})"}""")
      }
      try engineFor(code, user, createIfAbsent = true).get
      catch {
        case RoutingError(status, msg) => return reply(ex, status,
          s"""{"error":$ErrAuth,"message":${quote(msg)}}""")
      }
    } // mintLock
    if (!eng.sessions.hasRole(code, user, SessionService.RoleExecute))
      return reply(ex, 403,
        s"""{"error":$ErrAuth,"message":"user '$user' lacks the execute role on session '$code'"}""")
    // admission PRE-CHECK: an over-quota submission answers 429 HERE —
    // before a jobid exists — for async as well as sync (the async
    // path would otherwise admit the future and fail it later). The
    // run itself re-checks, so the narrow race just converts to the
    // same 429 through guard's mapping.
    try eng.checkAdmission()
    catch {
      case e: Engine.QueueFullError => return reply(ex, 429,
        s"""{"error":$ErrSystem,"message":${quote(e.getMessage)}}""")
    }
    val jobid = jobSeq.incrementAndGet()
    // reserve the run's workflow id up front so /services/cancel can
    // target exactly this request's Spark job group
    val wfId = eng.reserveWorkflowId()
    val submitter = user
    def track(f: scala.concurrent.Future[Map[String, JobStatus.Value]]): Unit = {
      jobs(jobid) = Job(jobid, f, c => eng.cancelWorkflow(wfId, c),
        u => u == submitter ||
          eng.sessions.hasRole(code, u, SessionService.RoleExecute))
      // completion push (`callback_url`, `oph_workflow_engine.c:6768`):
      // fires for sync and async alike once the run settles
      spec.callbackUrl.foreach { cb =>
        f.onComplete(r => notifyCallback(cb, jobid, runStatus(r)))(
          scala.concurrent.ExecutionContext.global)
      }
      if (jobs.size > MaxTrackedJobs)
        // only COMPLETED jobs age out (oldest first) — evicting a
        // still-running job would 404 its status polls while it runs;
        // if everything is in flight the map temporarily exceeds the
        // bound rather than losing a live job
        jobs.toSeq.sortBy(_._1).iterator
          .filter(_._2.future.isCompleted)
          .take(jobs.size - MaxTrackedJobs)
          .foreach { case (id, _) => jobs.remove(id) }
    }
    // reserve-to-run handoff (ADVICE r16): any synchronous throw before
    // run() takes ownership of wfId (runAsync rejected by the executor,
    // a failure inside track's registration) must unpin the reserved id
    // — otherwise the pin, and that id's cancel flags, leak forever. If
    // the run DID already start, run() re-pins at entry and its finally
    // unpins, so the extra remove here is a benign idempotent race.
    def handoff[A](f: => A): A =
      try f
      catch { case e: Throwable => eng.unpinWorkflowId(wfId); throw e }
    if (spec.execMode.equalsIgnoreCase("async")) {
      import scala.concurrent.ExecutionContext.Implicits.global
      handoff(track(eng.runAsync(specR, Some(body), presetId = Some(wfId),
        submitter = Some(user))
        .map(_.map { case (k, r) => k -> r.status })))
      reply(ex, 200, s"""{"jobid":$jobid,"error":$Ok,"response":null}""")
    } else {
      // register BEFORE running: a long sync workflow must be visible
      // to /services/status and killable via /services/cancel while it
      // executes, not only after it returns
      val p = scala.concurrent
        .Promise[Map[String, JobStatus.Value]]()
      handoff(track(p.future))
      val results =
        try eng.runRequest(specR, Some(body), presetId = Some(wfId),
          submitter = Some(user))
        catch { case e: Throwable => p.tryFailure(e); throw e }
      p.trySuccess(results.map { case (k, r) => k -> r.status })
      val rendered = eng.renderResponse(spec.name, results, spec.outputFormat)
      val failed = results.values.exists(_.status == JobStatus.Error)
      reply(ex, 200,
        s"""{"jobid":$jobid,"error":${if (failed) ErrGeneric else Ok},""" +
          s""""response":$rendered}""")
    }
  }

  /** The status word of a settled run, shared by the completion
    * callback and /services/status: any task Error, or a run that
    * threw, is "error". */
  private def runStatus(r: scala.util.Try[Map[String, JobStatus.Value]]): String =
    r match {
      case scala.util.Success(rs) if !rs.values.exists(_ == JobStatus.Error) =>
        "completed"
      case _ => "error"
    }

  private def handleStatus(ex: HttpExchange): Unit = {
    val jobid = query(ex).get("jobid").flatMap(_.toIntOption)
    jobid.flatMap(jobs.get) match {
      case None =>
        reply(ex, 404, s"""{"error":$ErrWrongParameter,"message":"unknown jobid"}""")
      case Some(job) =>
        val status = job.future.value.map(runStatus).getOrElse("running")
        reply(ex, 200,
          s"""{"jobid":${job.id},"status":"$status","error":$Ok}""")
    }
  }

  private def handleResume(ex: HttpExchange, user: String): Unit = {
    val q = query(ex)
    val code = q.getOrElse("session", engine.catalog.sessionCode)
    val target =
      try engineFor(code, user, createIfAbsent = false).getOrElse(
        return reply(ex, 404,
          s"""{"error":$ErrWrongParameter,"message":"no session '$code'"}"""))
      catch {
        // the restore path mints an engine and can hit the same limits
        // as execute — surface them with their intended status, not 500
        case RoutingError(status, msg) => return reply(ex, status,
          s"""{"error":$ErrAuth,"message":${quote(msg)}}""")
      }
    def arr(xs: Seq[String]) = xs.mkString("[", ",", "]")
    try target.sessions.resumeRequest(code, user, q) match {
      case SessionService.ResumedDocument(doc) =>
        reply(ex, 200, s"""{"error":$Ok,"document":${quote(doc)}}""")
      case SessionService.ResumedListing(cols, rows) =>
        reply(ex, 200, s"""{"error":$Ok,"columns":${arr(cols.map(quote))},""" +
          s""""rows":${arr(rows.map(r => arr(r.map(quote))))}}""")
    } catch {
      case e: SessionService.AuthError =>
        reply(ex, 403, s"""{"error":$ErrAuth,"message":${quote(e.getMessage)}}""")
      // ArgSpecs.ArgError (the oph_resume descriptor) or an out-of-range
      // marker: both are wrong parameters
      case e @ (_: ArgSpecs.ArgError | _: IllegalArgumentException) =>
        reply(ex, 400, s"""{"error":$ErrWrongParameter,"message":${quote(e.getMessage)}}""")
      case _: NoSuchElementException =>
        reply(ex, 404, s"""{"error":$ErrWrongParameter,"message":"no such document"}""")
    }
  }

  // -------------------------------------------------------- helpers

  private def query(ex: HttpExchange): Map[String, String] =
    Option(ex.getRequestURI.getQuery).map(_.split('&').toSeq
      .flatMap(_.split("=", 2) match {
        case Array(k, v) => Some(k ->
          java.net.URLDecoder.decode(v, StandardCharsets.UTF_8))
        case _ => None
      }).toMap).getOrElse(Map.empty)

  private def quote(s: String): String =
    graft.render.ResponseWriter.jsonQuote(s)

  private def reply(ex: HttpExchange, code: Int, body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.add("Content-Type", "application/json")
    ex.sendResponseHeaders(code, bytes.length)
    val os = ex.getResponseBody
    try os.write(bytes) finally os.close()
  }

  private def replyHtml(ex: HttpExchange, code: Int, body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.add("Content-Type", "text/html; charset=utf-8")
    ex.sendResponseHeaders(code, bytes.length)
    val os = ex.getResponseBody
    try os.write(bytes) finally os.close()
  }
}
