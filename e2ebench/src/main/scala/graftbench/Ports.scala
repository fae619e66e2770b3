package graftbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.core.{Catalog, JobStatus}
import graft.server.{AuthService, HttpService}
import graft.workflow.{Engine, Workflow}

/** The server as a deployment runs it: one engine for the default
  * session, a credential store and the HTTP service, all with their
  * durable state under `dir/state` (what GRAFT_STATE_DIR sets). */
final class Server(spark: SparkSession, dir: Path,
    users: Seq[(String, String, Boolean)]) {
  val state: Path = Files.createDirectories(dir.resolve("state"))
  val owner: String = users.head._1
  val engine = new Engine(spark, new Catalog("sess0001"), owner,
    sessionStateFile = Some(state.resolve("session-sess0001.json")),
    runStateFile = Some(state.resolve("runs-sess0001.json")))
  val auth = new AuthService(stateFile = Some(state.resolve("auth.tsv")))
  users.foreach { case (u, p, admin) => auth.addUser(u, p, admin) }
  val svc: HttpService =
    new HttpService(engine, auth, 0, stateDir = Some(state)).start()
  val base = s"http://127.0.0.1:${svc.boundPort}"

  /** Log `user` in through /services/login; the bearer header. */
  def login(user: String): String = {
    val pw = users.find(_._1 == user).get._2
    val (code, body) = new Client(base).post("/services/login", "",
      Client.basic(user, pw))
    require(code == 200, s"login of $user failed: $code $body")
    Client.bearer(Resp.tree(body).get("access_token").asText)
  }

  /** Bytes of session, run and credential state on disk right now. A
    * temp file of a rewrite in flight is skipped, and a file that is
    * renamed away between listing and sizing counts as 0. */
  def stateBytes: Long = {
    val s = Files.list(state)
    try s.iterator.asScala.filterNot(_.toString.endsWith(".tmp")).map { p =>
      try Files.size(p) catch { case _: java.nio.file.NoSuchFileException => 0L }
    }.sum finally s.close()
  }

  def close(): Unit = { svc.stop(); engine.clearCubes() }
}

/** Reply to one workflow submission: HTTP status and the envelope. */
final case class Reply(status: Int, body: String) {
  lazy val json = Resp.tree(body)
  def ok: Boolean = status == 200 && json.path("error").asInt(-1) == 0
  def objects: Seq[(String, com.fasterxml.jackson.databind.JsonNode)] =
    Resp.objects(json.path("response"))
  def obj(key: String) = objects.find(_._1 == key).map(_._2)
}

/** Outcome of an async submission once its status reads final. */
final case class AsyncDone(status: Int, polls: Int, state: String,
    tasks: () => Map[String, (String, Option[String])])

/** How a client reaches the server: over HTTP, or by direct calls to
  * the functions the HTTP handlers call. */
trait Port {
  def execute(body: String, auth: String, req: String): Reply
  def resumeLastRequest(session: String, auth: String, req: String): Reply
  def submitAsync(body: String, name: String, session: String, auth: String,
      req: String): AsyncDone
}

object Port {
  /** Parse a saved run summary "task=Status(pid);task=Status;...". */
  def summary(doc: String): Map[String, (String, Option[String])] =
    doc.split(';').toSeq.filter(_.contains("=")).map { kv =>
      val Array(k, v) = kv.split("=", 2)
      val pid = if (v.contains("(")) Some(v.substring(v.indexOf('(') + 1,
        v.lastIndexOf(')'))) else None
      k -> (v.takeWhile(_ != '('), pid)
    }.toMap
}

final class HttpPort(base: String, pollMs: Int) extends Port {
  private val c = new Client(base)

  def execute(body: String, auth: String, req: String): Reply = {
    val (s, b) = c.post("/services/execute", body, auth)
    Reply(s, b)
  }

  def resumeLastRequest(session: String, auth: String, req: String): Reply = {
    val (s, b) = c.get(s"/services/resume?session=$session&id=last" +
      "&document_type=request", auth)
    Reply(s, b)
  }

  def submitAsync(body: String, name: String, session: String, auth: String,
      req: String): AsyncDone = {
    val (s, b) = c.post("/services/execute", body, auth)
    if (s != 200) return AsyncDone(s, 0, "refused", () => Map.empty)
    val jobid = Resp.tree(b).get("jobid").asInt
    var polls = 0
    var st = "running"
    while (st == "running") {
      Thread.sleep(pollMs)
      polls += 1
      val (ps, pb) = c.get(s"/services/status?jobid=$jobid", auth)
      st = if (ps == 200) Resp.tree(pb).get("status").asText else s"http $ps"
    }
    AsyncDone(200, polls, st, () => savedTasks(name, session, auth))
  }

  /** The saved response of the workflow called `name`: newest first
    * through the session listing, matched on the saved request. */
  private def savedTasks(name: String, session: String,
      auth: String): Map[String, (String, Option[String])] = {
    val (_, lb) = c.get(s"/services/resume?session=$session&id=0", auth)
    val ids = Resp.tree(lb).get("rows").elements.asScala
      .map(_.get(2).asText.toInt).toSeq.sorted.reverse
    ids.iterator.map { id =>
      val (_, rb) = c.get(s"/services/resume?session=$session&id=$id" +
        "&document_type=request", auth)
      id -> Resp.tree(rb).path("document").asText
    }.collectFirst { case (id, doc) if doc.contains(s"\"name\":\"$name\"") =>
      val (_, db) = c.get(s"/services/resume?session=$session&id=$id" +
        "&document_type=response", auth)
      Port.summary(Resp.tree(db).path("document").asText)
    }.getOrElse(Map.empty)
  }
}

/** Direct calls, in the order `HttpService.handleExecute` makes them,
  * on an engine the benchmark builds; each call is a span. */
final class DirectPort(engineOf: String => Engine, auth: AuthService,
    spans: Spans) extends Port {
  /** Per request: task results and rendered bytes, for the layer metrics. */
  val tasksOf = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
  val renderBytesOf = new java.util.concurrent.ConcurrentHashMap[String, Integer]()

  private def runDirect(body: String, auth0: String, req: String,
      render: Boolean): (Workflow.Spec, Map[String, Engine.TaskResult], String) = {
    val user = spans.timed("server.auth", req)(
      auth.authenticate(Some(auth0), "127.0.0.1"))
      .getOrElse(throw new IllegalStateException("direct auth refused"))
    val spec = spans.timed("workflow.parse", req)(Workflow.parse(body))
    spans.timed("workflow.validate", req)(Workflow.validate(spec))
    val eng = engineOf(spec.sessionId.getOrElse("sess0001"))
    val wfId = eng.reserveWorkflowId()
    val results = spans.timed("workflow.run", req)(
      eng.runRequest(spec, Some(body), presetId = Some(wfId),
        submitter = Some(user)))
    tasksOf.put(req, results.size)
    val rendered =
      if (!render) ""
      else {
        // the engine clears its job tags when the run returns; tag the
        // render's grid collects so they count toward this request
        eng.spark.sparkContext.setJobDescription(spec.name)
        try spans.timed("render", req)(
          eng.renderResponse(spec.name, results, spec.outputFormat))
        finally eng.spark.sparkContext.setJobDescription(null)
      }
    renderBytesOf.put(req, rendered.length)
    (spec, results, rendered)
  }

  def execute(body: String, auth0: String, req: String): Reply = {
    val (_, results, rendered) = runDirect(body, auth0, req, render = true)
    val failed = results.values.exists(_.status == JobStatus.Error)
    Reply(200, s"""{"jobid":0,"error":${if (failed) 3 else 0},"response":$rendered}""")
  }

  def resumeLastRequest(session: String, auth0: String, req: String): Reply = {
    val user = spans.timed("server.auth", req)(
      auth.authenticate(Some(auth0), "127.0.0.1")).get
    val doc = spans.timed("server.resume", req)(
      engineOf(session).sessions.resume(session, user, 0, "request"))
    Reply(200, s"""{"error":0,"document":${Js.str(doc)}}""")
  }

  def submitAsync(body: String, name: String, session: String, auth0: String,
      req: String): AsyncDone = {
    val (_, results, _) = runDirect(body, auth0, req, render = false)
    val st = if (results.values.exists(_.status == JobStatus.Error)) "error"
      else "completed"
    AsyncDone(200, 0, st, () => results.map { case (k, r) =>
      k -> (r.status.toString, r.cubePid) })
  }
}
