package graft.server

import scala.collection.mutable

import graft.workflow.ArgSpecs

/**
 * Session management service — oph_manage_session / oph_resume /
 * oph_log_info semantics (`/root/reference/src/oph_management_operators
 * .c:461-2100`, actions `src/oph_parser.h:189-203`; role model
 * `src/oph_auth.h:79-96`; saved-request store `oph_workflow_save`
 * `src/oph_workflow_engine.c:244-288`).
 *
 * Roles are the reference's bitmask: read=1, write=2, execute=4,
 * admin=8, owner=16; grantable names resolve to the composite masks
 * (write => writer = read+write, etc.). Rendered as the reference's
 * 5-flag string `rwxao` with '-' for absent bits.
 */
object SessionService {

  val RoleNone = 0
  val RoleRead = 1
  val RoleWrite = 2
  val RoleExecute = 4
  val RoleAdmin = 8
  val RoleOwner = 16
  val RoleWriter: Int = RoleRead + RoleWrite
  val RoleAdministrator: Int = RoleAdmin + RoleExecute + RoleWriter
  val RoleAll: Int = RoleOwner + RoleAdministrator

  def parseRole(s: String): Int = s.toLowerCase match {
    case "none" | "null" => RoleNone
    case "read" | "read_force" => RoleRead
    case "write" => RoleWriter
    case "execute" => RoleExecute + RoleWriter
    case "admin" => RoleAdministrator
    case "owner" => RoleAll
    case other => throw new IllegalArgumentException(s"unknown role '$other'")
  }

  def renderRole(mask: Int): String = {
    val flags = Seq(
      (RoleRead, 'r'), (RoleWrite, 'w'), (RoleExecute, 'x'),
      (RoleAdmin, 'a'), (RoleOwner, 'o'))
    flags.map { case (bit, c) => if ((mask & bit) != 0) c else '-' }.mkString
  }

  /** Per-task job record — the reference assigns every submitted task
    * a session-scoped MARKER id and keeps its command and outcome
    * addressable through oph_resume (`src/oph_execute_main.c:
    * 2167-2900`, marker branch at :3113). `command` is the substituted
    * operator invocation; `response` the task's outcome document
    * (status + produced cube pid). */
  final case class SavedTask(
      markerId: Int,
      name: String,
      status: String,
      command: String,
      response: String,
      /** light task = a massive/loop-expanded instance (the reference's
        * `light_tasks`, filtered separately at
        * `src/oph_execute_main.c:5653`). */
      light: Boolean = false)

  final case class SavedWorkflow(
      workflowId: Int,
      request: String,
      response: String,
      parentMarker: Int = 0,
      tasks: Seq[SavedTask] = Nil,
      created: String = "",
      /** The submitting user (the reference lists workflows per
        * submitter: `MYSQL_RETRIEVE_WORKFLOWS_OF_USER_SESSION`,
        * `src/oph_execute_main.c:2791`). */
      submitter: String = "")

  /** The reference's 8-class status mask index
    * (`oph_check_status_mask`, `src/oph_execute_main.c:130-182`):
    * 0=pending 1=wait 2=running(+phases) 3=completed 4=error(+phases)
    * 5=skipped 6=aborted 7=unselected; unknown statuses match nothing. */
  def statusClass(status: String): Int = {
    val s = status.toLowerCase
    if (s == "pending") 0
    else if (s.startsWith("wait")) 1
    else if (s == "running" || s == "start" || s == "setenv" ||
      s == "set_env" || s == "init" || s == "distribute" ||
      s == "execute" || s == "reduce" || s == "destroy" ||
      s == "unsetenv" || s == "unset_env") 2
    else if (s == "completed") 3
    else if (s.contains("error") || s == "failed") 4
    else if (s == "skipped") 5
    else if (s == "aborted") 6
    else if (s == "unselected") 7
    else -1
  }

  /** Normalize a status_filter to the reference's 8-char form: '1'
    * passes the class, anything else is '0', short masks pad with '0',
    * absent/empty masks pass everything (`OPH_OPERATOR_RESUME_
    * PARAMETER_MASK`, `src/oph_parser.h:155-158`). */
  def normalizeMask(mask: String): String =
    if (mask == null || mask.isEmpty) "11111111"
    else (0 until 8).map(i =>
      if (i < mask.length && mask(i) == '1') '1' else '0').mkString

  def maskAdmits(mask: String, status: String): Boolean = {
    val c = statusClass(status)
    c >= 0 && mask(c) == '1'
  }

  final case class Session(
      code: String,
      owner: String,
      var label: String = "",
      var active: Boolean = true,
      var autoremove: Boolean = false,
      roles: mutable.Map[String, Int] = mutable.Map.empty,
      workflows: mutable.ArrayBuffer[SavedWorkflow] = mutable.ArrayBuffer.empty)

  /** One line of a session log: a session header (create, setenv,
    * grant, revoke), one saved workflow, or a removal. */
  final case class Record(session: String, header: Option[Header] = None,
      workflow: Option[SavedWorkflow] = None, removed: Boolean = false)
  final case class Header(owner: String, label: String, active: Boolean,
      autoremove: Boolean, roles: Map[String, Int], nextCode: Int)

  final class AuthError(msg: String) extends Exception(msg)

  /** What an oph_resume request answers: one saved document, or a job
    * listing as (columns, string rows). */
  sealed trait Resumed
  final case class ResumedDocument(document: String) extends Resumed
  final case class ResumedListing(columns: Seq[String],
      rows: Seq[Seq[String]]) extends Resumed
}

final class SessionService(
    /** Durable session table (the reference persists sessions in
      * OphidiaDB): codes, owners, roles, flags and saved workflow
      * documents survive a restart in a [[StateStore.Log]] of one
      * [[SessionService.Record]] per change. None = memory only. */
    stateFile: Option[java.nio.file.Path] = None) {
  import SessionService._

  private val sessions = mutable.LinkedHashMap[String, Session]()
  private val logRing = mutable.ArrayDeque[String]()
  private val maxLog = 1000
  private var nextCode = 0

  private val stateLog = stateFile.map(new StateStore.Log(_))

  // restore persisted sessions (the log ring is intentionally volatile)
  stateLog.foreach(_.replay(decode).foreach(_()))

  private def headerOf(s: Session) = Record(s.code, header = Some(Header(
    s.owner, s.label, s.active, s.autoremove, s.roles.toMap, nextCode)))

  /** One log line back into the change it records. */
  private def decode(n: com.fasterxml.jackson.databind.JsonNode): () => Unit = {
    val r = StateStore.mapper.treeToValue(n, classOf[Record])
    (r.header, r.workflow, r.removed) match {
      case (Some(h), None, false) => () => {
        val s = sessions.getOrElseUpdate(r.session, Session(r.session, h.owner))
        s.label = h.label; s.active = h.active; s.autoremove = h.autoremove
        s.roles.clear(); s.roles ++= h.roles
        nextCode = h.nextCode
      }
      case (None, Some(w), false) =>
        () => sessions.get(r.session).foreach(_.workflows += w)
      case (None, None, true) => () => sessions.remove(r.session)
      case _ => throw new IllegalArgumentException("not one session change")
    }
  }

  /** Log one change. An empty table deletes the file: the HTTP layer
    * reads an existing file as "restorable", so a lingering one would
    * let a later requester re-mint (and own) a removed session's code. */
  private def persist(record: Record): Unit = stateLog.foreach { store =>
    def line(r: Record) = StateStore.mapper.writeValueAsString(r)
    if (sessions.isEmpty) store.delete()
    else store.append(line(record), sessions.values.map(1 + _.workflows.size).sum)(
      sessions.values.flatMap(s => (headerOf(s) +:
        s.workflows.map(w => Record(s.code, workflow = Some(w)))).map(line)))
  }

  // ------------------------------------------------------------- log

  def log(msg: String): Unit = synchronized {
    logRing.append(msg)
    if (logRing.size > maxLog) logRing.removeHead()
  }

  /** oph_log_info: last n lines of the engine log ring. */
  def tailLog(n: Int): Seq[String] = synchronized(logRing.takeRight(n).toSeq)

  // -------------------------------------------------------- sessions

  private def roleOf(s: Session, user: String): Int =
    if (s.owner == user) RoleAll else s.roles.getOrElse(user, RoleNone)

  /** Authorization check for the service layer: does `user` hold every
    * bit of `mask` on session `code`? Unknown sessions grant nothing. */
  def hasRole(code: String, user: String, mask: Int): Boolean = synchronized {
    sessions.get(code).exists(s => (roleOf(s, user) & mask) == mask)
  }

  /** Is `code` registered here? (Service-layer squat check.) */
  def exists(code: String): Boolean = synchronized(sessions.contains(code))

  /** Owner of `code`, when registered. */
  def ownerOf(code: String): Option[String] =
    synchronized(sessions.get(code).map(_.owner))

  /** Does `code` ask to be garbage-collected when idle? (The reference's
    * session `autoremove` property, `src/oph_parser.h:202` — an
    * autoremove session is reaped by the server instead of living until
    * explicit removal.) */
  def autoremoveEnabled(code: String): Boolean =
    synchronized(sessions.get(code).exists(_.autoremove))

  private def require_(cond: Boolean, msg: String): Unit =
    if (!cond) throw new AuthError(msg)

  def newSession(owner: String, label: String = "",
      code: Option[String] = None): Session = synchronized {
    nextCode += 1
    val c = code.getOrElse(f"sess$nextCode%04d")
    require(!sessions.contains(c), s"session '$c' exists")
    val s = Session(c, owner, label)
    sessions(s.code) = s
    log(s"session ${s.code} created by $owner")
    persist(headerOf(s))
    s
  }

  /** action=list: sessions the user can at least read. */
  def list(user: String): Seq[Session] = synchronized {
    sessions.values.toSeq.filter(s => (roleOf(s, user) & RoleRead) != 0)
  }

  /** action=env: session properties key/values. */
  def env(code: String, user: String): Map[String, String] = synchronized {
    val s = get(code)
    require_((roleOf(s, user) & RoleRead) != 0, s"$user cannot read $code")
    Map("session" -> s.code, "label" -> s.label, "owner" -> s.owner,
      "active" -> s.active.toString, "autoremove" -> s.autoremove.toString,
      "users" -> s.roles.size.toString)
  }

  /** action=listusers. */
  def listUsers(code: String, user: String): Seq[(String, String)] = synchronized {
    val s = get(code)
    require_((roleOf(s, user) & RoleRead) != 0, s"$user cannot read $code")
    (s.owner -> renderRole(RoleAll)) +:
      s.roles.toSeq.map { case (u, m) => u -> renderRole(m) }
  }

  /** action=setenv: key in {label, active, autoremove}. */
  def setenv(code: String, user: String, key: String, value: String): Unit =
    synchronized {
      val s = get(code)
      require_((roleOf(s, user) & RoleAdmin) != 0, s"$user cannot setenv on $code")
      key match {
        case "label" => s.label = value
        case "active" => s.active = value.equalsIgnoreCase("yes") ||
          value.equalsIgnoreCase("true")
        case "autoremove" => s.autoremove = value.equalsIgnoreCase("yes") ||
          value.equalsIgnoreCase("true")
        case other => throw new IllegalArgumentException(s"unknown key '$other'")
      }
      log(s"session $code setenv $key=$value by $user")
      persist(headerOf(s))
    }

  /** action=grant / revoke (admin-or-owner only). */
  def grant(code: String, user: String, target: String, role: String): Unit =
    synchronized {
      val s = get(code)
      require_((roleOf(s, user) & RoleAdmin) != 0, s"$user cannot grant on $code")
      require_(target != s.owner, "owner role is immutable")
      s.roles(target) = parseRole(role)
      log(s"session $code grant $target=$role by $user")
      persist(headerOf(s))
    }

  def revoke(code: String, user: String, target: String): Unit = synchronized {
    val s = get(code)
    require_((roleOf(s, user) & RoleAdmin) != 0, s"$user cannot revoke on $code")
    s.roles.remove(target)
    log(s"session $code revoke $target by $user")
    persist(headerOf(s))
  }

  /** action=disable / enable / remove (owner only for remove). */
  def setActive(code: String, user: String, active: Boolean): Unit =
    setenv(code, user, "active", if (active) "yes" else "no")

  /** Server-side removal without an acting user — the autoremove
    * reaper's path (the reference's session GC); also forgets the
    * session in the persisted state. */
  private[server] def purge(code: String): Unit = synchronized {
    sessions.remove(code)
    log(s"session $code purged (autoremove)")
    persist(Record(code, removed = true))
  }

  def remove(code: String, user: String): Unit = synchronized {
    val s = get(code)
    require_(s.owner == user, s"only the owner can remove $code")
    require_(!s.active, "disable the session before removing it")
    sessions.remove(code)
    log(s"session $code removed by $user")
    persist(Record(code, removed = true))
  }

  private def get(code: String): Session =
    sessions.getOrElse(code,
      throw new NoSuchElementException(s"no session '$code'"))

  // ------------------------------------------- resume / accounting

  /** oph_workflow_save analog: record the request + response document,
    * the workflow's own marker id, and every task's job record. */
  def saveWorkflow(code: String, request: String, response: String,
      parentMarker: Int = 0, tasks: Seq[SavedTask] = Nil,
      submitter: String = ""): Int =
    synchronized {
      sessions.get(code) match {
        case Some(s) =>
          val id = s.workflows.size + 1
          val created = java.time.format.DateTimeFormatter
            .ofPattern("yyyy-MM-dd HH:mm:ss")
            .format(java.time.LocalDateTime.now())
          s.workflows += SavedWorkflow(id, request, response,
            parentMarker, tasks, created, submitter)
          log(s"session $code workflow $id saved")
          persist(Record(code, workflow = Some(s.workflows.last)))
          id
        case None =>
          // the workflow itself may have removed its own session
          // (oph_manage_session action=remove) — nothing to save INTO,
          // but the run must still complete normally
          log(s"session $code gone before save (removed mid-run)")
          0
      }
    }

  /** Session report (`src/oph_session_report.h:29-31`:
    * `oph_session_report_append_command/link` render the per-session
    * browsable HTML log of submitted commands with links to their
    * output documents). Requires the Read role, like `resume`. The
    * links target the resume route so a browser can walk from the
    * report straight to each saved request/response document. */
  def report(code: String, user: String): String = synchronized {
    val s = get(code)
    require_((roleOf(s, user) & RoleRead) != 0, s"$user cannot read $code")
    def esc(t: String): String = t
      .replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
      .replace("\"", "&quot;")
    // command cell: the workflow NAME when the request parses, else
    // the head of the raw text — the reference logs the submitted
    // command string per (workflowid, markerid). ONE mapper for the
    // whole render: ObjectMapper is expensive and this method holds
    // the service monitor.
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def describe(req: String): String =
      try {
        val n = mapper.readTree(req)
        Option(n.get("name")).map(_.asText).getOrElse(req.take(80))
      } catch { case _: Exception => req.take(80) }
    val rows = s.workflows.map { w =>
      val base = s"/services/resume?session=${esc(code)}&id=${w.workflowId}"
      s"""<tr><td>${w.workflowId}</td>
         |<td>${esc(describe(w.request))}</td>
         |<td><code>${esc(w.request.take(200))}</code></td>
         |<td><a href="$base&document_type=request">request</a>
         |<a href="$base&document_type=response">response</a></td></tr>"""
        .stripMargin
    }.mkString("\n")
    s"""<!DOCTYPE html>
       |<html><head><meta charset="utf-8">
       |<title>Session ${esc(code)}</title></head>
       |<body><h1>Session ${esc(code)}${
          if (s.label.nonEmpty) " — " + esc(s.label) else ""}</h1>
       |<p>owner: ${esc(s.owner)} · ${s.workflows.size} workflow(s)</p>
       |<table border="1" cellpadding="4">
       |<tr><th>#</th><th>workflow</th><th>command</th><th>documents</th></tr>
       |$rows
       |</table></body></html>""".stripMargin
  }

  /** oph_resume (`src/oph_execute_main.c:2167-2320`) — the one
    * implementation behind the operator and the `/services/resume`
    * route. `code` is the already-resolved session; `args` are the
    * operator's arguments, validated by the `oph_resume` descriptor
    * (a wrong parameter throws [[ArgSpecs.ArgError]]). `id` is an
    * integer >= 0 or a token (`src/oph_parser.h:160-161`): `last` = the
    * newest document, `all` or 0 = the listing. `user` in `args` is
    * the reference's submitter filter for listings
    * (`oph_execute_main.c:2791`), never an impersonation handle: ACLs
    * check the acting `user`. */
  def resumeRequest(code: String, user: String,
      args: Map[String, String]): Resumed = {
    ArgSpecs.validate("oph_resume", args, hasDeps = false,
      checkValues = true)
    val idArg = args.getOrElse("id", "0")
    val wantLast = idArg.equalsIgnoreCase("last")
    val id =
      if (wantLast || idArg.equalsIgnoreCase("all")) 0
      else idArg.toIntOption.filter(_ >= 0).getOrElse(throw new
        ArgSpecs.ArgError(s"oph_resume: wrong parameter id '$idArg'"))
    val level = args.getOrElse("level", "1").toInt
    val markerArg = args.get("id_type").contains("marker")
    // reference normalization (:2293-2320): level 4/5 recycle the
    // marker listing with `id` demoted to a workflow filter, level 4
    // listing requests and level 5 both documents
    val recycle = level > 3
    if (recycle && markerArg)
      throw new ArgSpecs.ArgError("oph_resume: wrong parameter 'level' " +
        "(marker filter cannot combine with level > 3)")
    val marker = markerArg || recycle
    val docType =
      if (level == 4) "request"
      else args.getOrElse("document_type", "response")
    def fetch(id: Int): String =
      if (marker) resumeMarker(code, user, id, docType)
      else resume(code, user, id, docType)
    if (wantLast) ResumedDocument(fetch(if (marker) lastMarker(code) else 0))
    else if (id == 0 || recycle) {
      val (cols, rows) = resumeList(code, user,
        if (marker) "marker" else "workflow",
        if (level == 5) "both" else docType, math.min(level, 3),
        args.getOrElse("status_filter", "11111111"),
        wid = if (recycle) id else 0, args.get("user").filter(_.nonEmpty))
      ResumedListing(cols, rows)
    } else ResumedDocument(fetch(id))
  }

  /** oph_resume: retrieve a saved request or response
    * (`document_type=request|response`); workflowId 0 = latest. */
  def resume(code: String, user: String, workflowId: Int,
      documentType: String): String = synchronized {
    val s = get(code)
    require_((roleOf(s, user) & RoleRead) != 0, s"$user cannot read $code")
    val wf =
      if (workflowId <= 0) s.workflows.lastOption
      else s.workflows.find(_.workflowId == workflowId)
    val doc = wf.getOrElse(
      throw new NoSuchElementException(s"no workflow $workflowId in $code"))
    if (documentType == "request") doc.request else doc.response
  }

  /** oph_resume with `id_type=marker`: one TASK's document by its
    * session-scoped marker id (`src/oph_execute_main.c:3113`: a marker
    * beyond the session's last is a wrong-parameter error, a missing
    * one inside the range resolves to nothing). */
  def resumeMarker(code: String, user: String, marker: Int,
      documentType: String): String = synchronized {
    val s = get(code)
    require_((roleOf(s, user) & RoleRead) != 0, s"$user cannot read $code")
    // markers mint from 1; 0 is outside the id space (it would match
    // pre-marker-era records whose parentMarker defaulted to 0). A
    // session with NO job records yet is a not-found condition (e.g.
    // id=last on a fresh session), not a wrong parameter.
    val last = lastMarker(code)
    if (last < 1)
      throw new NoSuchElementException(s"no job records in $code")
    if (marker < 1 || marker > last)
      throw new IllegalArgumentException(
        s"marker $marker out of range (last is $last)")
    val hit = s.workflows.iterator.flatMap { w =>
      if (w.parentMarker == marker)
        Some(if (documentType == "request") w.request else w.response)
      else w.tasks.find(_.markerId == marker).map(t =>
        if (documentType == "request") t.command else t.response)
    }.nextOption()
    hit.getOrElse(throw new NoSuchElementException(
      s"no document for marker $marker in $code"))
  }

  /** Highest marker id recorded in the session (the reference's
    * OPH_SESSION_LAST_MARKER session property). */
  def lastMarker(code: String): Int = synchronized {
    sessions.get(code).map(s => (0 +: s.workflows.flatMap(w =>
      w.parentMarker +: w.tasks.map(_.markerId))).max).getOrElse(0)
  }

  /** Aggregate workflow exit status from its task records: any error
    * class -> ERROR, else any abort -> ABORTED, else COMPLETED (the
    * reference reads the jobs table; our store derives it). */
  def workflowStatus(w: SavedWorkflow): String =
    if (w.tasks.exists(t => statusClass(t.status) == 4)) "Error"
    // aborted OR still-pending tasks in a SAVED record both mean the
    // run was cancelled (stop leaves the unscheduled remainder
    // Pending; the reference marks the workflow ABORTED either way)
    else if (w.tasks.exists(t =>
      statusClass(t.status) == 6 || statusClass(t.status) == 0)) "Aborted"
    else "Completed"

  /** oph_resume listing (`id=0` in the reference,
    * `src/oph_execute_main.c:2391` "Return a JSON Response with the
    * list of oph_jobid submitted within the target session"):
    *
    *  - `idType=workflow`: one row per saved workflow; the trailing
    *    column is COMMAND (`documentType=request`), PROGRESS RATIO
    *    (`level=0`) or EXIT STATUS (otherwise) — reference `num_fields`
    *    selection at :2382 and the level-0 PROGRESS RATIO branch.
    *  - `idType=marker`: one row per task job with PARENT MARKER ID,
    *    mask-filtered on the task status (`oph_check_status_mask`
    *    applications at :4791 and :5653); `level>=3` includes light
    *    (loop/massive-expanded) task instances, lower levels list only
    *    top-level tasks.
    *  - `wid>0` (the reference's level-4/5 recycle): only that
    *    workflow's markers.
    *
    * Returns (columns, rows) for the caller to render as a Grid. */
  def resumeList(code: String, user: String, idType: String,
      documentType: String, level: Int, mask: String,
      wid: Int = 0,
      /** submitter filter (the reference resume `user` argument) —
        * None lists everyone's jobs. */
      submitter: Option[String] = None)
      : (Seq[String], Seq[Seq[String]]) = synchronized {
    val s = get(code)
    require_((roleOf(s, user) & RoleRead) != 0, s"$user cannot read $code")
    val m = normalizeMask(mask)
    val base = Seq("OPH JOB ID", "SESSION CODE", "WORKFLOW ID",
      "MARKER ID", "CREATION DATE")
    val wanted = {
      val base =
        if (wid > 0) s.workflows.toSeq.filter(_.workflowId == wid)
        else s.workflows.toSeq
      submitter.fold(base)(u => base.filter(_.submitter == u))
    }
    def jobId(wfId: Int, marker: Int) = s"$code#$wfId#$marker"
    if (idType == "marker") {
      val docCols =
        if (documentType == "request") Seq("COMMAND")
        else if (documentType == "both") Seq("COMMAND", "EXIT STATUS")
        else Seq("EXIT STATUS")
      val cols = base ++ Seq("PARENT MARKER ID") ++ docCols
      val rows = for {
        w <- wanted
        t <- w.tasks
        if level >= 3 || !t.light
        if maskAdmits(m, t.status)
      } yield Seq(jobId(w.workflowId, t.markerId), code,
        w.workflowId.toString, t.markerId.toString, w.created,
        w.parentMarker.toString) ++ (documentType match {
          case "request" => Seq(t.command)
          case "both" => Seq(t.command, t.status)
          case _ => Seq(t.status)
        })
      (cols, rows)
    } else {
      val lastCol =
        if (documentType == "request") "COMMAND"
        else if (level == 0) "PROGRESS RATIO"
        else "EXIT STATUS"
      val cols = base :+ lastCol
      def progress(w: SavedWorkflow): String =
        if (w.tasks.isEmpty) "1.000000"
        else "%.6f".format(w.tasks.count(t =>
          statusClass(t.status) == 3).toDouble / w.tasks.size)
      val rows = wanted
        .filter(w => maskAdmits(m, workflowStatus(w)))
        .map(w => Seq(jobId(w.workflowId, w.parentMarker), code,
          w.workflowId.toString, w.parentMarker.toString, w.created,
          if (documentType == "request") w.request
          else if (level == 0) progress(w)
          else workflowStatus(w)))
      (cols, rows)
    }
  }
}
