package graft.workflow

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.InternalRowBridge

import graft.core.{Catalog, Grid, JobStatus, MassiveFilter, ResponseObject,
  Subset, TextObj}
import graft.cube.{Cube, CubeOps}
import graft.functions.ArrayPrimitives
import graft.render.ResponseWriter

/**
 * Workflow engine v1 — the driver-side scheduler that the reference
 * implements as `oph_workflow_execute` + flow-control dispatch
 * (`/root/reference/src/oph_workflow_engine.c:1706`,
 * `src/oph_flow_control_operators.c`). Spark jobs are the task bodies;
 * flow control (for/if/set/wait/input) runs on the driver; massive
 * filters fan one task out over many cubes
 * (`src/oph_workflow_engine.c:843-1079`).
 *
 * Execution walks the task list in order (flow-control blocks are
 * positional) after DAG validation; data results flow to dependants via
 * the minted cube PID, exactly like the reference harvests output PIDs
 * into dependent task arguments (`oph_workflow_engine.c:3359+`).
 */
object Engine {

  final case class TaskResult(
      status: JobStatus.Value,
      cubePid: Option[String] = None,
      /** The task's answer grid, built inside the task (on its thread,
        * under the workflow's job group) and capped at
        * `ResponseWriter.MaxGridRows` rows: data, not a plan, so
        * rendering, checkpoint replay and the run store take it as is. */
      grid: Option[Grid] = None,
      message: String = "",
      /** Fan-out producers (massive cube/file expansion) list EVERY
        * minted pid here — dependency `output_order` indexes this,
        * never the human-facing message. */
      outputs: Seq[String] = Seq.empty,
      /** Extra fully-rendered response objects beyond the main grid —
        * the reference emits several objkeys per operator (e.g.
        * explorecube_data + _summary + _dimvalues,
        * `oph_json_objkeys.h:81-83`). */
      aux: Seq[ResponseObject] = Seq.empty)

  final class EngineError(msg: String) extends Exception(msg)

  /** kill/abort/stop -> the reference's cancel_type chars
    * (`src/oph_parser.h:174-176`) — ONE table for the operator and the
    * HTTP route, so the two surfaces cannot drift. */
  def parseCancelType(s: String): Option[Char] = s.toLowerCase match {
    case "kill" => Some('k')
    case "abort" => Some('a')
    case "stop" => Some('s')
    case _ => None
  }

  /** Admission refusal (QUEUE_SIZE exceeded) — its own type so the
    * HTTP layer can answer 429 instead of a generic 500. */
  final class QueueFullError(msg: String) extends Exception(msg)

  /** Checkpoint-store bound: at most this many workflow names keep a
    * replayable last run (arbitrary entries beyond it age out). */
  val MaxLastRuns = 64

  /** Per-engine job-group nonce source (see `jobGroupOf`). */
  private val nonceSeq = new java.util.concurrent.atomic.AtomicInteger(0)

  /** One shared HTTP client for remote-drop transfers: per-call
    * construction leaks a selector thread each time. Redirects are
    * NOT auto-followed — the JDK client re-sends caller-set headers on
    * redirect, which would leak the netrc Authorization to whatever
    * host a 302 points at; the b2drop handler follows SAME-HOST
    * redirects itself (http->https upgrades) and refuses cross-host
    * ones. */
  private[workflow] lazy val dropClient = java.net.http.HttpClient
    .newBuilder()
    .followRedirects(java.net.http.HttpClient.Redirect.NEVER)
    .connectTimeout(java.time.Duration.ofSeconds(10))
    .build()

  /** The operator surface (for oph_operators_list introspection —
    * mirrors the reference objkey vocabulary `oph_json_objkeys.h:27-173`). */
  val operatorList: Seq[String] = Seq(
    "oph_importnc", "oph_importnc2", "oph_importncs", "oph_importcsv",
    "oph_concatnc", "oph_concatnc2", "oph_randcube", "oph_randcube2",
    "oph_createcontainer", "oph_deletecontainer", "oph_restorecontainer",
    "oph_movecontainer",
    "oph_delete", "oph_folder", "oph_fs", "oph_list", "oph_search",
    "oph_find", "oph_publish", "oph_unpublish", "oph_b2drop",
    "oph_subset", "oph_subset2", "oph_reduce", "oph_reduce2",
    "oph_aggregate", "oph_aggregate2", "oph_apply", "oph_intercube",
    "oph_intercube2", "oph_mergecubes", "oph_mergecubes2", "oph_duplicate",
    "oph_merge", "oph_split", "oph_permute", "oph_rollup", "oph_drilldown",
    "oph_cubeschema", "oph_cubesize", "oph_cubeelements", "oph_cubeio",
    "oph_explorecube", "oph_explorenc", "oph_inspectfrag", "oph_metadata",
    "oph_showgrid", "oph_hierarchy", "oph_man", "oph_operators_list",
    "oph_primitives_list", "oph_script", "oph_exportcsv", "oph_exportnc",
    "oph_exportnc2", "oph_instances", "oph_tasks", "oph_loggingbk",
    "oph_for", "oph_endfor", "oph_if", "oph_elseif", "oph_else",
    "oph_endif", "oph_set", "oph_wait", "oph_input",
    "oph_cancel", "oph_manage_session", "oph_log_info", "oph_cluster",
    "oph_get_config", "oph_resume", "oph_service", "oph_sql")

  /** Array-primitive surface (oph_primitives_list). */
  val primitiveList: Seq[String] = Seq(
    "oph_sum_scalar", "oph_mul_scalar", "oph_abs", "oph_log", "oph_sqrt",
    "oph_pow", "oph_negate", "oph_sum_array", "oph_sub_array",
    "oph_mul_array", "oph_div_array", "oph_predicate", "oph_max", "oph_min",
    "oph_sum", "oph_avg", "oph_count", "oph_std", "oph_var", "oph_arg_max",
    "oph_arg_min", "oph_quantile", "oph_moving_avg", "oph_boxplot",
    "oph_reverse", "oph_head", "oph_tail",
    "oph_sort", "oph_gsl_sort", "oph_shift", "oph_rotate", "oph_padding",
    "oph_extend", "oph_interlace", "oph_concat", "oph_find",
    "oph_gsl_histogram", "oph_gsl_fft", "oph_gsl_sd", "oph_gsl_quantile",
    "oph_gsl_boxplot", "oph_gsl_dwt",
    // round 7 additions
    "oph_math", "oph_max_array", "oph_min_array", "oph_arg_max_array",
    "oph_arg_min_array", "oph_mask", "oph_replace", "oph_vector",
    "oph_scalar2array", "oph_cast", "oph_convert_d", "oph_accumulate",
    "oph_cumulative", "oph_cumsum", "oph_deaccumulate",
    "oph_get_subarray", "oph_get_subarray2", "oph_gsl_stats",
    "oph_operator", "oph_append", "oph_count_array", "oph_gsl_ifft",
    "oph_gsl_complex_get_real", "oph_gsl_complex_get_imag",
    "oph_gsl_complex_get_abs", "oph_gsl_complex_get_arg")

  /** Concept hierarchies (oph_hierarchy; the reference ships XML
    * hierarchy documents — time levels drive aggregate2/reduce2). */
  val hierarchies: Map[String, Seq[String]] = Map(
    "oph_time" -> Seq("second", "minute", "hour", "day", "week", "month",
      "quarter", "year"))

  /** Concept-level -> derived-column expression for aggregate2/reduce2
    * over a time dimension (the reference's hierarchy XML levels). */
  def conceptLevelExpr(level: String): (org.apache.spark.sql.Column
      => org.apache.spark.sql.Column, String) = level.toLowerCase match {
    case "year" => (d => date_format(d, "yyyy"), "year")
    case "quarter" =>
      (d => concat_ws("Q", date_format(d, "yyyy"),
        quarter(d).cast("string")), "quarter")
    case "month" => (d => date_format(d, "yyyy-MM"), "month")
    case "week" =>
      // week-based date_format patterns ('Y') throw since Spark 3.0;
      // the ISO week-year is the year of the Thursday of the same ISO
      // week (dayofweek is 1=Sun..7=Sat -> iso dow = pmod(dow+5,7)+1)
      (d => {
        val isoDow = pmod(dayofweek(d) + 5, lit(7)) + 1
        concat_ws("W",
          year(date_add(d, (lit(4) - isoDow).cast("int"))).cast("string"),
          lpad(weekofyear(d).cast("string"), 2, "0"))
      }, "week")
    case "day" => (d => date_format(d, "yyyy-MM-dd"), "day")
    case "hour" => (d => date_format(d, "yyyy-MM-dd HH"), "hour")
    case "minute" => (d => date_format(d, "yyyy-MM-dd HH:mm"), "minute")
    case "second" => (d => date_format(d, "yyyy-MM-dd HH:mm:ss"), "second")
    case other =>
      throw new Engine.EngineError(s"unknown concept level '$other'")
  }

  /** An oph_input message completing an input-wait: variable names and
    * values to inject into the waiting scope, plus the action deciding
    * the wait outcome (`oph_flow_control_operators.c:1234-1246`). */
  final case class InputMessage(names: Seq[String], values: Seq[String],
      action: String)
}

final class Engine(
    val spark: SparkSession,
    val catalog: Catalog,
    val user: String = "graft",
    /** Injectable clock (oph_wait sleeps) — tests pass a no-op or a
      * virtual clock; production uses the real one. The reference polls
      * in 1 s steps (`oph_flow_control_operators.c:270`). */
    val sleeper: Long => Unit = Thread.sleep(_),
    /** Cube-store cap; <=0 reads `spark.graft.cubeStoreMax` (default
      * 4096). The reference parks cube data in OphidiaDB where it costs
      * the server nothing; here every registered cube pins a DataFrame
      * plan in driver memory, so a long-lived engine needs a bound. */
    maxCubes: Int = 0,
    /** Durable session-table file (roles, flags, saved workflow
      * documents survive a restart — the reference's OphidiaDB session
      * persistence). None = memory only. */
    sessionStateFile: Option[java.nio.file.Path] = None,
    /** Durable workflow-run store — the reference's `oph_workflow_save`
      * (`src/oph_workflow_engine.c:244-288`): each completed-or-aborted
      * run's request document and every task's result (status, output
      * pids and its answer: message, grid and aux objects) persist, so
      * a RESTARTED server honors `checkpoint` requests and a replayed
      * task renders exactly as it did. Cubes do not survive a restart,
      * so entries whose cubes are gone re-execute and re-create the
      * lineage deterministically; tasks with no cube output replay
      * directly. None = memory only. */
    runStateFile: Option[java.nio.file.Path] = None) {

  import Engine._

  // the engine's planner strategies, on sessions built without
  // spark.sql.extensions (the server's and the benchmark's)
  graft.GraftExtensions.install(spark)

  /** Data-plane store: PID -> materialized cube (concurrent: parallel
    * oph_for branches register cubes simultaneously). */
  private val cubes = scala.collection.concurrent.TrieMap[String, Cube]()

  /** User-deployed host partitions (oph_cluster deploy/undeploy,
    * `oph_management_operators.c:2736`): name -> host count. Imports
    * naming a `host_partition` inherit its nhost as their
    * fragmentation default. */
  private val hostPartitions =
    scala.collection.concurrent.TrieMap[String, Int]()

  /** LRU bookkeeping for the cube store: every lookup/registration
    * stamps a monotone tick; past the cap the stalest PID is dropped.
    * A dangling reference to an evicted cube fails loudly ("no such
    * cube") rather than serving stale data — mirroring the reference's
    * session-expired cube behavior (session cleanup removes cubes,
    * `oph_manage_session` + OphidiaDB GC). */
  private val cubeCap: Int =
    if (maxCubes > 0) maxCubes
    else spark.conf.getOption("spark.graft.cubeStoreMax")
      .flatMap(_.toIntOption).getOrElse(4096)
  private val cubeTick = new java.util.concurrent.atomic.AtomicLong(0)
  private val cubeAccess = scala.collection.concurrent.TrieMap[String, Long]()

  private def touchCube(pid: String): Unit =
    cubeAccess(pid) = cubeTick.incrementAndGet()

  /** Cubes pinned by in-flight workflow runs, refcounted by PID. A
    * pinned cube is exempt from LRU eviction: with the store at cap
    * and several admitted workflows between producing a cube and
    * consuming it, pure LRU could evict a cube an admitted run still
    * needs — its dependency lookup then fails "no such cube" (the
    * storm-soak race). run() pins each task's output cubes as they
    * complete and unpins them all in its finally, re-trimming to cap,
    * so the cap is soft only while every resident cube is live. */
  private val cubePins = scala.collection.mutable.HashMap[String, Int]()
  private def pinCube(pid: String): Unit =
    cubePins.synchronized { cubePins(pid) = cubePins.getOrElse(pid, 0) + 1 }
  private def unpinCube(pid: String): Unit =
    cubePins.synchronized {
      cubePins.get(pid) match {
        case Some(n) if n > 1 => cubePins(pid) = n - 1
        case Some(_) => cubePins.remove(pid)
        case None =>
      }
    }

  /** Per-thread pin hook active while a workflow task executes, so
    * register() can pin a cube AT BIRTH — before its own evictExcess
    * runs. Pinning only after runDataOperator returns leaves a window
    * where the just-registered cube is the sole unpinned resident and
    * eviction pressure lands exactly on it (the storm soak hit this:
    * with every older cube pinned by live runs, the next register's
    * eviction evicted the newborn). runDataOperator runs synchronously
    * on the task's thread, including massive/importncs recursion, so a
    * ThreadLocal set around the call covers every register beneath it. */
  private val runPinContext = new ThreadLocal[String => Unit]()

  /** Remove one cube from the store, releasing any cached blocks its
    * plan holds. Single exit point for oph_delete, on_exit actions and
    * LRU eviction. */
  def dropCube(pid: String): Boolean = {
    cubeAccess.remove(pid)
    cubes.remove(pid) match {
      case Some(c) => c.df.unpersist(blocking = false); true
      case None => false
    }
  }

  /** Release the whole store (session close / engine eviction). */
  def clearCubes(): Unit = cubes.keySet.foreach(dropCube)

  /** Workflows currently executing on this engine — the session reaper
    * must not evict an engine mid-run. */
  private val activeRuns = new java.util.concurrent.atomic.AtomicInteger(0)
  def runningCount: Int = activeRuns.get

  // ------------------------------------------------ admission control
  // The reference's knobs (`/root/reference/src/oph_gather.h:63-65`,
  // `etc/server.conf.in:28-30`, defaults 0 = unlimited):
  //  - QUEUE_SIZE: with a farm of F, runs F+1..F+Q WAIT for a farm
  //    slot and the (F+Q+1)th concurrent workflow is REFUSED
  //    (`oph_job_list.c:104` rejects when counter >= farm + queue);
  //  - TASK_LIMIT: at most this many data tasks EXECUTE concurrently;
  //    excess submissions wait (`oph_rmanager.c:795-806` blocks on a
  //    condition until running < limit).
  // CORE_LIMIT is deliberately Spark's: executor cores and scheduler
  // pools are the cluster manager's admission domain here, not the
  // workflow engine's. Knobs read once at engine construction from
  // the session conf.
  private[graft] val farmSize: Int =
    spark.conf.getOption("spark.graft.serverFarmSize")
      .flatMap(_.toIntOption).getOrElse(128)
  private[graft] val queueSize: Int =
    spark.conf.getOption("spark.graft.queueSize")
      .flatMap(_.toIntOption).getOrElse(0)
  private[graft] val taskLimit: Int =
    spark.conf.getOption("spark.graft.taskLimit")
      .flatMap(_.toIntOption).getOrElse(0)
  private val farmPermits =
    new java.util.concurrent.Semaphore(math.max(farmSize, 1), true)
  private val taskPermits =
    if (taskLimit > 0) new java.util.concurrent.Semaphore(taskLimit, true)
    else null
  private val tasksExecuting = new java.util.concurrent.atomic.AtomicInteger(0)
  @volatile private var tasksPeak = 0
  /** Highest observed concurrent data-task count (tests pin the bound). */
  def taskConcurrencyPeak: Int = tasksPeak

  /** Refuse past the cap — callers (HTTP execute) pre-check so an
    * over-quota submission answers 429 before any work is admitted. */
  def checkAdmission(): Unit = refuseIfFull(activeRuns.get)

  /** The QUEUE_SIZE cap: `running` active runs leave no slot. */
  private def refuseIfFull(running: Int): Unit =
    if (queueSize > 0 && running >= farmSize + queueSize)
      throw new Engine.QueueFullError(
        s"queue full: $farmSize running + $queueSize queued (QUEUE_SIZE)")

  /** Atomic check-AND-increment: a CAS loop so N submissions racing at
    * the cap admit exactly (farmSize+queueSize) runs — a plain
    * check-then-increment would let all N through (the reference locks
    * its job-list counter for the same reason). Throws QueueFullError
    * without incrementing when full; on success the caller owns one
    * activeRuns slot and must decrementAndGet in its finally. */
  private def admitRun(): Unit = {
    while (true) {
      val cur = activeRuns.get
      refuseIfFull(cur)
      if (activeRuns.compareAndSet(cur, cur + 1)) return
    }
  }

  /** TASK_LIMIT gate around ONE top-level data task. Applied only at
    * the workflow walk's call site — `runDataOperator` recurses for
    * massive fan-out, and re-acquiring there would self-deadlock. */
  private def withTaskPermit[T](body: => T): T =
    if (taskPermits == null) body
    else {
      taskPermits.acquire()
      try {
        val cur = tasksExecuting.incrementAndGet()
        if (cur > tasksPeak) tasksPeak = cur
        body
      } finally {
        tasksExecuting.decrementAndGet()
        taskPermits.release()
      }
    }

  /** Number of live (non-evicted) cubes — soak tests assert the bound. */
  def cubeCount: Int = cubes.size

  private def evictExcess(): Unit =
    if (cubes.size > cubeCap) cubeAccess.synchronized {
      // victims come from the UNPINNED cubes only: evicting a pinned
      // one would fail an admitted workflow's next dependency lookup.
      // One pin snapshot per pass, taken AFTER reading the store's
      // keys: register() pins a cube before inserting it, so every
      // listed cube that is pinned is pinned in the snapshot
      val resident = cubes.keys.toSeq
      val pinned = cubePins.synchronized(cubePins.keySet.toSet)
      var candidates = resident.filterNot(pinned)
      while (cubes.size > cubeCap && candidates.nonEmpty) {
        val victim = candidates.minBy(p => cubeAccess.getOrElse(p, 0L))
        candidates = candidates.filterNot(_ == victim)
        if (dropCube(victim))
          sessions.log(s"cube $victim evicted (store cap $cubeCap)")
      }
      if (cubes.size > cubeCap && candidates.isEmpty)
        sessions.log(s"cube store over cap $cubeCap: every resident " +
          "cube is pinned by a running workflow (soft-cap breach)")
    }
  private var markerId = 0
  private var workflowSeq = 0

  /** Next session-scoped marker id — every submitted job (data task,
    * skipped task, the workflow document itself) gets one, like the
    * reference's OPH_SESSION_LAST_MARKER counter. */
  private def mintMarker(): Int = synchronized { markerId += 1; markerId }

  /** Session registry + log ring + saved-workflow store (the
    * oph_manage_session / oph_resume / oph_log_info backend). A
    * restored state file already contains this engine's session — the
    * ORIGINAL owner must survive the restart, so only a genuinely new
    * code registers here. */
  val sessions = new graft.server.SessionService(sessionStateFile)
  if (!sessions.exists(catalog.sessionCode))
    sessions.newSession(user, code = Some(catalog.sessionCode))
  // a RESTORED session carries prior job records: marker minting must
  // resume past them or post-restart runs would collide marker ids and
  // resumeMarker would serve the old run's document for a new job
  markerId = sessions.lastMarker(catalog.sessionCode)

  /** Input-wait registry: (workflow id, task name) -> promise an
    * oph_input completes (the reference's waiting-task table scanned by
    * `oph_set_impl`'s has_action path,
    * `oph_flow_control_operators.c:1336-1357`). Engine-level and keyed
    * by workflow id: concurrent async runs of the SAME workflow each
    * register their own promise — a bare-name key would let run 2
    * clobber (and later remove) run 1's registration. */
  private val inputWaits = scala.collection.concurrent.TrieMap[
    (Int, String), scala.concurrent.Promise[Engine.InputMessage]]()

  /** Deliver an oph_input to a waiting task. Target resolution mirrors
    * the reference: exact taskname match (optionally scoped to the
    * `id` workflow), else THE single waiting task (ambiguous => error),
    * `oph_flow_control_operators.c:1336-1356`. */
  def deliverInput(taskname: Option[String], msg: Engine.InputMessage,
      workflowId: Option[Int] = None): Boolean = {
    // registrations are keyed by the ITERATION-suffixed name (parallel
    // for branches each own a distinct promise); a target name matches
    // its exact registration or any of its loop instances
    def nameMatches(target: String, registered: String): Boolean =
      registered == target ||
        registered.matches(java.util.regex.Pattern.quote(target) + "(_\\d+)+")
    val candidates = inputWaits.toSeq.filter { case ((wid, name), _) =>
      taskname.forall(nameMatches(_, name)) && workflowId.forall(_ == wid)
    }
    if (candidates.size > 1)
      throw new Engine.EngineError(
        "oph_input: task not found or ambiguous")
    // an action=wait handler completes the old promise, THEN registers
    // its replacement — a message landing in that gap would hit the
    // already-completed promise and be silently dropped, so retry
    // against whatever is currently registered until it lands or the
    // task stops waiting
    candidates.headOption.exists { case (key, p0) =>
      var p = p0
      var delivered = p.trySuccess(msg)
      var spins = 0
      while (!delivered && spins < 500) {
        inputWaits.get(key) match {
          case Some(p2) if p2 ne p => p = p2; delivered = p.trySuccess(msg)
          case Some(_) => Thread.sleep(2); spins += 1
          case None => spins = 500 // task finished waiting; undeliverable
        }
      }
      delivered
    }
  }

  def cube(pid: String): Option[Cube] = {
    val c = cubes.get(pid)
    if (c.isDefined) touchCube(pid)
    c
  }

  /** Register a cube in the catalog + store, minting its PID. */
  def register(c: Cube, containerName: String, folder: String = "/",
      parents: Seq[Long] = Seq.empty, sourceTask: Option[String] = None): String = {
    val cont = catalog.getOrCreateContainer(containerName, folder)
    val e = catalog.addCube(cont.id, c.desc.measure, c.desc.level,
      c.desc.metadata, parents, sourceTask)
    val pid = e.pid(catalog)
    // stamp BEFORE inserting: a concurrent evictExcess must never see
    // the new pid without an access tick (tickless reads as coldest and
    // the just-registered cube would be the eviction victim)
    touchCube(pid)
    // born pinned when a workflow task is executing on this thread —
    // see runPinContext. The pin lands BEFORE the store insert so no
    // concurrent evictExcess can ever observe the newborn unpinned
    // (pinning a not-yet-resident pid is harmless)
    Option(runPinContext.get()).foreach(_(pid))
    cubes(pid) = c
    evictExcess()
    pid
  }

  // -------------------------------------------------------------------

  /** Run a workflow spec; returns per-task results keyed by task name
    * (loop iterations suffix the name with `_<n>` like the reference's
    * light tasks). */
  def run(spec: Workflow.Spec): Map[String, TaskResult] =
    run(spec, requestJson = None)

  /** exec_mode=async (`src/oph_parser.h:78-81`): submit and return a
    * Future; the caller polls or oph_resume's the saved response. */
  def runAsync(spec: Workflow.Spec, requestJson: Option[String] = None,
      presetId: Option[Int] = None, submitter: Option[String] = None)
      : scala.concurrent.Future[Map[String, TaskResult]] = {
    import scala.concurrent.ExecutionContext.Implicits.global
    scala.concurrent.Future(runRequest(spec, requestJson, presetId,
      submitter))
  }

  /** Reserve the workflow id a subsequent run will use when handed back
    * via `presetId` — an external submitter (the HTTP layer) holds it to
    * target `cancelWorkflow` at one specific in-flight request. The id
    * is pinned in `liveWfIds` HERE, not at run() entry (ADVICE r15): a
    * cancel can set a flag for a reserved-but-not-yet-running workflow,
    * and a >1024-flag eviction burst in that window must not drop the
    * pending cancel. run()'s finally unpins it. */
  def reserveWorkflowId(): Int = synchronized {
    workflowSeq += 1
    liveWfIds(workflowSeq) = ()
    workflowSeq
  }

  /** Undo `reserveWorkflowId` when the reserve-to-run handoff fails
    * BEFORE run() takes ownership of the id (ADVICE r16): a synchronous
    * throw between reservation and execution (executor rejection, a
    * failure registering the tracking entry) would otherwise leak a
    * permanent `liveWfIds` pin, making that id's cancel flags forever
    * un-evictable. Idempotent; run() re-pins defensively at entry, so a
    * benign race with an already-started run self-heals. */
  def unpinWorkflowId(id: Int): Unit = liveWfIds.remove(id)

  /** Spark job-group tag of one workflow run. The engine nonce keeps
    * groups unique across engines sharing a SparkContext (per-session
    * HTTP engines): cancellation is STICKY (future jobs of the group
    * die too), so a name collision would poison another engine's run. */
  private val engineNonce = Engine.nonceSeq.incrementAndGet()
  private def jobGroupOf(wfId: Int): String =
    s"${catalog.sessionCode}:$engineNonce:$wfId"

  /** Cancel every Spark job of one workflow run — the oph_cancel path
    * (the reference's scancel analog) keyed the same way the run tagged
    * its jobs. AndFutureJobs: a cancel racing ahead of the run's first
    * job submission must still kill the workflow, not no-op. */
  /** Pending cancellation per workflow id — the reference's
    * `wf->cancel_type` ('k' kill, 'a' abort, 's' stop;
    * `src/oph_management_operators.c:115-139`, consumption at
    * `oph_workflow_engine.c:3657-3686`). The run loop polls it before
    * dispatching each task. */
  private val cancelFlags =
    scala.collection.concurrent.TrieMap[Int, Char]()

  /** Workflow ids with a live run loop — membership makes a cancel
    * flag un-evictable: a long-running workflow with a LOW id must not
    * lose its just-set abort to a burst of cancels for newer ids. */
  private val liveWfIds =
    scala.collection.concurrent.TrieMap[Int, Unit]()

  def cancelWorkflow(wfId: Int): Unit = cancelWorkflow(wfId, 'k')

  /** kill: interrupt running Spark jobs AND abort everything pending;
    * abort: let the running task finish, abort the pending remainder;
    * stop: stop scheduling — the remainder stays Pending, nothing is
    * marked aborted (the reference kills no queued task for 's'). */
  def cancelWorkflow(wfId: Int, ctype: Char): Unit = {
    require(ctype == 'k' || ctype == 'a' || ctype == 's',
      s"unknown cancel type '$ctype'")
    cancelFlags(wfId) = ctype
    // a cancel that lands after its run finished has no finally to
    // clean it up — bound the map so stale flags cannot accumulate.
    // Only NON-LIVE flags are evictable: a live run's flag is its
    // pending abort/stop request, dropping it would lose the cancel.
    if (cancelFlags.size > 1024)
      cancelFlags.keys.filterNot(liveWfIds.contains).toSeq.sorted
        .take(cancelFlags.size - 1024).foreach(cancelFlags.remove)
    if (ctype == 'k')
      spark.sparkContext.cancelJobGroupAndFutureJobs(jobGroupOf(wfId))
    sessions.log(s"cancel ($ctype) requested for workflow $wfId")
  }

  /** Last completed run per workflow name — the store the request-level
    * `checkpoint` field resumes from. */
  private val lastRuns = scala.collection.concurrent.TrieMap[
    String, (Workflow.Spec, Map[String, TaskResult])]()

  /** Raw request documents of recorded runs (what persists — the spec
    * re-parses from them on restart). */
  private val lastRunJson =
    scala.collection.concurrent.TrieMap[String, String]()

  private def persistRuns(): Unit = runStateFile.foreach { p =>
    def q(s: String): String = ResponseWriter.jsonQuote(s)
    val runs = lastRuns.toSeq.flatMap { case (name, (_, results)) =>
      lastRunJson.get(name).map { js =>
        val rs = results.map { case (k, r) =>
          s"""{"task":${q(k)},"status":${q(r.status.toString)},""" +
            s""""cubePid":${r.cubePid.map(q).getOrElse("null")},""" +
            s""""message":${q(r.message)},""" +
            s""""grid":${r.grid.map(ResponseWriter.render).getOrElse("null")},""" +
            s""""aux":[${r.aux.map(ResponseWriter.render).mkString(",")}]}"""
        }.mkString(",")
        s"""{"request":$js,"results":[$rs]}"""
      }
    }
    graft.server.StateStore.save(p, s"""{"runs":[${runs.mkString(",")}]}""")
  }

  // restore recorded runs (torn/old-format state must never block
  // startup — a run that fails to parse is simply not resumable)
  runStateFile.flatMap(graft.server.StateStore.load).foreach { text =>
    import scala.jdk.CollectionConverters._
    try {
      val n = new com.fasterxml.jackson.databind.ObjectMapper().readTree(text)
      Option(n.get("runs")).foreach { arr =>
        arr.asScala.foreach { run =>
          try {
            val reqJson = run.get("request").toString
            val spec = Workflow.parse(reqJson)
            // a run saved without its answers (an older format) throws
            // here and is not resumable: its grid tasks would replay as
            // text
            lastRuns(spec.name) = (spec, run.get("results").asScala.map { r =>
              r.get("task").asText -> TaskResult(
                JobStatus.withName(r.get("status").asText),
                cubePid = Option(r.get("cubePid")).filterNot(_.isNull)
                  .map(_.asText),
                grid = Option(r.get("grid")).filterNot(_.isNull)
                  .map(g => ResponseWriter.read(g).asInstanceOf[Grid]),
                message = r.get("message").asText,
                aux = r.get("aux").asScala.map(ResponseWriter.read).toSeq)
            }.toMap)
            lastRunJson(spec.name) = reqJson
          } catch {
            case e: Exception =>
              System.err.println(
                s"[graft] run-store: skipping unparseable run entry in " +
                  s"${runStateFile.getOrElse("?")} (${e.getClass.getSimpleName}: ${e.getMessage}) " +
                  "— that workflow will not be checkpoint-resumable")
          }
        }
      }
    } catch {
      case e: Exception =>
        System.err.println(
          s"[graft] run-store: failed to parse ${runStateFile.getOrElse("?")} " +
            s"(${e.getClass.getSimpleName}: ${e.getMessage}) — checkpoint resume unavailable")
    }
  }

  /** Request entry honoring `checkpoint` (`oph_workflow_parsing.c:
    * 283-290`): any non-empty value resumes from the last recorded run
    * of the same workflow name — completed tasks whose output cubes
    * still exist replay instead of re-executing. */
  def runRequest(spec: Workflow.Spec,
      requestJson: Option[String] = None,
      presetId: Option[Int] = None,
      submitter: Option[String] = None): Map[String, TaskResult] =
    spec.checkpoint.filter(_.nonEmpty).flatMap(_ => lastRuns.get(spec.name)) match {
      case Some((priorSpec, prior)) =>
        runFrom(spec, priorSpec, prior, requestJson, presetId, submitter)
      case None => run(spec, requestJson, presetId = presetId,
        submitter = submitter)
    }

  /**
   * Checkpointed re-execution — `checkpoint` request arg +
   * `oph_workflow_save`/resume (`src/oph_workflow_engine.c:244-288`,
   * `src/oph_execute_main.c:2167+`): a completed task whose output
   * cube still exists is NOT re-run; its recorded PID is replayed into
   * dependants. Flow control re-evaluates (it is cheap and its variable
   * effects are needed), data tasks skip.
   *
   * `prior` is a previous run's result map (e.g. from a failed run —
   * the engine saves partial results on abort).
   */
  def runFrom(spec: Workflow.Spec, priorSpec: Workflow.Spec,
      prior: Map[String, TaskResult],
      requestJson: Option[String] = None,
      presetId: Option[Int] = None,
      submitter: Option[String] = None): Map[String, TaskResult] = {
    // a prior result replays ONLY if the task's definition is unchanged
    // between the two specs — an edited-and-previously-'completed' task
    // must re-run, not silently serve stale data. Iteration-suffixed
    // entries additionally require the flow-control skeleton unchanged
    // (a different values list renumbers the iterations).
    val priorTasks = priorSpec.tasks.map(t => t.name -> t).toMap
    val newTasks = spec.tasks.map(t => t.name -> t).toMap
    def fc(s: Workflow.Spec) = s.tasks.filter(t =>
      Set("oph_for", "oph_endfor", "oph_if", "oph_elseif", "oph_else",
        "oph_endif", "oph_set").contains(t.operator.toLowerCase))
    val flowUnchanged = fc(spec) == fc(priorSpec)
    def baseName(key: String): String =
      key.replaceAll("(_\\d+)+$", "") match {
        case b if newTasks.contains(b) => b
        case _ => key
      }
    val completed = prior.collect {
      case (name, r) if r.status == JobStatus.Completed &&
        // every output still exists — a fan-out's `cubePid` is only its
        // last one, and a dependant may pick any by `output_order`
        (r.cubePid ++ r.outputs).forall(cubes.contains) &&
        (name == baseName(name) || flowUnchanged) &&
        newTasks.get(baseName(name)).exists(t =>
          priorTasks.get(baseName(name)).contains(t)) => name -> r
    }
    run(spec, requestJson, completed, presetId, submitter)
  }

  /** Render a run's results as the reference's JSON Response envelope
    * (`src/oph_json/oph_json_common.c`): a task's answer grid is shown
    * under the task's name, the rest become text objects, keyed by task
    * name. A pure function of the results: it runs no Spark job.
    * `outputFormat` follows `oph_workflow_parsing.c:291-298`: classic
    * keeps one object per task; compact collapses the per-task texts of
    * successful tasks into one summary object (grids and errors always
    * survive — they carry the payload). */
  def renderResponse(workflowName: String,
      results: Map[String, TaskResult],
      outputFormat: String = "classic"): String = {
    def textOf(name: String, r: TaskResult) =
      TextObj(name, name,
        s"${r.status}" +
          r.cubePid.map(p => s" cube=$p").getOrElse("") +
          (if (r.message.nonEmpty) s" ${r.message}" else ""))
    def gridOf(name: String, r: TaskResult) = r.grid.map(g => g.copy(
      objkey = name, title = name,
      values = g.values.take(ResponseWriter.MaxGridRows)))
    val sorted = results.toSeq.sortBy(_._1)
    // `oph_workflow_parsing.c:291-305` format matrix: compact collapses
    // the per-task texts into one status line; extended adds the
    // workflow task-list grid (`oph_workflow_engine.c:5897+` renders it
    // when is_extended); extended_compact does both
    val fmt = outputFormat.toLowerCase
    val isCompact = fmt == "compact" || fmt == "extended_compact"
    val isExtended = fmt == "extended" || fmt == "extended_compact"
    val base =
      if (isCompact) {
        val grids = sorted.flatMap { case (name, r) => gridOf(name, r) }
        val errors = sorted.collect {
          case (name, r) if r.grid.isEmpty && r.status == JobStatus.Error =>
            textOf(name, r)
        }
        val okCount = sorted.count(_._2.status == JobStatus.Completed)
        // aux objects carry payload (summary/dimvalues grids) and
        // survive the compact collapse like grids do
        TextObj("status", "Workflow Status",
          s"$okCount/${sorted.size} tasks completed") +:
          (errors ++ grids ++ sorted.flatMap(_._2.aux))
      } else sorted.flatMap { case (name, r) =>
        gridOf(name, r).getOrElse(textOf(name, r)) +: r.aux
      }
    val objs =
      if (!isExtended) base
      else Grid("workflow_list", "Workflow Task List",
        keys = Seq("TASK NAME", "EXIT STATUS", "OUTPUT CUBE"),
        fieldTypes = Seq("string", "string", "string"),
        values = sorted.map { case (name, r) =>
          Seq(name, r.status.toString, r.cubePid.getOrElse(""))
        }) +: base
    ResponseWriter.render(graft.core.Response(
      source = Map("session" -> catalog.sessionCode,
        "workflow" -> workflowName, "producer" -> user),
      consumers = Seq(user),
      objects = objs))
  }

  /** Run a parsed request, optionally keeping the raw JSON for
    * oph_resume (`document_type=request`). `checkpointSkip` carries
    * replayable prior results (threaded explicitly — instance state
    * would race across concurrent runs). */
  def run(spec0: Workflow.Spec, requestJson: Option[String],
      checkpointSkip: Map[String, TaskResult] = Map.empty,
      presetId: Option[Int] = None,
      /** The submitting user when a service layer runs on behalf of a
        * caller who is not the engine's own user; recorded in the
        * resume store for the reference's per-submitter listing. */
      submitter: Option[String] = None): Map[String, TaskResult] = {
    // synchronized: concurrent runAsync submissions must not mint the
    // same job-group id (lost-update on the shared counter); an
    // externally-reserved id (HTTP cancel route) passes through.
    // reserveWorkflowId already pinned the id in liveWfIds (both paths
    // route through it); re-pin defensively for any preset id minted
    // elsewhere — the finally below unpins either way
    val wfId = presetId.getOrElse(reserveWorkflowId())
    liveWfIds(wfId) = ()
    // a validation failure exits BEFORE the inner try/finally — unpin
    // explicitly so a rejected spec cannot leak an un-evictable pin
    // (the HTTP path reserves+pins before run() executes; ADVICE r15)
    val spec = try {
      Workflow.validate(spec0)
      // the reference schedules by readiness; our positional walk gets
      // the same effect by topo-sorting each run of data tasks
      // (ADVICE r2)
      Workflow.reorderSegments(spec0)
    } catch { case e: Throwable => liveWfIds.remove(wfId); throw e }
    val jobGroup = jobGroupOf(wfId)
    // Spark jobs of this workflow share a job group so oph_cancel can
    // target them (`cancelJobGroup` — the reference's scancel analog)
    spark.sparkContext.setJobGroup(jobGroup, spec.name,
      interruptOnCancel = true)
    val results = scala.collection.concurrent.TrieMap[String, TaskResult]()
    // per-run job records feeding the session store's oph_resume
    // marker surface: task instance -> (marker id, substituted
    // command, light = loop/massive-expanded instance)
    val taskLog =
      scala.collection.concurrent.TrieMap[String, (Int, String, Boolean)]()
    // (action, pid) pairs executed at workflow end — the reference's
    // exit-cube list (`oph_workflow_define.h:72-79`)
    val exitActions = scala.collection.mutable.ArrayBuffer[(String, String)]()
    val initialVars = scala.collection.mutable.Map[String, Workflow.Var]()
    spec.variables.foreach { case (k, v) => initialVars(k) = Workflow.Var(v) }

    val builtins = Map(
      "OPH_SESSION_ID" -> catalog.sessionCode,
      "OPH_SESSION_CODE" -> catalog.sessionCode,
      "OPH_WORKFLOW_ID" -> wfId.toString,
      "OPH_USER" -> user,
      "OPH_MARKER_ID" -> markerId.toString,
      // request-level ncores overrides the builtin (`oph_workflow_
      // define.h:90` OPH_WORKFLOW_BVAR_KEY_NCORES)
      "NCORES" -> spec.ncores.getOrElse(
        spark.sparkContext.defaultParallelism).toString,
      "NTHREADS" -> spec.nthreads.getOrElse(1).toString,
      "NHOST" -> spec.nhosts.getOrElse(1).toString)

    // last produced cube PID per task name (for dependency harvesting)
    val outPids = scala.collection.concurrent.TrieMap[String, String]()
    // cubes this run has produced (or replayed from a checkpoint) and
    // may still consume: pinned against LRU eviction until the finally
    // below releases them — see cubePins
    val runPins = scala.collection.concurrent.TrieMap[String, Unit]()
    def pinForRun(p: String): Unit =
      if (runPins.putIfAbsent(p, ()).isEmpty) pinCube(p)

    /** Execute tasks[from..until); returns a control signal:
      * 0 = normal, 1 = break (consumed by the nearest enclosing loop),
      * 2 = abort (propagates to the workflow root). `vars` is the
      * block's variable scope — parallel for-branches get clones.
      *
      * Every task instance takes one outcome path, as in the
      * reference's `oph_workflow_notify`: the task's own work
      * (substitution, loop set-up, condition, variable tasks,
      * dependency routing, the operator) runs in one `try`, and any
      * failure records an Error and follows the task's `on_error`. */
    def runBlock(from: Int, until: Int, iterSuffix: String,
        vars: scala.collection.mutable.Map[String, Workflow.Var]): Int = {
      def sub(s: String): String =
        Workflow.substitute(s, vars.toMap, builtins)
      // marks this block's tasks[k..until) that have no result yet
      def drain(k: Int, status: JobStatus.Value): Unit =
        (k until until).foreach(j => results.putIfAbsent(
          s"${spec.tasks(j).name}$iterSuffix", TaskResult(status)))

      // dependency output harvesting, preferring THIS iteration's
      // instance — parallel for branches must not read a sibling
      // branch's cube
      def depPid(d: Workflow.Dependency): Option[String] = {
        // the declared dependency surface must not be silently
        // ignored: unsupported output_argument values error
        // instead of pretending to work
        if (d.outputArgument != "cube")
          throw new Engine.EngineError(s"dependency on '${d.task}': " +
            s"unsupported output_argument '${d.outputArgument}'")
        // a fan-out producer records its minted pids in
        // TaskResult.outputs: output_order indexes that list
        // (0 = first). Single-output producers use the
        // recorded pid — message text is NEVER parsed (listing
        // operators also join '/'-bearing strings with '|').
        val fanOut0 = results.get(s"${d.task}$iterSuffix")
          .orElse(results.get(d.task))
          .map(_.outputs).filter(_.nonEmpty)
        // dependency `filter` (`oph_workflow_structs.h:90`,
        // default "all"): a 1-based index filter in the subset
        // grammar selecting WHICH of a fan-out producer's
        // outputs flow in; output_order then indexes the
        // filtered list
        val fanOut = (d.filter, fanOut0) match {
          case ("all", f) => f
          case (flt, Some(arr)) =>
            val spec =
              try graft.core.Subset.parse(flt, Some(arr.size.toLong))
              catch {
                case e: Exception => throw new Engine.EngineError(
                  s"dependency on '${d.task}': bad filter '$flt': " +
                    e.getMessage)
              }
            val kept = arr.zipWithIndex.collect {
              case (p, i) if spec.contains(i + 1L) => p
            }
            if (kept.isEmpty)
              throw new Engine.EngineError(s"dependency on " +
                s"'${d.task}': filter '$flt' selects no outputs")
            Some(kept)
          case (flt, None) =>
            throw new Engine.EngineError(s"dependency on " +
              s"'${d.task}': filter '$flt' needs a fan-out producer")
        }
        fanOut match {
          case Some(arr) =>
            arr.lift(d.outputOrder).orElse(
              throw new Engine.EngineError(s"dependency on " +
                s"'${d.task}': no output ${d.outputOrder}"))
          case None if d.outputOrder > 0 =>
            throw new Engine.EngineError(s"dependency on " +
              s"'${d.task}': no output ${d.outputOrder}")
          case None => outPids.get(s"${d.task}$iterSuffix")
            .orElse(outPids.get(d.task))
        }
      }

      /** Run data task `t` on its substituted arguments. */
      def execute(t: Workflow.Task, args0: Map[String, String]): TaskResult = {
        // request-level cdd is each task's default data directory
        // (`oph_workflow_parsing.c:91-95`): relative src_path /
        // output_path values resolve against it in the operator
        val args =
          if (args0.contains("cdd") || spec.cdd == "/") args0
          else args0 + ("cdd" -> spec.cdd)
        // Deps with an explicit `argument` (type all|single) inject
        // into that slot, ordered by `order` and '|'-joined when
        // several target the same slot (`oph_workflow_structs.h:83-102`);
        // embedded deps keep the legacy single-`cube` fallback.
        val explicitDeps = t.dependencies
          .filter(_.depType != "embedded") // argument default "cube"
        lazy val routed = explicitDeps.groupBy(_.argument.getOrElse("cube"))
          .foldLeft(args) { case (m, (argName, ds)) =>
            if (m.contains(argName)) m
            else {
              val pids = ds.sortBy(_.order).flatMap(depPid)
              if (pids.isEmpty) m else m + (argName -> pids.mkString("|"))
            }
          }
        // the legacy fallback injects ONLY embedded deps into
        // 'cube' — a dep explicitly routed to another slot must
        // not double as the cube input (intercube(B,B) otherwise).
        // lazy: routing errors (bad output_order, unsupported
        // filter) are retried with the operator under on_error=repeat
        lazy val withCube: Map[String, String] =
          if (routed.contains("cube") || t.dependencies.isEmpty) routed
          else t.dependencies.reverseIterator
            .filter(_.depType == "embedded")
            .flatMap(depPid)
            .nextOption()
            .map(p => routed + ("cube" -> p)).getOrElse(routed)
        // on_error=repeat retries with linear backoff before
        // giving up (reference auto-retry, engine.c:860-877)
        val maxAttempts = if (t.onError == "repeat") 3 else 1
        def attempt(n: Int): TaskResult =
          try {
            runPinContext.set(pinForRun)
            try withTaskPermit(runDataOperator(t.operator, withCube))
            finally runPinContext.remove()
          } catch {
            case e: Exception if n < maxAttempts =>
              sessions.log(
                s"${t.name}: attempt $n failed, retrying (${e.getMessage})")
              Thread.sleep(50L * n)
              attempt(n + 1)
          }
        val r = attempt(1)
        // on_exit: collect this task's output for the workflow-end
        // exit action (`oph_workflow_define.h:77-79`)
        if (t.onExit == "oph_delete" || t.onExit == "oph_deletecontainer")
          r.cubePid.foreach(p => exitActions += ((t.onExit, p)))
        r
      }

      var i = from
      while (i < until) {
        // a pending oph_cancel lands BETWEEN tasks (any running Spark
        // job already settled): 'a' aborts the remainder through the
        // normal abort cascade; 's' stops scheduling and leaves the
        // rest Pending — the reference kills no queued task for 's'
        // (`oph_workflow_engine.c:3657`). Returning 0 lets enclosing
        // blocks drain as no-ops through their own head checks.
        cancelFlags.get(wfId) match {
          case Some('s') => drain(i, JobStatus.Pending); return 0
          case Some(_) => drain(i, JobStatus.Aborted); return 2
          case None =>
        }
        val t = spec.tasks(i)
        val name = s"${t.name}$iterSuffix"
        // where the walk goes on after this task, also when on_error
        // skips past it: a block opener resumes after its closer
        var next = i + 1
        val signal =
          try t.operator.toLowerCase match {
            case "oph_for" =>
              val end = matching(spec, i, "oph_for", "oph_endfor")
              next = end + 1
              val args = t.arguments.map { case (k, v) => k -> sub(v) }
              val key = args.getOrElse("key", "index")
              // IEEE Std 1003.1 name check, as the reference enforces
              // on the loop counter (`oph_flow_control_operators.c:
              // 1705-1717`)
              if (!key.matches("[A-Za-z_][A-Za-z0-9_]*"))
                throw new Engine.EngineError(
                  s"oph_for: invalid variable name '$key'")
              val values: Seq[String] =
                args.get("values").map(_.split('|').toSeq)
                  .orElse(args.get("counter").map(c =>
                    Subset.parse(c).indices.map(_.toString)))
                  // src_path/input: one iteration per matching FILE
                  // (`oph_workflow_engine.c:964-1000`, HISTORY #63) —
                  // the loop variable binds each file path in turn.
                  // The arg is multi: '|'-separated folders (outside
                  // brackets) each expand and concatenate
                  .orElse(args.get("src_path").orElse(args.get("input"))
                    .map { p =>
                      // split on '|' OUTSIDE brackets (shared
                      // MassiveFilter splitter): a mixed list like
                      // '/a|[path=/b]' expands BOTH parts, each bare
                      // folder wrapping into its own [path=...].
                      // Relative folders resolve against the
                      // request-level cdd, like operator src_path
                      // values do (`oph_workflow_parsing.c:91-95`)
                      val cdd = args.get("cdd")
                        .orElse(Option(spec.cdd).filter(_ != "/"))
                      val files = MassiveFilter.splitTop(p, '|')
                        .flatMap { part =>
                          val massive =
                            if (part.startsWith("[")) part
                            else s"[path=${resolveCdd(cdd, part)}]"
                          MassiveFilter.expandFiles(massive, cdd = spec.cdd)
                        }
                      if (files.isEmpty) throw new Engine.EngineError(
                        s"oph_for: no files match '$p'")
                      files
                    })
                  .getOrElse(Seq("1"))
              def iteration(idx: Int,
                  scope: scala.collection.mutable.Map[String, Workflow.Var]): Int = {
                scope(key) = Workflow.Var(values(idx))
                scope(s"$key&") = Workflow.Var((idx + 1).toString) // index form
                runBlock(i + 1, end, s"${iterSuffix}_${idx + 1}", scope)
              }
              val signals =
                if (args.get("parallel").exists(_.equalsIgnoreCase("yes"))) {
                  // parallel=yes: branches replicated and run
                  // concurrently (`oph_workflow_parallel_fco`,
                  // engine.c:1207) — each iteration gets its own
                  // variable scope
                  import scala.concurrent.{Await, Future}
                  import scala.concurrent.duration.Duration
                  import scala.concurrent.ExecutionContext.Implicits.global
                  val futs = values.indices.map { idx =>
                    Future {
                      // setJobGroup is thread-local: re-tag this pool
                      // thread so the branch's Spark jobs stay
                      // cancellable under THIS workflow's id (pool
                      // threads otherwise carry whatever group they
                      // inherited at creation)
                      spark.sparkContext.setJobGroup(jobGroup, spec.name,
                        interruptOnCancel = true)
                      try iteration(idx, vars.clone())
                      finally spark.sparkContext.clearJobGroup()
                    }
                  }
                  // signals count once all branches settle
                  Await.result(Future.sequence(futs), Duration.Inf)
                } else
                  // serial: the first break or abort ends the loop
                  values.indices.iterator.map(iteration(_, vars))
                    .find(_ != 0).toSeq
              // a break signal is CONSUMED here: it stops this loop's
              // iterations and execution continues after oph_endfor;
              // an abort keeps propagating to the workflow root
              results(name) = TaskResult(JobStatus.Completed,
                message = s"loop over ${values.size} values" +
                  (if (signals.contains(1)) " (broken early)" else ""))
              if (signals.contains(2)) 2 else 0

            case "oph_if" | "oph_elseif" =>
              // find the chain: branch starts and the closing endif
              val endif = matching(spec, i, "oph_if", "oph_endif")
              next = endif + 1
              // walk branches at this nesting level for the first
              // whose condition holds
              var selected = -1
              var j = i
              while (j < endif) {
                val bt = spec.tasks(j)
                bt.operator.toLowerCase match {
                  case "oph_if" | "oph_elseif" if selected < 0 =>
                    val cond = bt.arguments.get("condition").map(sub)
                      .map(Workflow.evalCondition).getOrElse(1.0)
                    if (cond != 0) selected = j
                  case "oph_else" if selected < 0 => selected = j
                  case _ =>
                }
                j = nextBranch(spec, j, endif)
              }
              // execute only the selected branch; its break/abort
              // signal propagates (break reaches the enclosing loop)
              var branchEnd = -1
              var branchSignal = 0
              if (selected >= 0) {
                branchEnd = math.min(nextBranch(spec, selected, endif), endif)
                branchSignal = runBlock(selected + 1, branchEnd, iterSuffix, vars)
              }
              // forward=yes: the selected branch's last output cube flows
              // through the block to dependants of the if/endif tasks
              // (`oph_flow_control_operators.c:569-583`)
              if (t.arguments.get("forward").map(sub)
                  .exists(_.equalsIgnoreCase("yes")) && selected >= 0) {
                val lastPid = (selected + 1 until branchEnd).reverseIterator
                  .flatMap(k => outPids.get(s"${spec.tasks(k).name}$iterSuffix")
                    .orElse(outPids.get(spec.tasks(k).name))) // nested loops
                  .nextOption()
                lastPid.foreach { p =>
                  Seq(t.name, spec.tasks(endif).name).foreach { n =>
                    outPids(s"$n$iterSuffix") = p
                    outPids(n) = p
                  }
                }
              }
              // mark branch heads
              results(name) =
                TaskResult(JobStatus.Completed, message = "selection evaluated")
              branchSignal

            case "oph_endfor" | "oph_endif" | "oph_else" =>
              0 // structural markers; bodies handled by their openers

            case op @ ("oph_set" | "oph_wait" | "oph_input") =>
              val args = t.arguments.map { case (k, v) => k -> sub(v) }
              op match {
                case "oph_set" =>
                  val summary = setVariables(args, vars)
                  results(name) =
                    TaskResult(JobStatus.Completed, message = summary)
                  0
                case "oph_wait" =>
                  val status = runWait(wfId, name, args, vars)
                  results(name) = TaskResult(status,
                    message = s"wait ${status.toString.toLowerCase}")
                  if (status != JobStatus.Aborted) 0
                  else { drain(i + 1, JobStatus.Aborted); 2 }
                case _ => // oph_input: oph_set with has_action — sets
                  // variables AND can complete a waiting task
                  // (`oph_set_impl(..., has_action=1)`)
                  val names = splitMulti(args.getOrElse("key", ""))
                  val values = splitMulti(args.getOrElse("value", ""))
                  val action = args.getOrElse("action", "continue")
                  if (!Set("continue", "abort", "wait").contains(action))
                    throw new Engine.EngineError(
                      s"oph_input: wrong action '$action'")
                  // workflow identifier: positive ids scope the
                  // delivery to that workflow's waits; <= 0 rejected
                  // like the reference (`oph_server_test.c` case 7)
                  val targetWf = args.get("id").map { id =>
                    id.toIntOption.filter(_ > 0).getOrElse(
                      throw new Engine.EngineError(
                        s"oph_input: wrong workflow identifier '$id'"))
                  }
                  val delivered = deliverInput(args.get("taskname"),
                    Engine.InputMessage(names, values, action), targetWf)
                  // an explicit taskname must name SOME oph_wait task
                  // (live here or declared in this workflow) — the
                  // reference's static lookup error otherwise
                  if (!delivered) args.get("taskname").foreach { tn =>
                    if (!spec.tasks.exists(w =>
                        w.operator.equalsIgnoreCase("oph_wait") &&
                        w.name == tn))
                      throw new Engine.EngineError(
                        "oph_input: invalid task name, task not found or ambiguous")
                  }
                  // also visible in the current scope (same-workflow)
                  val summary =
                    if (names.nonEmpty)
                      setVariables(args - "action" - "taskname", vars)
                    else ""
                  results(name) =
                    TaskResult(JobStatus.Completed,
                      message = (if (delivered) "input delivered"
                        else "input set") +
                        (if (summary.nonEmpty) s"; $summary" else ""))
                  0
              }

            case _ =>
              val args0 = t.arguments.map { case (k, v) => k -> sub(v) }
              // job record for oph_resume's marker surface: the
              // SUBSTITUTED command, like the reference's saved
              // submission strings. Skipped (run=no -> SKIPPED in the
              // job table) and checkpoint-replayed tasks are still
              // SUBMITTED jobs in the reference, so they get one too
              // and stay resume-addressable
              taskLog(name) = (mintMarker(), s"${t.operator} " +
                args0.map { case (k, v) => s"$k=$v" }.mkString(";"),
                iterSuffix.nonEmpty)
              // checkpointed: replay the prior result (output cube
              // verified to still exist) instead of re-executing
              val r =
                if (!t.run) TaskResult(JobStatus.Skipped)
                else checkpointSkip.getOrElse(name, execute(t, args0))
              results(name) = r
              // massive fan-outs carry every produced pid in `outputs`;
              // pin them all — any can be a later dep
              r.outputs.foreach(pinForRun)
              r.cubePid.foreach { p =>
                pinForRun(p)
                outPids(name) = p
                outPids(t.name) = p
              }
              0
          } catch {
            case e: Exception =>
              results(name) = TaskResult(JobStatus.Error, message = e.getMessage)
              t.onError match {
                case "skip" | "continue" | "nop" | "repeat" => 0
                case "break" => 1
                case _ => drain(i + 1, JobStatus.Aborted); 2
              }
          }
        if (signal != 0) return signal
        i = next
      }
      0
    }

    // finally: an exception escaping runBlock (a JVM Error; task
    // failures follow on_error inside it) must not leave a stale job
    // group on the driver thread or an unsaved run —
    // otherwise a later oph_cancel of this id hits unrelated jobs and
    // oph_resume can't see the failure
    // admission: refuse past farm+queue, then QUEUE behind the farm —
    // a run beyond farmSize parks here until a slot frees (activeRuns
    // counts queued runs too, so the refusal check sees them, like the
    // reference's job-list counter). The acquire sits INSIDE the try
    // with its own flag: an interrupt while queued must not leak the
    // activeRuns increment (a leaked counter would wedge admission) or
    // release a permit that was never taken.
    // an admission refusal also exits before the inner finally — unpin
    // on that path too (same leak class as the validation guard above)
    try admitRun()
    catch { case e: Throwable => liveWfIds.remove(wfId); throw e }
    var farmAcquired = false
    try {
      if (queueSize > 0) { farmPermits.acquire(); farmAcquired = true }
      runBlock(0, spec.tasks.size, "", initialVars)
    }
    finally {
      if (farmAcquired) farmPermits.release()
      activeRuns.decrementAndGet()
      // release this run's eviction pins, then re-trim: pins can have
      // held the store over cap (soft-cap breach) while the run lived
      runPins.keysIterator.foreach(unpinCube)
      evictExcess()
      // a cancel flag dies with its run — workflow ids are never
      // reused, but a leaked entry would still grow the map unbounded
      cancelFlags.remove(wfId)
      liveWfIds.remove(wfId)
      spark.sparkContext.clearJobGroup()
      // exit actions: drop intermediate cubes flagged on_exit=oph_delete
      // (containers for oph_deletecontainer) exactly once, tolerating
      // cubes already deleted mid-workflow
      exitActions.distinct.foreach { case (action, pid) =>
        try {
          if (action == "oph_deletecontainer") {
            dropCube(pid)
            catalog.container(pid.split("/").dropRight(1).last.toLong)
              .foreach(c => catalog.deleteContainer(c.name, "/", force = true))
          } else if (dropCube(pid))
            catalog.deleteCube(idOf(pid))
          sessions.log(s"on_exit $action applied to $pid")
        } catch {
          case e: Exception =>
            sessions.log(s"on_exit $action failed for $pid: ${e.getMessage}")
        }
      }
      val summary = results.toSeq.sortBy(_._1).map { case (k, v) =>
        s"$k=${v.status}${v.cubePid.map(p => s"($p)").getOrElse("")}"
      }.mkString(";")
      // `save=no` (`oph_workflow_parsing.c:270-290`): the caller opted
      // out of the session document store; oph_resume will not see it
      if (spec.save) {
        // the workflow document's own marker (its jobid's third field);
        // tasks that reached `results` without a minted marker (flow
        // control, abort-marked remainders) are assigned one now, in
        // name order, so every job row stays marker-addressable
        val wfMarker = mintMarker()
        val savedTasks = results.toSeq.sortBy { case (name, _) =>
          (taskLog.get(name).map(_._1).getOrElse(Int.MaxValue), name)
        }.map { case (name, r) =>
          val (marker, cmd, light) =
            taskLog.getOrElse(name, (mintMarker(), "", false))
          graft.server.SessionService.SavedTask(marker, name,
            r.status.toString, cmd,
            s"${r.status}${r.cubePid.map(p => s"($p)").getOrElse("")}",
            light)
        }
        sessions.saveWorkflow(catalog.sessionCode,
          requestJson.getOrElse(spec.name), summary, wfMarker, savedTasks,
          submitter.getOrElse(user))
      }
      // record for request-level checkpoint resume (the ORIGINAL spec:
      // runFrom compares task definitions against the next request).
      // Results are data (answers are built grids, capped in size), so
      // they are kept as they are; the map itself is bounded
      lastRuns(spec0.name) = (spec0, results.toMap)
      if (lastRuns.size > Engine.MaxLastRuns)
        lastRuns.keys.filter(_ != spec0.name)
          .take(lastRuns.size - Engine.MaxLastRuns).foreach { k =>
            lastRuns.remove(k); lastRunJson.remove(k)
          }
      requestJson.foreach(js => lastRunJson(spec0.name) = js)
      persistRuns()
    }
    results.toMap
  }

  // --------------------------------------------- flow-control helpers

  private def splitMulti(s: String): Seq[String] =
    if (s.isEmpty) Seq.empty
    else s.split('|').toSeq.map(_.trim).filter(_.nonEmpty)

  /**
   * oph_set variable assignment with the reference's multi-`key`
   * semantics (`oph_flow_control_operators.c:1359-1430`): `key=a|b`
   * zips names to '|'-split values; a single name with an array value
   * receives the WHOLE array while `name_1..n` receive the elements;
   * surplus values land in `name_<j+1>`. `subset_filter=yes|real`
   * compresses the value list to a subset string first.
   */
  private def setVariables(args: Map[String, String],
      vars: scala.collection.mutable.Map[String, Workflow.Var]): String = {
    val names = splitMulti(args.getOrElse("key", "var"))
    names.foreach { n =>
      if (!n.matches("[A-Za-z_][A-Za-z0-9_]*"))
        throw new Engine.EngineError(s"oph_set: invalid variable name '$n'")
    }
    val raw = args.getOrElse("value", "")
    val value = args.get("subset_filter") match {
      case Some(m) if m.equalsIgnoreCase("yes") =>
        val vs = splitMulti(raw).map(_.toLong)
        val off = args.get("offset").map(_.toLong).getOrElse(1L)
        Subset.compress(vs, off)
      case Some(m) if m.equalsIgnoreCase("real") =>
        val vs = splitMulti(raw).map(_.toDouble)
        val off = args.get("offset").map(_.toDouble).getOrElse(0.0)
        Subset.compressReal(vs, off)
      case _ => raw
    }
    // no value: names bind their 1-based position (reference ivalue)
    val values0 = splitMulti(value)
    val values =
      if (values0.isEmpty) names.indices.map(j => (j + 1).toString)
      else values0
    if (values.size < names.size)
      throw new Engine.EngineError(
        "oph_set: bad number of keys in parameter 'value'")
    // names[0]_1 always carries the first value (reference repeat step)
    vars(s"${names.head}_1") = Workflow.Var(values.head)
    if (names.size == 1 && values.size > 1) {
      vars(names.head) = Workflow.Var(values.mkString("|"))
      values.zipWithIndex.drop(1).foreach { case (v, j) =>
        vars(s"${names.head}_${j + 1}") = Workflow.Var(v)
      }
    } else {
      names.zip(values).foreach { case (n, v) => vars(n) = Workflow.Var(v) }
      (names.size until values.size).foreach { j =>
        vars(s"${names.head}_${j - names.size + 2}") = Workflow.Var(values(j))
      }
    }
    names.zip(values).map { case (n, v) => s"$n=$v" }.mkString(";")
  }

  /**
   * oph_wait (`oph_flow_control_operators.c:144-360,2040-2212`):
   * type=clock sleeps the REAL timeout (1 s poll steps through the
   * injectable `sleeper`); type=file polls a path (or an http(s) HEAD)
   * until it exists; type=input blocks until an oph_input targets this
   * task — applying its variables and action — or the timeout passes.
   * `timeout_type=deadline` converts a 'yyyy-MM-dd HH:mm:ss' date to a
   * remaining duration (`:2187-2204`). Negative timeout = infinite,
   * only for type=input (`:2206-2212`).
   */
  private def runWait(wfId: Int, taskName: String, args: Map[String, String],
      vars: scala.collection.mutable.Map[String, Workflow.Var]): JobStatus.Value = {
    val wtype = args.getOrElse("type", "clock")
    if (!Set("clock", "file", "input").contains(wtype))
      throw new Engine.EngineError(s"oph_wait: wrong type '$wtype'")
    val ttype = args.getOrElse("timeout_type", "duration")
    if (!Set("duration", "deadline").contains(ttype))
      throw new Engine.EngineError(s"oph_wait: wrong timeout type '$ttype'")
    val timeoutSec: Long = args.get("timeout") match {
      case Some(tstr) if ttype == "deadline" =>
        val fmt = new java.text.SimpleDateFormat("yyyy-MM-dd HH:mm:ss")
        // deadlines are UTC like every timestamp in the system
        // (spark.sql.session.timeZone pins UTC) — the JVM-default zone
        // would shift them by the host's offset
        fmt.setTimeZone(java.util.TimeZone.getTimeZone("UTC"))
        val epoch =
          try fmt.parse(tstr).getTime / 1000
          catch {
            case _: java.text.ParseException => throw new Engine.EngineError(
              s"oph_wait: date conversion error for '$tstr'")
          }
        // a deadline already passed = no wait (clamped, not an error)
        math.max(0L, epoch - System.currentTimeMillis / 1000)
      case Some(t) => t.toLong
      case None => if (wtype == "input") -1L else 0L
    }
    if (timeoutSec < 0 && wtype != "input")
      throw new Engine.EngineError(
        "oph_wait: timeout can be infinity only for type 'input'")
    val fnameOpt =
      if (wtype == "file") {
        val f = args.getOrElse("filename", args.getOrElse("output", ""))
        if (f.isEmpty)
          throw new Engine.EngineError("oph_wait: empty parameter 'filename'")
        Some(f)
      } else None
    // run=no: validate every parameter but do not wait
    // (`oph_server_test.c` wait cases 0-5 all pass run=no)
    args.get("run") match {
      case Some(r) if r.equalsIgnoreCase("no") => return JobStatus.Completed
      case Some(r) if !r.equalsIgnoreCase("yes") =>
        throw new Engine.EngineError(s"oph_wait: wrong value '$r' for parameter 'run'")
      case _ =>
    }

    def httpHead(url: String): Boolean =
      try {
        val c = new java.net.URL(url).openConnection()
          .asInstanceOf[java.net.HttpURLConnection]
        c.setRequestMethod("HEAD")
        c.setConnectTimeout(2000); c.setReadTimeout(2000)
        val code = c.getResponseCode
        code >= 200 && code < 400
      } catch { case _: Exception => false }

    // only KILL interrupts a task MID-WAIT (a wait runs no Spark job
    // for cancelJobGroup to reach); abort and stop both drain the
    // running task — the reference aborts only pending work for 'a'
    // and kills nothing for 's' (`oph_workflow_engine.c:3659-3686`)
    def interrupted: Boolean = cancelFlags.get(wfId).contains('k')
    wtype match {
      case "clock" =>
        var c = 0L
        while (c < timeoutSec && !interrupted) { sleeper(1000); c += 1 }
        if (interrupted) JobStatus.Aborted else JobStatus.Completed
      case "file" =>
        val fname = fnameOpt.get
        def exists(): Boolean =
          if (fname.startsWith("http")) httpHead(fname)
          else new java.io.File(fname).exists
        var c = 0L
        var found = exists()
        while (!found && c < timeoutSec && !interrupted) {
          sleeper(1000); c += 1; found = exists()
        }
        // a timeout also completes the task — the reference flips the
        // waiting status to COMPLETED either way (`:300-330`)
        if (interrupted) JobStatus.Aborted else JobStatus.Completed
      case _ => // input
        var promise = scala.concurrent.Promise[Engine.InputMessage]()
        inputWaits((wfId, taskName)) = promise
        try {
          var c = 0L
          var outcome: Option[JobStatus.Value] = None
          while (outcome.isEmpty) {
            promise.future.value match {
              case Some(scala.util.Success(msg)) =>
                if (msg.names.nonEmpty)
                  setVariables(Map("key" -> msg.names.mkString("|"),
                    "value" -> msg.values.mkString("|")), vars)
                msg.action match {
                  case "abort" => outcome = Some(JobStatus.Aborted)
                  case "wait" => // stay waiting on a fresh promise
                    promise = scala.concurrent.Promise[Engine.InputMessage]()
                    inputWaits((wfId, taskName)) = promise
                  case _ => outcome = Some(JobStatus.Completed)
                }
              case Some(scala.util.Failure(e)) =>
                throw new Engine.EngineError(s"oph_wait: ${e.getMessage}")
              case None =>
                if (interrupted) outcome = Some(JobStatus.Aborted)
                else if (timeoutSec >= 0 && c >= timeoutSec)
                  outcome = Some(JobStatus.Completed) // timeout ends the wait
                else { sleeper(1000); c += 1 }
            }
          }
          outcome.get
        } finally inputWaits.remove((wfId, taskName))
    }
  }

  /** Index of the matching closer for the opener at `start`. */
  private def matching(spec: Workflow.Spec, start: Int,
      opener: String, closer: String): Int = {
    var depth = 0
    var i = start
    while (i < spec.tasks.size) {
      val op = spec.tasks(i).operator.toLowerCase
      if (op == opener) depth += 1
      else if (op == closer) { depth -= 1; if (depth == 0) return i }
      i += 1
    }
    throw new Engine.EngineError(s"no matching $closer")
  }

  /** Start of the next branch (elseif/else/endif) at this if-depth. */
  private def nextBranch(spec: Workflow.Spec, from: Int, endif: Int): Int = {
    var depth = 0
    var i = from + 1
    while (i <= endif) {
      val op = spec.tasks(i).operator.toLowerCase
      if (op == "oph_if") depth += 1
      else if (op == "oph_endif") { if (depth == 0) return i; depth -= 1 }
      else if (depth == 0 && (op == "oph_elseif" || op == "oph_else")) return i
      i += 1
    }
    endif
  }

  // ----------------------------------------------------- data operators

  /** `cdd` (current data directory, `oph_workflow_parsing.c:91-95`):
    * a relative file path resolves against it when one was supplied;
    * absolute paths, URIs, massive filters and cdd-less requests pass
    * through untouched (a bare relative path keeps resolving against
    * the process cwd). */
  private def resolveCdd(cdd: Option[String], p: String): String = cdd match {
    case Some(base)
      if !p.startsWith("/") && !p.contains("://") && !p.startsWith("[") =>
      (if (base.endsWith("/")) base else base + "/") + p
    case _ => p
  }

  /** The Tier-C dispatch: operator name -> Spark execution. A massive
    * `cube=[...]` argument fans the task out over EVERY matching cube
    * (one light task per match, `oph_workflow_engine.c:1002-1057`);
    * `run=no` returns the match list without executing
    * (engine.c:1058-1065). */
  def runDataOperator(operator: String, args: Map[String, String]): TaskResult = {
    val op = operator.toLowerCase

    // a grid-returning operator's answer: its grid, built here (the
    // response names it after the task) and capped; a frame is collected
    // now, on the task's thread under the workflow's job group
    def answer(grid: Grid, aux: Seq[ResponseObject] = Seq.empty) =
      TaskResult(JobStatus.Completed, aux = aux, grid = Some(
        grid.copy(values = grid.values.take(ResponseWriter.MaxGridRows))))
    def frameGrid(df: DataFrame): Grid = ResponseWriter.gridOf(op, op, df)
    def localGrid(keys: Seq[String], types: Seq[String],
        rows: Seq[Seq[Any]]): Grid =
      Grid(op, op, keys, types, rows.map(_.map(ResponseWriter.cell)))
    def schemaGrid(c: Cube): Grid =
      localGrid(Seq("name", "kind", "dtype"), Seq.fill(3)("string"),
        CubeOps.schemaRows(c).map { case (n, k, t) => Seq(n, k, t) })

    // runtime pass of the descriptor checks on SUBSTITUTED values —
    // a `@var` that resolves outside an enum/domain must fail loudly,
    // not silently fall back to a default
    try ArgSpecs.validate(op, args, hasDeps = args.contains("cube"),
      checkValues = true)
    catch {
      case e: ArgSpecs.ArgError => throw new Engine.EngineError(e.getMessage)
    }

    // massive fan-out: one light sub-task per `matches` entry bound to
    // argument `slot`, or with run=no only the '|'-joined match list
    def fanOut(filter: String, slot: String, matches: Seq[String],
        noMatch: String): TaskResult = {
      if (matches.isEmpty) throw new Engine.EngineError(noMatch)
      else if (!MassiveFilter.parse(filter).runEnabled)
        TaskResult(JobStatus.Completed, message = matches.mkString("|"))
      else {
        val sub = matches.map(m => runDataOperator(operator, args + (slot -> m)))
        TaskResult(JobStatus.Completed,
          cubePid = sub.lastOption.flatMap(_.cubePid),
          message = sub.map(r => r.cubePid.getOrElse(r.message)).mkString("|"),
          outputs = sub.flatMap(_.cubePid))
      }
    }

    args.get("cube").filter(_.contains("[")).foreach { cubeArg =>
      return fanOut(cubeArg, "cube",
        MassiveFilter.expand(cubeArg, catalog, args.getOrElse("cwd", "/"))
          .map(_.pid(catalog)),
        s"$op: no cubes match $cubeArg")
    }

    def needCube(): (String, Cube) = {
      val pidArg = args.getOrElse("cube",
        throw new Engine.EngineError(s"$op: missing 'cube'"))
      (pidArg, cube(pidArg).getOrElse(
        throw new Engine.EngineError(s"$op: unknown cube $pidArg")))
    }

    def resolvePath(p: String): String = resolveCdd(args.get("cdd"), p)

    op match {
      case "oph_createcontainer" =>
        val c = catalog.createContainer(
          args.getOrElse("container", "container"),
          args.getOrElse("cwd", "/"))
        TaskResult(JobStatus.Completed, message = s"container ${c.name}")

      case "oph_importnc" | "oph_importnc2" | "oph_importcsv" | "oph_importncs" =>
        val path = args.getOrElse("src_path",
          args.getOrElse("input",
            throw new Engine.EngineError("import: missing src_path")))
        // massive src_path: `[path=...;file=*x*;recursive=yes]` fans the
        // import out over every matching FILE, one cube per file
        // (`oph_massive_operations.c:222-258`)
        if (path.contains("["))
          return fanOut(path, "src_path",
            MassiveFilter.expandFiles(path, cdd = args.getOrElse("cdd", "/")),
            s"import: no files match $path")
        val paths = path.split('|').toSeq.map(resolvePath) // importncs: multi-file, one cube
        val measure = args.getOrElse("measure", "measure")
        val exp = args.get("exp_dim").map(_.split('|').toSeq).getOrElse(Seq.empty)
        // imp_dim accepts a '|'-separated list: 2+ names build an
        // n-implicit-dim cube (row-major in-cell layout + shape
        // metadata), the reference's n-D data model
        val imp = args.get("imp_dim").map(_.split('|').toSeq.filter(_.nonEmpty))
          .getOrElse(Seq.empty)
        // dispatch on magic, not extension: NetCDF-4/HDF5 archives are
        // routinely named plain `.nc`
        val isNc = op != "oph_importcsv" &&
          paths.forall(graft.sources.NcView.isNetcdf)
        val raw = if (op == "oph_importcsv")
          spark.read.option("header", "true").option("inferSchema", "true")
            .csv(paths: _*)
        else if (isNc) {
          // REAL NetCDF input (classic AND NetCDF-4) through the custom
          // dual-format DSv2 (schema from metadata only; per-partition
          // slab/chunk reads). A TABLE-encoded file (exportnc's layout:
          // a synthetic record dim, every column a data variable)
          // carries the requested dims as VARIABLES, not dims — select
          // those alongside the measure so re-importing an exported
          // cube restores its original axes (the importncs roundtrip).
          val dfs = paths.map { p =>
            val view = graft.sources.NcView.open(p)
            val fileDims = view.dims.map(_.name).toSet
            val dimVars = (exp ++ imp).filter(d =>
              !fileDims.contains(d) && view.vars.exists(_.name == d))
            val sel = (measure +: dimVars).distinct.mkString("|")
            spark.read.format("netcdf3").option("measure", sel).load(p)
          }
          dfs.reduce(_.unionByName(_))
        } else spark.read.parquet(paths: _*)
        // CF time axis: a dimension whose source variable carries a
        // CF units attribute ("days since 1850-01-01", "seconds since
        // ...") becomes a REAL date/timestamp column, so time_filter /
        // season subsets work on NetCDF-imported cubes exactly as on
        // native date dims. Standard (gregorian) calendar only — other
        // CF calendars (360_day, noleap) keep their numeric axis.
        val CfUnits =
          """(seconds|minutes|hours|days) since (\d{1,4}-\d{1,2}-\d{1,2})([ T].*)?""".r
        val timeConverted =
          if (!isNc || args.get("time_conversion").contains("no")) raw
          else {
            val calendar = args.getOrElse("calendar", "standard").toLowerCase
            val standard = Seq("standard", "gregorian", "proleptic_gregorian")
              .contains(calendar)
            val view = graft.sources.NcView.open(paths.head)
            (exp ++ imp).foldLeft(raw) { (df, d) =>
              view.varAtts.getOrElse(d, Seq.empty)
                .collectFirst { case ("units", CfUnits(unit, base, _)) =>
                  (unit, base)
                } match {
                case Some((unit, base)) if standard && df.columns.contains(d) =>
                  val secs = unit match {
                    case "seconds" => 1L
                    case "minutes" => 60L
                    case "hours" => 3600L
                    case "days" => 86400L
                  }
                  // 'days since' with whole-day offsets -> DATE; any
                  // fractional offset (6-hourly CF files routinely use
                  // 0.25-day steps) -> TIMESTAMP, so distinct sub-daily
                  // points never collapse onto one date. The check
                  // samples the coordinate values (bounded, header-side)
                  val wholeDays = unit == "days" && {
                    val dimId = view.dims.indexWhere(_.name == d)
                    val hasCoord = dimId >= 0 && view.vars.exists(x =>
                      x.name == d && x.dimIds == Seq(dimId))
                    !hasCoord || {
                      val n = math.min(view.dims(dimId).length, 1000)
                      view.slab(d, 0, n).forall(v => v == math.floor(v))
                    }
                  }
                  if (wholeDays)
                    // floor, not cast: -0.5 belongs to the PRIOR day
                    df.withColumn(d,
                      date_add(to_date(lit(base)),
                        floor(col(d)).cast("int")))
                  else
                    df.withColumn(d, timestamp_seconds(
                      unix_timestamp(to_timestamp(lit(base))) +
                        (col(d) * secs).cast("long")))
                case _ => df
              }
            }
          }
        val built = CubeOps.buildN(timeConverted, measure, exp, imp,
          args.getOrElse("container", "container"), path)
        // subset at import (reference importnc subset_dims/subset_filter/
        // subset_type args): same semantics as a follow-up oph_subset,
        // but the predicate prunes the very first scan
        val c0 =
          if (args.contains("subset_filter") || args.contains("subset_dims"))
            applySubset(built, args)
          else built
        // fragmentation knobs (reference storage layout: nhost hosts x
        // ndbms x ndb x nfrag fragments): map the requested fragment
        // count onto Spark partitioning, hash-distributed on the first
        // explicit dim so same-key rows stay co-located like rows of
        // one fragment do
        // a named host_partition (oph_cluster deploy) supplies the
        // host count when nhost isn't given explicitly
        val partHosts = args.get("host_partition").map(p =>
          hostPartitions.getOrElse(p, throw new Engine.EngineError(
            s"import: no host partition '$p' deployed")))
        val fragKnobs = Seq("nhost", "ndbms", "ndb", "nfrag")
          .map(k => args.get(k).map(_.toInt))
          .updated(0, args.get("nhost").map(_.toInt).orElse(partHosts))
        val c =
          if (fragKnobs.forall(_.isEmpty)) c0
          else {
            val parts = fragKnobs.flatten.product max 1
            val df = exp.headOption match {
              case Some(d) => c0.df.repartition(parts, col(d))
              case None => c0.df.repartition(parts)
            }
            Cube(df, c0.desc)
          }
        val pid = register(c, args.getOrElse("container", "container"),
          args.getOrElse("cwd", "/"), sourceTask = Some(op))
        // import the source's global attributes as cube metadata
        // (reference import_metadata, default yes) — the header-only
        // read costs KBs
        if (isNc && !args.get("import_metadata").contains("no"))
          paths.foreach { p =>
            graft.sources.NcView.open(p).gatts.foreach { case (k, v) =>
              catalog.setMetadata(idOf(pid), k, v)
            }
          }
        TaskResult(JobStatus.Completed, cubePid = Some(pid))

      case "oph_concatnc" | "oph_concatnc2" =>
        // append new source data to an existing cube along the implicit
        // dim (incremental union + in-cell concat)
        val (pid, c) = needCube()
        val path = resolvePath(args.getOrElse("src_path",
          throw new Engine.EngineError("concatnc: missing src_path")))
        val measure = c.desc.measure
        // real NetCDF sources go through the dual-format DSv2
        // (record-dim aware — appending along time IS the record-dim
        // use case); magic dispatch like importnc, so `.nc4` and
        // HDF5-in-`.nc` route correctly
        val raw =
          if (graft.sources.NcView.isNetcdf(path))
            spark.read.format("netcdf3").option("measure", measure).load(path)
          else spark.read.parquet(path)
        val addition = CubeOps.build(raw, measure,
          c.desc.explicitDims.map(_.name),
          c.desc.implicitDims.headOption.map(_.name),
          containerOf(pid), path)
        val out =
          if (c.hasImplicit) CubeOps.mergecubes(c, addition)
          else Cube(c.df.unionByName(addition.df), c.desc)
        val newPid = register(out, containerOf(pid), parents = Seq(idOf(pid)),
          sourceTask = Some(op))
        TaskResult(JobStatus.Completed, cubePid = Some(newPid))

      case "oph_randcube" | "oph_randcube2" =>
        val nrows = args.getOrElse("nrows", "100").toLong
        val seed = args.getOrElse("seed", "42").toLong
        // dim_size=n1|n2 selects the 2-implicit-dim generator — the
        // reference's multi-dim randcube2 (`oph_json_objkeys.h:104`)
        val sizes = args.get("dim_size").map(_.split('|').toSeq.map(_.toInt))
          .getOrElse(Seq(args.getOrElse("array_length", "16").toInt))
        val c =
          if (op == "oph_randcube2" || sizes.size == 2) {
            val Seq(n1, n2) = sizes.padTo(2, 4).take(2)
            CubeOps.randcube2(spark, nrows, n1, n2, seed)
          } else CubeOps.randcube(spark, nrows, sizes.head, seed)
        val pid = register(c, args.getOrElse("container", "rand"),
          args.getOrElse("cwd", "/"), sourceTask = Some(op))
        TaskResult(JobStatus.Completed, cubePid = Some(pid))

      case "oph_subset" | "oph_subset2" =>
        val (pid, c) = needCube()
        val out = applySubset(c, args)
        val newPid = register(out, containerOf(pid), parents = Seq(idOf(pid)),
          sourceTask = Some(op))
        TaskResult(JobStatus.Completed, cubePid = Some(newPid))

      case "oph_reduce" | "oph_reduce2" =>
        val (pid, c) = needCube()
        val operation = args.getOrElse("operation", "avg")
        val out = args.get("dim") match {
          case Some(d) if c.desc.implicitDims.size >= 2 &&
              c.desc.implicitDims.exists(_.name == d) =>
            CubeOps.reduceN(c, d, operation) // reduce along the named dim
          case _ =>
            CubeOps.reduce(c, operation, args.get("group_size").map(_.toInt))
        }
        val newPid = register(out, containerOf(pid), parents = Seq(idOf(pid)),
          sourceTask = Some(op))
        TaskResult(JobStatus.Completed, cubePid = Some(newPid))

      case "oph_aggregate" | "oph_aggregate2" =>
        val (pid, c) = needCube()
        val operation = args.getOrElse("operation", "sum")
        // concept_level routes through the hierarchy to the derived
        // grouping expression — the real oph_aggregate2 path the
        // reference drives from `concept_level`/`hierarchy` args
        val out = args.get("concept_level") match {
          case Some(levelName) =>
            val hierarchy = args.getOrElse("hierarchy", "oph_time")
            if (!Engine.hierarchies.getOrElse(hierarchy, Seq.empty)
                .contains(levelName.toLowerCase))
              throw new Engine.EngineError(
                s"aggregate2: level '$levelName' not in hierarchy '$hierarchy'")
            val dim = args.getOrElse("dim", c.explicitDimNames.last)
            val (levelExpr, lname) = Engine.conceptLevelExpr(levelName)
            CubeOps.aggregate2(c, dim, levelExpr, s"${dim}_$lname", operation)
          case None =>
            val keep = args.get("group_by").map(_.split('|').toSeq)
              .getOrElse(c.explicitDimNames.dropRight(1))
            if (c.hasImplicit) CubeOps.aggregateArrays(c, keep, operation)
            else CubeOps.aggregate(c, keep, operation)
        }
        val newPid = register(out, containerOf(pid), parents = Seq(idOf(pid)),
          sourceTask = Some(op))
        TaskResult(JobStatus.Completed, cubePid = Some(newPid))

      case "oph_apply" =>
        val (pid, c) = needCube()
        val query = args.getOrElse("query", "measure")
        // level bumps like every other transform (subset/reduce/
        // permute/aggregate all do) — massive level-filters must be
        // able to select apply outputs distinctly from their inputs
        val out = c.copy(
          df = c.df.withColumn(c.desc.measure,
            ArrayPrimitives(query, c.df(c.desc.measure))),
          desc = c.desc.copy(level = c.desc.level + 1))
        val newPid = register(out, containerOf(pid), parents = Seq(idOf(pid)),
          sourceTask = Some(op))
        TaskResult(JobStatus.Completed, cubePid = Some(newPid))

      case "oph_intercube" | "oph_intercube2"
          if op == "oph_intercube" || !args.contains("cubes") =>
        val (pid, a) = needCube()
        val pid2 = args.getOrElse("cube2",
          throw new Engine.EngineError("intercube: missing cube2"))
        val b = cube(pid2).getOrElse(
          throw new Engine.EngineError(s"unknown cube2 $pid2"))
        val out = CubeOps.intercube(a, b,
          args.getOrElse("operation", "sub"),
          args.getOrElse("output_measure", a.desc.measure),
          args.get("missingvalue").map(_.toDouble))
        val newPid = register(out, containerOf(pid),
          parents = Seq(idOf(pid), idOf(pid2)), sourceTask = Some(op))
        TaskResult(JobStatus.Completed, cubePid = Some(newPid))

      case "oph_intercube2" =>
        // N-cube form (`cubes=pid|pid|...`): elementwise
        // sum/avg/mul/max/min across every listed cube
        val pids = args("cubes").split('|').toSeq.filter(_.nonEmpty)
        require(pids.size >= 2, "intercube2: need >= 2 cubes")
        val cs = pids.map(p => cube(p).getOrElse(
          throw new Engine.EngineError(s"unknown cube $p")))
        val out = CubeOps.intercubeN(cs,
          args.getOrElse("operation", "sum"),
          args.getOrElse("output_measure", cs.head.desc.measure),
          args.get("missingvalue").map(_.toDouble))
        val newPid = register(out, containerOf(pids.head),
          parents = pids.map(idOf), sourceTask = Some(op))
        TaskResult(JobStatus.Completed, cubePid = Some(newPid))

      case "oph_mergecubes" | "oph_mergecubes2" =>
        val pids = args.getOrElse("cubes", args.getOrElse("cube", ""))
          .split('|').toSeq.filter(_.nonEmpty)
        require(pids.size >= 2, "mergecubes: need >=2 cubes")
        val cs = pids.map(p => cube(p).getOrElse(
          throw new Engine.EngineError(s"unknown cube $p")))
        val out =
          if (op == "oph_mergecubes2")
            CubeOps.mergecubes2(pids.zip(cs), "source_cube")
          else cs.reduce(CubeOps.mergecubes(_, _))
        val newPid = register(out, containerOf(pids.head),
          parents = pids.map(idOf), sourceTask = Some(op))
        TaskResult(JobStatus.Completed, cubePid = Some(newPid))

      case "oph_rollup" =>
        val (pid, c) = needCube()
        val dim = args.getOrElse("ndim", c.explicitDimNames.last)
        val out = CubeOps.rollup(c, dim)
        val newPid = register(out, containerOf(pid), parents = Seq(idOf(pid)),
          sourceTask = Some(op))
        TaskResult(JobStatus.Completed, cubePid = Some(newPid))

      case "oph_drilldown" =>
        val (pid, c) = needCube()
        val out = CubeOps.drilldown(c)
        val newPid = register(out, containerOf(pid), parents = Seq(idOf(pid)),
          sourceTask = Some(op))
        TaskResult(JobStatus.Completed, cubePid = Some(newPid))

      case "oph_permute" | "oph_permute2" =>
        val (pid, c) = needCube()
        // permutation_order names the implicit dims in their NEW order
        // ('|' or ',' separated) — reference arg `permutation`
        val order = args.get("permutation_order")
          .orElse(args.get("permutation"))
          .map(_.split("[|,]").toSeq.map(_.trim).filter(_.nonEmpty))
        val dimNames = c.desc.implicitDims.map(_.name)
        val out = order match {
          case Some(want) if want == dimNames =>
            CubeOps.duplicate(c) // identity permutation
          case Some(want) if want.sorted != dimNames.sorted =>
            throw new Engine.EngineError(
              s"permute: '$op' order ${want.mkString(",")} does not match " +
                s"implicit dims ${dimNames.mkString(",")}")
          case Some(want) =>
            CubeOps.permuteN(c, want) // any rank, any order
          case None if op == "oph_permute2" || dimNames.size == 2 =>
            CubeOps.permute2(c)
          case None => CubeOps.permuteReverse(c)
        }
        val newPid = register(out, containerOf(pid), parents = Seq(idOf(pid)),
          sourceTask = Some(op))
        TaskResult(JobStatus.Completed, cubePid = Some(newPid))

      case "oph_deletecontainer" =>
        catalog.deleteContainer(args.getOrElse("container", "container"),
          args.getOrElse("cwd", "/"),
          force = args.get("force").exists(_.equalsIgnoreCase("yes")))
        TaskResult(JobStatus.Completed, message = "container deleted")

      case "oph_restorecontainer" =>
        val c = catalog.restoreContainer(args.getOrElse("container", "container"))
        TaskResult(JobStatus.Completed, message = s"restored ${c.name}")

      case "oph_movecontainer" =>
        // named reference operator (`oph_json_objkeys.h:127`): move or
        // rename a container; ids — and therefore cube PIDs, which
        // embed the container id — survive the move
        val src = args.getOrElse("container",
          throw new Engine.EngineError("movecontainer: missing 'container'"))
        val dest = args.get("container_output").orElse(args.get("dest"))
          .getOrElse(throw new Engine.EngineError(
            "movecontainer: missing 'container_output'"))
        val c = catalog.moveContainer(src, dest, args.getOrElse("cwd", "/"))
        TaskResult(JobStatus.Completed,
          message = s"moved to ${c.folder}/${c.name}")

      case "oph_duplicate" =>
        val (pid, c) = needCube()
        val newPid = register(CubeOps.duplicate(c), containerOf(pid),
          parents = Seq(idOf(pid)), sourceTask = Some(op))
        TaskResult(JobStatus.Completed, cubePid = Some(newPid))

      case "oph_delete" =>
        val (pid, _) = needCube()
        dropCube(pid)
        catalog.deleteCube(idOf(pid))
        TaskResult(JobStatus.Completed, message = s"deleted $pid")

      case "oph_explorecube" =>
        // peek with optional subset before the limit — the SAME subset
        // routing as oph_subset (implicit dims, coord semantics, `end`).
        // Reference objkey trio (`oph_json_objkeys.h:81-83`):
        // explorecube_data (the grid) always; explorecube_summary
        // (total vs displayed rows) at level>=2; explorecube_dimvalues
        // (per-dimension value lists) with show_index=yes
        val (_, c) = needCube()
        val limit = args.getOrElse("limit_filter", "100").toInt
        val sub = applySubset(c, args)
        val wantSummary =
          args.get("level").flatMap(_.toIntOption).exists(_ >= 2)
        val wantDims =
          args.get("show_index").exists(_.equalsIgnoreCase("yes"))
        // the full scans (the counting pass, one per dimension) each
        // re-run the subset plan — cache it when more than one follows
        val scans = (if (wantSummary) 1 else 0) +
          (if (wantDims) sub.desc.explicitDims.size else 0)
        if (scans > 1) sub.df.persist()
        try {
          // one Spark execution yields the shown rows and, for the
          // summary, the total; the task's grid holds just those rows
          val shown = math.min(limit, ResponseWriter.MaxGridRows)
          val (schema, head, total) = InternalRowBridge.headAndCount(
            sub.df, shown, wantSummary, "explorecube")
          val summary = total.map(t => TextObj("explorecube_summary",
            "Summary", s"total rows: $t; displayed: ${math.min(t, shown)}"))
          val dimValues = Option.when(wantDims)(Grid("explorecube_dimvalues",
            "Dimension Values", keys = Seq("DIMENSION", "VALUES"),
            fieldTypes = Seq("string", "string"),
            values = sub.desc.explicitDims.map { d =>
              Seq(d.name, sub.df.select(sub.df(d.name)).distinct()
                .orderBy(sub.df(d.name)).limit(limit).collect()
                .map(r => ResponseWriter.cell(r.get(0))).mkString("|"))
            }))
          answer(ResponseWriter.gridOf(op, op, schema, head),
            aux = summary.toSeq ++ dimValues)
        } finally if (scans > 1) sub.df.unpersist(blocking = false)

      case "oph_cubeschema" =>
        val (_, c) = needCube()
        answer(schemaGrid(c))

      case "oph_cubesize" =>
        val (_, c) = needCube()
        answer(frameGrid(CubeOps.cubesize(c)))

      case "oph_cubeelements" =>
        val (_, c) = needCube()
        answer(frameGrid(CubeOps.cubeelements(c)))

      case "oph_exportcsv" | "oph_exportnc" | "oph_exportnc2" =>
        val (exportPid, c) = needCube()
        val out = resolvePath(args.getOrElse("output_path",
          throw new Engine.EngineError("export: missing output_path")))
        // cube metadata travels as global attributes (symmetric with
        // importnc's attribute import), after the fixed provenance keys
        val exportGatts: Seq[(String, String)] =
          Seq("source" -> "graft", "measure" -> c.desc.measure) ++
            catalog.cube(idOf(exportPid)).map(_.metadata).getOrElse(Map.empty)
              .toSeq.sortBy(_._1).filterNot(kv =>
                kv._1 == "source" || kv._1 == "measure")
        // shared by both NetCDF branches: encode every exportable
        // column to double UNDER ITS OWN NAME (dates as epoch days,
        // timestamps as epoch seconds, nulls as NaN downstream);
        // non-encodable (string) columns are reported as dropped
        def encodePlan(): (org.apache.spark.sql.DataFrame, Seq[String], Seq[String]) = {
          import org.apache.spark.sql.types._
          val flat = c.flatten
          val encodable = flat.schema.fields.collect {
            case f if f.dataType.isInstanceOf[NumericType] =>
              f.name -> col(f.name).cast("double").as(f.name)
            case f if f.dataType == DateType =>
              f.name -> datediff(col(f.name), lit("1970-01-01"))
                .cast("double").as(f.name)
            case f if f.dataType == TimestampType =>
              f.name -> unix_timestamp(col(f.name)).cast("double").as(f.name)
          }.toSeq
          val dropped = flat.schema.fieldNames.toSeq
            .filterNot(encodable.map(_._1).contains)
          if (encodable.isEmpty)
            throw new Engine.EngineError("exportnc: no encodable columns")
          (flat.select(encodable.map(_._2): _*), encodable.map(_._1), dropped)
        }
        if (out.endsWith(".nc4")) {
          // NetCDF-4/HDF5 output: distributed chunk deflate on the
          // executors, metadata + sidecar streaming on the driver
          // (see NetCDF4.writeTableDistributed for the scale shape)
          val (dfEnc, _, dropped) = encodePlan()
          // fletcher32=yes adds per-chunk checksums (the netcdf-c
          // nc_def_var_fletcher32 surface); shuffle=yes the byte
          // transpose that improves deflate on slowly-varying doubles
          val total = graft.sources.NetCDF4.writeTableDistributed(
            dfEnc, out, gatts = exportGatts,
            shuffle = args.get("shuffle").exists(_.equalsIgnoreCase("yes")),
            fletcher32 =
              args.get("fletcher32").exists(_.equalsIgnoreCase("yes")))
          TaskResult(JobStatus.Completed,
            message = s"exported $total rows to $out (netcdf4)" +
              (if (dropped.nonEmpty)
                s" (dropped non-encodable: ${dropped.mkString(",")})" else ""))
        } else if (out.endsWith(".nc")) {
          // real NetCDF-3 classic output: table-style encoding — a
          // 'row' dimension with the measure and every encodable dim as
          // variables. DISTRIBUTED write, no row cap: one sizing pass
          // per partition, then executors fill disjoint offset-addressed
          // slabs of the single classic file in parallel (classic is
          // single-file by spec, so this assumes a shared filesystem —
          // same as the reference's server-side export directory).
          val (dfEnc, names, dropped) = encodePlan()
          // pass 1: per-partition row counts -> each partition's start row
          val counts = dfEnc.rdd
            .mapPartitionsWithIndex { case (i, it) =>
              var n = 0L; while (it.hasNext) { it.next(); n += 1 }
              Iterator(i -> n)
            }.collect().sortBy(_._1).map(_._2)
          val total = counts.sum
          if (total > Int.MaxValue - 8)
            throw new Engine.EngineError(
              s"exportnc: $total rows exceed the classic 'row' dimension; split the cube first")
          if (total == 0) {
            // degenerate: a zero-length FIXED dim would parse as the
            // record dim, so write the empty table driver-side
            graft.sources.NetCDF3.write(out,
              Seq(graft.sources.NetCDF3.Dim("row", 0)),
              names.map(n => (n, Seq(0), Array.empty[Double])),
              gatts = exportGatts)
            return TaskResult(JobStatus.Completed,
              message = s"exported 0 rows to $out")
          }
          val dims = Seq(graft.sources.NetCDF3.Dim("row", total.toInt))
          val begins = graft.sources.NetCDF3.writeTableHeader(out, dims,
            names.map(n => (n, Seq(0))),
            gatts = exportGatts)
          val starts = counts.scanLeft(0L)(_ + _)
          val nVars = names.size
          // pass 2: each partition buffers its column slabs and issues
          // one positioned write per variable — writers never overlap.
          // The sizing pass re-evaluates the plan, so a nondeterministic
          // plan could shift rows between partitions: verify each
          // partition still matches its pass-1 count and fail LOUDLY
          // rather than write overlapping/corrupt slabs
          dfEnc.rdd.mapPartitionsWithIndex { case (pi, it) =>
            val bufs = Array.fill(nVars)(
              new scala.collection.mutable.ArrayBuilder.ofDouble)
            while (it.hasNext) {
              val r = it.next()
              var j = 0
              while (j < nVars) {
                bufs(j) += (if (r.isNullAt(j)) Double.NaN else r.getDouble(j))
                j += 1
              }
            }
            val slabs = bufs.map(_.result())
            if (slabs.headOption.exists(_.length != counts(pi)))
              throw new IllegalStateException(
                s"exportnc: partition $pi produced ${slabs.head.length} rows " +
                  s"but the sizing pass saw ${counts(pi)} — nondeterministic " +
                  "plan; persist the cube before exporting")
            var j = 0
            while (j < nVars) {
              graft.sources.NetCDF3.writeSlab(out, begins(j), starts(pi),
                slabs(j))
              j += 1
            }
            Iterator.single(pi)
          }.count()
          TaskResult(JobStatus.Completed,
            message = s"exported $total rows to $out" +
              (if (dropped.nonEmpty)
                s" (dropped non-encodable: ${dropped.mkString(",")})" else ""))
        } else {
          c.flatten.write.mode("overwrite").option("header", "true").csv(out)
          TaskResult(JobStatus.Completed, message = s"exported to $out")
        }

      case "oph_split" =>
        val (pid, c) = needCube()
        val out = CubeOps.split(c, args.getOrElse("nsplit", "2").toInt)
        val newPid = register(out, containerOf(pid), parents = Seq(idOf(pid)),
          sourceTask = Some(op))
        TaskResult(JobStatus.Completed, cubePid = Some(newPid))

      case "oph_merge" =>
        val (pid, c) = needCube()
        val out = CubeOps.merge(c, args.getOrElse("nmerge", "1").toInt)
        val newPid = register(out, containerOf(pid), parents = Seq(idOf(pid)),
          sourceTask = Some(op))
        TaskResult(JobStatus.Completed, cubePid = Some(newPid))

      case "oph_list" =>
        val entries = catalog.listCubes(args.getOrElse("path", "/"),
          args.getOrElse("cwd", "/"),
          recursive = args.get("recursive").exists(_.equalsIgnoreCase("yes")))
        TaskResult(JobStatus.Completed,
          message = entries.map(_.pid(catalog)).mkString("|"))

      case "oph_search" | "oph_find" =>
        val entries = catalog.search(args.getOrElse("path", "/"),
          args.getOrElse("cwd", "/"),
          measure = args.get("measure_filter"),
          metadataKey = args.get("metadata_key_filter"),
          metadataValue = args.get("metadata_value_filter"))
        TaskResult(JobStatus.Completed,
          message = entries.map(_.pid(catalog)).mkString("|"))

      case "oph_metadata" =>
        val (pid, _) = needCube()
        args.getOrElse("mode", "read") match {
          case "insert" | "update" =>
            catalog.setMetadata(idOf(pid),
              args.getOrElse("metadata_key", "key"),
              args.getOrElse("metadata_value", ""))
            TaskResult(JobStatus.Completed, message = "metadata set")
          case "delete" =>
            catalog.dropMetadata(idOf(pid), args.getOrElse("metadata_key", "key"))
            TaskResult(JobStatus.Completed, message = "metadata dropped")
          case _ =>
            val md = catalog.cube(idOf(pid)).map(_.metadata).getOrElse(Map.empty)
            TaskResult(JobStatus.Completed,
              message = md.map { case (k, v) => s"$k=$v" }.mkString(";"))
        }

      case "oph_folder" | "oph_fs" =>
        args.getOrElse("command", "ls") match {
          case "mkdir" => catalog.mkdir(args.getOrElse("path", "/"))
          case "rm"    => catalog.rmdir(args.getOrElse("path", "/"))
          case "mv"    => catalog.mv(args.getOrElse("path", "/"),
            args.getOrElse("dest", "/"))
          case _ =>
        }
        val fsPaths = catalog.listFolders(args.getOrElse("path", "/"),
          recursive = true)
        // the listing ALSO rides the response as the reference's `tree`
        // objclass (oph_json_tree.h:39-49): one node per folder, edges
        // parent -> child, root = the shallowest listed path
        val fsTree = if (fsPaths.isEmpty) None else {
          val index = fsPaths.zipWithIndex.toMap
          // fsPaths is sorted, so the listing root comes first and
          // every non-root path's parent prefix precedes it
          val links = fsPaths.drop(1).flatMap { p =>
            val cut = p.lastIndexOf('/')
            val parent = if (cut <= 0) "/" else p.substring(0, cut)
            index.get(parent)
              .map(pi => graft.core.GraphLink(pi, index(p), ""))
          }
          Some(graft.core.TreeObj("fs", "Folder Tree", None,
            rootnode = 0, nodeKeys = Seq("path"),
            nodes = fsPaths.map(p => graft.core.GraphNode(Seq(p))),
            links = links))
        }
        TaskResult(JobStatus.Completed,
          message = fsPaths.mkString("|"), aux = fsTree.toSeq)

      case "oph_cubeio" =>
        val (pid, _) = needCube()
        val edges = catalog.provenance(idOf(pid))
        TaskResult(JobStatus.Completed,
          message = edges.map(e => s"${e._1}->${e._2}").mkString("|"))

      case "oph_publish" =>
        // expose the cube under the session web space (file export +
        // catalog flag), `oph_json_objkeys.h:106`
        val (pid, c) = needCube()
        val out = args.getOrElse("output_path",
          s"/tmp/graft_publish/${catalog.sessionCode}/${idOf(pid)}")
        c.flatten.write.mode("overwrite").option("header", "true").csv(out)
        catalog.setMetadata(idOf(pid), "published", out)
        TaskResult(JobStatus.Completed, message = s"published at $out")

      case "oph_unpublish" =>
        val (pid, _) = needCube()
        catalog.dropMetadata(idOf(pid), "published")
        TaskResult(JobStatus.Completed, message = "unpublished")

      case "oph_b2drop" =>
        // remote-drop sink (the reference's B2DROP/EUDAT upload, a
        // WebDAV share addressed with ~/.netrc credentials — SURVEY
        // §2.C row; the operator body lives outside ophidia-server, so
        // this follows the public WebDAV semantics): put/get/delete a
        // file against `server`. An http(s) server takes real WebDAV
        // verbs (PUT/GET/DELETE + Basic auth from the netrc file); a
        // plain path acts as the generic local drop directory.
        val action = args.getOrElse("action", "put")
        if (!Set("put", "get", "delete").contains(action))
          throw new Engine.EngineError(s"b2drop: unknown action '$action'")
        val srcPath = args.get("src_path").map(resolvePath)
        val dest = args.getOrElse("dest_path",
          srcPath.map(p => new java.io.File(p).getName).getOrElse(
            throw new Engine.EngineError("b2drop: missing dest_path")))
        val server = args.getOrElse("server",
          throw new Engine.EngineError("b2drop: missing 'server'"))
        if (server.contains("://")) {
          // netrc (`machine <host> login <u> password <p>` stanzas,
          // optional trailing `default`): credentials are scoped to the
          // STANZA for this host — never borrowed from another host's
          // stanza (that would leak one share's password to another)
          val host = java.net.URI.create(server).getHost
          val auth = args.get("auth_path").flatMap { ap =>
            val toks = java.nio.file.Files.readString(
              java.nio.file.Paths.get(resolvePath(ap)))
              .split("\\s+").toSeq.filter(_.nonEmpty)
            val starts = toks.zipWithIndex.collect {
              case ("machine", i) => i
              case ("default", i) => i
            }
            def stanza(i: Int): Seq[String] = {
              val end = starts.find(_ > i).getOrElse(toks.size)
              toks.slice(i, end)
            }
            def fieldIn(s: Seq[String], name: String): Option[String] = {
              val i = s.indexOf(name)
              if (i >= 0 && i + 1 < s.size) Some(s(i + 1)) else None
            }
            val matched = starts.find(i =>
              toks(i) == "machine" && toks.lift(i + 1).contains(host))
              .orElse(starts.find(i => toks(i) == "default"))
            matched.map(stanza).flatMap(s => for {
              u <- fieldIn(s, "login"); p <- fieldIn(s, "password")
            } yield (u, p))
          }
          // encode each path segment (dest names with spaces or
          // non-ASCII must not blow up URI.create); empty segments
          // from a leading/trailing '/' are dropped, not doubled
          val encDest = dest.split('/').filter(_.nonEmpty).map(seg =>
            java.net.URLEncoder.encode(seg, "UTF-8").replace("+", "%20"))
            .mkString("/")
          val url = s"${server.stripSuffix("/")}/$encDest"
          val client = Engine.dropClient
          def request(u: String): java.net.http.HttpRequest.Builder = {
            val rb = java.net.http.HttpRequest.newBuilder(
              java.net.URI.create(u))
              .timeout(java.time.Duration.ofSeconds(30))
            auth.foreach { case (usr, p) =>
              rb.header("Authorization", "Basic " +
                java.util.Base64.getEncoder.encodeToString(
                  s"$usr:$p".getBytes("UTF-8")))
            }
            rb
          }
          /** Manual redirect handling: SAME-HOST hops only (the JDK
            * client would re-send our Authorization header to whatever
            * host a 302 names — a credential leak), bounded depth. */
          def send[T](build: java.net.http.HttpRequest.Builder =>
              java.net.http.HttpRequest,
              handler: java.net.http.HttpResponse.BodyHandler[T])
              : java.net.http.HttpResponse[T] = {
            // a hop is followed only when it stays on the SAME origin
            // (case-insensitive host, same port) with the same scheme —
            // or upgrades http->https. Anything else (host change,
            // https->http downgrade, port change) would hand the Basic
            // header to a different security context.
            def sameOrigin(a: java.net.URI, b: java.net.URI): Boolean = {
              val hostOk = a.getHost != null && b.getHost != null &&
                a.getHost.equalsIgnoreCase(b.getHost)
              val schemeOk = a.getScheme == b.getScheme ||
                (a.getScheme == "http" && b.getScheme == "https")
              // compare EFFECTIVE ports: a legit upgrade redirect may
              // make the scheme default explicit (http://h ->
              // https://h:443) or drop an explicit :80. An http->https
              // upgrade is fine default-to-default (80 -> 443) or on
              // the same explicit port; anything else is a new origin.
              def port(u: java.net.URI): Int =
                if (u.getPort != -1) u.getPort
                else if (u.getScheme == "https") 443 else 80
              val portOk = port(a) == port(b) ||
                (a.getScheme == "http" && b.getScheme == "https" &&
                  port(a) == 80 && port(b) == 443)
              hostOk && schemeOk && portOk
            }
            var u = url
            var hops = 0
            while (true) {
              val r = client.send(build(request(u)), handler)
              val loc = r.headers().firstValue("Location")
              if (r.statusCode() / 100 == 3 && loc.isPresent && hops < 3) {
                val cur2 = java.net.URI.create(u)
                val next = cur2.resolve(loc.get)
                if (!sameOrigin(cur2, next))
                  throw new Engine.EngineError(s"b2drop: refusing " +
                    s"redirect to '$next' (credentials are scoped to " +
                    s"${cur2.getScheme}://${cur2.getAuthority})")
                u = next.toString; hops += 1
              } else return r
            }
            sys.error("unreachable")
          }
          val resp = action match {
            case "put" =>
              val f = java.nio.file.Paths.get(srcPath.getOrElse(
                throw new Engine.EngineError("b2drop put: missing src_path")))
              send(_.PUT(java.net.http.HttpRequest.BodyPublishers
                .ofFile(f)).build(),
                java.net.http.HttpResponse.BodyHandlers.discarding())
            case "get" =>
              // download to a TEMP file and move into place only on
              // success: a 404 error body or a shorter object must
              // never clobber (or leave stale tail bytes in) the target
              val target = java.nio.file.Paths.get(srcPath.getOrElse(
                throw new Engine.EngineError("b2drop get: missing src_path")))
              val tmp = java.nio.file.Files.createTempFile(
                Option(target.getParent).getOrElse(
                  java.nio.file.Paths.get(".")), ".b2drop", ".part")
              var moved = false
              try {
                val r = send(_.GET().build(),
                  java.net.http.HttpResponse.BodyHandlers.ofFile(tmp,
                    java.nio.file.StandardOpenOption.WRITE,
                    java.nio.file.StandardOpenOption.TRUNCATE_EXISTING))
                if (r.statusCode() < 300) {
                  java.nio.file.Files.move(tmp, target,
                    java.nio.file.StandardCopyOption.REPLACE_EXISTING)
                  moved = true
                }
                r
              } finally if (!moved) java.nio.file.Files.deleteIfExists(tmp)
            case "delete" =>
              send(_.DELETE().build(),
                java.net.http.HttpResponse.BodyHandlers.discarding())
          }
          if (resp.statusCode() >= 300)
            throw new Engine.EngineError(
              s"b2drop $action $url: HTTP ${resp.statusCode()}")
          TaskResult(JobStatus.Completed,
            message = s"$action $dest on $server: HTTP ${resp.statusCode()}")
        } else {
          // generic local drop directory
          val dir = java.nio.file.Paths.get(server)
          java.nio.file.Files.createDirectories(dir)
          // dest must stay INSIDE the drop directory: a '../x' or
          // absolute dest_path would otherwise escape it
          val target = dir.resolve(dest).normalize()
          if (!target.startsWith(dir.toAbsolutePath.normalize) &&
              !target.startsWith(dir.normalize))
            throw new Engine.EngineError(
              s"b2drop: dest_path '$dest' escapes drop directory '$dir'")
          action match {
            case "put" => java.nio.file.Files.copy(
              java.nio.file.Paths.get(srcPath.getOrElse(throw
                new Engine.EngineError("b2drop put: missing src_path"))),
              target,
              java.nio.file.StandardCopyOption.REPLACE_EXISTING)
            case "get" => java.nio.file.Files.copy(target,
              java.nio.file.Paths.get(srcPath.getOrElse(throw
                new Engine.EngineError("b2drop get: missing src_path"))),
              java.nio.file.StandardCopyOption.REPLACE_EXISTING)
            case "delete" => java.nio.file.Files.deleteIfExists(target)
          }
          TaskResult(JobStatus.Completed, message = s"$action $target")
        }

      case "oph_explorenc" =>
        // explore a raw source file. Modes follow the reference's objkey
        // vocabulary (`oph_json_objkeys.h:85-91`): describe (default),
        // show_stats (explorenc_stats), show_fit (explorenc_fit),
        // wavelet (explorenc_wavelet_coeff)
        val path = resolvePath(args.getOrElse("src_path",
          throw new Engine.EngineError("explorenc: missing src_path")))
        val raw =
          if (graft.sources.NcView.isNetcdf(path)) { // magic, not extension
            val r = spark.read.format("netcdf3")
            args.get("measure").fold(r)(m => r.option("measure", m)).load(path)
          } else spark.read.parquet(path)
        import org.apache.spark.sql.types.NumericType
        def numericCols = raw.schema.fields.collect {
          case f if f.dataType.isInstanceOf[NumericType] => f.name
        }.toSeq
        // an explicitly-named column that doesn't exist is a loud error
        // (the silent-wrong-answer class the ArgSpecs layer exists to
        // prevent); only an ABSENT arg falls back to a numeric column
        def named(arg: String): Option[String] = args.get(arg).map { c =>
          if (!raw.columns.contains(c)) throw new Engine.EngineError(
            s"explorenc: no column '$c' in $path " +
              s"(have: ${raw.columns.mkString(",")})")
          c
        }
        val mcol = named("measure")
          .orElse(numericCols.lastOption)
          .getOrElse(throw new Engine.EngineError(
            "explorenc: no numeric measure column"))
        // the x axis for fit/wavelet: an explicit `dim`, else the first
        // numeric non-measure column
        def xcol = named("dim")
          .orElse(numericCols.filterNot(_ == mcol).headOption)
        val statsMask = args.getOrElse("show_stats",
          args.getOrElse("stats_mask", ""))
        val wavelet = args.getOrElse("wavelet", "no").toLowerCase
        if (statsMask.contains('1')) {
          // bit i of the mask enables statistic i (reference mask order:
          // mean|variance|std|skew|kurtosis|median|min|max|range);
          // one distributed aggregation, one row collected
          val m = col(mcol).cast("double")
          val all = Seq[(String, org.apache.spark.sql.Column)](
            "mean" -> avg(m), "variance" -> var_samp(m),
            "std" -> stddev_samp(m), "skew" -> skewness(m),
            "kurtosis" -> kurtosis(m),
            "median" -> percentile_approx(m, lit(0.5), lit(10000)),
            "min" -> min(m), "max" -> max(m),
            "range" -> (max(m) - min(m)))
          val picked = statsMask.zipWithIndex.collect {
            case ('1', i) if i < all.size => all(i)
          }.toSeq
          val sel = if (picked.nonEmpty) picked else all
          answer(frameGrid(raw.agg(sel.head._2.as(sel.head._1),
            sel.tail.map { case (n, c) => c.as(n) }: _*)))
        } else if (args.get("show_fit").exists(_.equalsIgnoreCase("yes"))) {
          // least-squares linear fit measure ~ x, computed from one
          // pass of distributed sums (no window, no collect): slope =
          // (nΣxy − ΣxΣy) / (nΣx² − (Σx)²)
          val x = xcol.map(col(_).cast("double")).getOrElse(
            throw new Engine.EngineError(
              "explorenc: show_fit needs a numeric dimension column"))
          val y = col(mcol).cast("double")
          val s = raw.agg(
            count(y).as("n"), sum(x).as("sx"), sum(y).as("sy"),
            sum(x * y).as("sxy"), sum(x * x).as("sxx")).head()
          if (s.getLong(0) == 0) throw new Engine.EngineError(
            "explorenc: show_fit over an empty input")
          val (n, sx, sy, sxy, sxx) = (s.getLong(0).toDouble,
            s.getDouble(1), s.getDouble(2), s.getDouble(3), s.getDouble(4))
          val den = n * sxx - sx * sx
          if (den == 0) throw new Engine.EngineError(
            "explorenc: degenerate x axis (zero variance)")
          val slope = (n * sxy - sx * sy) / den
          val intercept = (sy - slope * sx) / n
          answer(localGrid(Seq("measure", "dim", "slope", "intercept"),
            Seq("string", "string", "double", "double"),
            Seq(Seq(mcol, xcol.get, slope, intercept))))
        } else if (wavelet == "yes" || wavelet == "only") {
          // Haar DWT over the series (ordered by x, capped like every
          // render path — wavelets need the whole ordered series, so
          // this is the human-egress branch, not a scale path)
          val cap = args.getOrElse("limit_filter", "1024").toInt
          val ordered = xcol.map(c => raw.orderBy(col(c))).getOrElse(raw)
          val series = ordered.select(col(mcol).cast("double"))
            .limit(cap).collect().map(r =>
              if (r.isNullAt(0)) 0.0 else r.getDouble(0))
          // pad to a power of two with the last value
          val n2 = Integer.highestOneBit(math.max(1, series.length)) match {
            case p if p == series.length => p
            case p => p * 2
          }
          val data = series.padTo(n2, series.lastOption.getOrElse(0.0))
          val family = args.getOrElse("wavelet_family", "haar").toLowerCase
          val k = args.getOrElse("wavelet_coeff", "16").toInt
          // (level, pos, coeff): level 0 = finest details, the final
          // smooth at the top level
          val levels = 31 - Integer.numberOfLeadingZeros(n2)
          val coeffs: Seq[(Int, Int, Double)] =
            if (family != "haar") {
              // orthonormal DWT families (db4, ...): the shared kernel
              val fw = graft.functions.Wavelet.forward(data, family)
              (0 until levels).flatMap { l =>
                val base = n2 >> (l + 1)
                (0 until base).map(p => (l, p, fw(base + p)))
              } :+ ((levels, 0, fw(0)))
            } else {
              // Haar with pairwise averages and half-differences
              val out = Seq.newBuilder[(Int, Int, Double)]
              var avg = data.toSeq
              for (l <- 0 until levels) {
                val pairs = avg.grouped(2).toSeq
                out ++= pairs.indices.map(p =>
                  (l, p, (pairs(p)(0) - pairs(p)(1)) / 2))
                avg = pairs.map(pr => (pr(0) + pr(1)) / 2)
              }
              (out += ((levels, 0, avg.head))).result()
            }
          val top = coeffs.sortBy { case (_, _, c) => -math.abs(c) }.take(k)
          // the series reconstructed from only the retained coefficients
          val rec =
            if (family != "haar") {
              val kept = new Array[Double](n2)
              top.foreach { case (l, p, c) =>
                kept(if (l == levels) 0 else (n2 >> (l + 1)) + p) = c
              }
              graft.functions.Wavelet.inverse(kept, family)
            } else {
              val kept = top.map { case (l, p, c) => (l, p) -> c }.toMap
                .withDefaultValue(0.0)
              (levels - 1 to 0 by -1).foldLeft(Array(kept((levels, 0)))) {
                (a, l) => a.indices.flatMap(p =>
                  Seq(a(p) + kept((l, p)), a(p) - kept((l, p)))).toArray
              }
            }
          val coeffGrid = localGrid(Seq("level", "pos", "coeff"),
            Seq("int", "int", "double"),
            top.map { case (l, p, c) => Seq[Any](l, p, c) })
          if (wavelet == "only") answer(coeffGrid)
          else
            // wavelet=yes: main object = the DENOISED series
            // (explorenc_wavelet_data) reconstructed from only the
            // retained top-k coefficients; the coefficient grid rides
            // along as explorenc_wavelet_coeff
            answer(localGrid(Seq("idx", "value", "denoised"),
              Seq("int", "double", "double"),
              series.indices.map(i => Seq[Any](i + 1, series(i), rec(i)))),
              aux = Seq(coeffGrid.copy(objkey = "explorenc_wavelet_coeff",
                title = "Wavelet Coefficients",
                keys = coeffGrid.keys.map(_.toUpperCase))))
        } else answer(frameGrid(raw.describe()))

      case "oph_inspectfrag" =>
        // dump one fragment (= Spark partition): a single-partition
        // runJob — NOT a full scan; at 100 TB only the target fragment's
        // tasks run (`sc.runJob(rdd, f, Seq(frag))`)
        val (_, c) = needCube()
        val frag = args.getOrElse("frag_id", "0").toInt
        val limit = args.getOrElse("limit", "20").toInt
        val rdd = c.df.rdd
        if (frag < 0 || frag >= rdd.getNumPartitions)
          throw new Engine.EngineError(
            s"inspectfrag: no fragment $frag (0..${rdd.getNumPartitions - 1})")
        val rows = spark.sparkContext.runJob(rdd,
          (it: Iterator[org.apache.spark.sql.Row]) => it.take(limit).toArray,
          Seq(frag)).head
        TaskResult(JobStatus.Completed,
          message = rows.map(_.toString).mkString("\n"))

      case "oph_showgrid" =>
        // dimension grids of a cube: names, kinds, sizes
        val (_, c) = needCube()
        answer(schemaGrid(c))

      case "oph_hierarchy" =>
        // concept hierarchies driving aggregate2/reduce2 level exprs
        val name = args.getOrElse("hierarchy", "oph_time")
        val levels = Engine.hierarchies.getOrElse(name,
          throw new Engine.EngineError(s"unknown hierarchy '$name'"))
        TaskResult(JobStatus.Completed, message = levels.mkString("|"))

      case "oph_man" =>
        val target = args.getOrElse("function", "")
        if (Engine.operatorList.contains(target))
          TaskResult(JobStatus.Completed, message = s"$target: supported operator")
        else TaskResult(JobStatus.Completed,
          message = s"no manual entry for '$target'")

      case "oph_operators_list" =>
        TaskResult(JobStatus.Completed,
          message = Engine.operatorList.sorted.mkString("|"))

      case "oph_primitives_list" =>
        TaskResult(JobStatus.Completed,
          message = Engine.primitiveList.sorted.mkString("|"))

      case "oph_script" | "oph_generic" | "oph_cdo" =>
        // sandboxed driver-side escape hatch: allow-listed binaries only
        val script = args.getOrElse("script", "true")
        val allowed = Set("true", "echo", "date", "hostname")
        val bin = script.split("\\s+").head
        if (!allowed.contains(bin))
          throw new Engine.EngineError(s"script '$bin' not in sandbox allow-list")
        val outBuf = new StringBuilder
        val proc = new ProcessBuilder(script.split("\\s+"): _*)
          .redirectErrorStream(true).start()
        scala.io.Source.fromInputStream(proc.getInputStream)
          .getLines().foreach(l => outBuf.append(l).append('\n'))
        proc.waitFor()
        TaskResult(JobStatus.Completed, message = outBuf.toString.trim)

      case "oph_instances" =>
        // hosts / partitions listing (`oph_json_objkeys.h:110`)
        TaskResult(JobStatus.Completed, message =
          s"executors=${spark.sparkContext.statusTracker.getExecutorInfos.length};" +
          s"cores=${spark.sparkContext.defaultParallelism}")

      case "oph_tasks" | "oph_loggingbk" =>
        // task/accounting history: catalog provenance doubles as the log
        val hist = catalog.allCubes.map(e =>
          s"${e.id}:${e.sourceTask.getOrElse("import")}")
        TaskResult(JobStatus.Completed, message = hist.mkString("|"))

      // ------------------------------ management shims (info surface)
      case "oph_get_config" =>
        // the reference's server.conf surface leads with the admission
        // knobs (oph_gather.h:63-65); defaults report too, not just
        // explicitly-set conf keys
        val admission = Seq(
          s"SERVER_FARM_SIZE=$farmSize",
          s"QUEUE_SIZE=$queueSize",
          s"TASK_LIMIT=$taskLimit")
        TaskResult(JobStatus.Completed, message =
          (admission ++ spark.conf.getAll.toSeq.sortBy(_._1)
            .map { case (k, v) => s"$k=$v" }).mkString(";"))

      case "oph_cluster" =>
        // reference actions (`oph_management_operators.c:2745-2758`):
        // info (default) / info_cluster list deployments; deploy
        // allocates a named host partition; undeploy releases it
        args.getOrElse("action", "info") match {
          case "deploy" =>
            val name = args.getOrElse("host_partition",
              throw new Engine.EngineError("cluster deploy: missing host_partition"))
            val n = args.getOrElse("nhost",
              throw new Engine.EngineError("cluster deploy: missing nhost")).toInt
            if (n <= 0)
              throw new Engine.EngineError("cluster deploy: nhost must be > 0")
            if (hostPartitions.putIfAbsent(name, n).isDefined)
              throw new Engine.EngineError(
                s"cluster deploy: partition '$name' already deployed")
            TaskResult(JobStatus.Completed, message = s"$name:$n")
          case "undeploy" =>
            val name = args.getOrElse("host_partition",
              throw new Engine.EngineError("cluster undeploy: missing host_partition"))
            if (hostPartitions.remove(name).isEmpty)
              throw new Engine.EngineError(
                s"cluster undeploy: no partition '$name'")
            TaskResult(JobStatus.Completed, message = name)
          case "info" | "info_cluster" =>
            val deployed = hostPartitions.toSeq.sortBy(_._1)
              .map { case (n, h) => s"$n:$h" }.mkString("|")
            TaskResult(JobStatus.Completed, message =
              s"cores=${spark.sparkContext.defaultParallelism};" +
              s"master=${spark.sparkContext.master};partitions=$deployed")
          case other =>
            throw new Engine.EngineError(s"cluster: wrong action '$other'")
        }

      case "oph_cancel" =>
        val wfId = args.getOrElse("id", workflowSeq.toString).toInt
        if (wfId <= 0)
          throw new Engine.EngineError("oph_cancel: wrong parameter 'id'")
        // the reference's cancellation modes
        // (`src/oph_parser.h:174-176`): kill interrupts running work,
        // abort drains the running task and aborts the rest, stop
        // only halts scheduling
        val ctype = Engine.parseCancelType(args.getOrElse("type", "kill"))
          .getOrElse(throw new Engine.EngineError(
            s"oph_cancel: wrong parameter type '${args("type")}'"))
        cancelWorkflow(wfId, ctype)
        TaskResult(JobStatus.Completed,
          message = s"cancel ($ctype) sent to $wfId")

      case "oph_log_info" =>
        val n = args.getOrElse("nlines", "10").toInt
        TaskResult(JobStatus.Completed,
          message = sessions.tailLog(n).mkString("\n"))

      case "oph_manage_session" =>
        val code = args.getOrElse("session", catalog.sessionCode)
        val asUser = args.getOrElse("user", user)
        args.getOrElse("action", "list") match {
          case "list" =>
            TaskResult(JobStatus.Completed, message =
              sessions.list(asUser).map(s => s"${s.code}:${s.label}").mkString("|"))
          case "new" =>
            val s = sessions.newSession(asUser, args.getOrElse("label", ""))
            TaskResult(JobStatus.Completed, message = s.code)
          case "env" =>
            TaskResult(JobStatus.Completed, message =
              sessions.env(code, asUser).toSeq.sortBy(_._1)
                .map { case (k, v) => s"$k=$v" }.mkString(";"))
          case "listusers" =>
            TaskResult(JobStatus.Completed, message =
              sessions.listUsers(code, asUser)
                .map { case (u, r) => s"$u:$r" }.mkString("|"))
          case "setenv" =>
            sessions.setenv(code, asUser, args.getOrElse("key", "label"),
              args.getOrElse("value", ""))
            TaskResult(JobStatus.Completed, message = "ok")
          case "grant" =>
            sessions.grant(code, asUser, args.getOrElse("grantee", ""),
              args.getOrElse("role", "read"))
            TaskResult(JobStatus.Completed, message = "granted")
          case "revoke" =>
            sessions.revoke(code, asUser, args.getOrElse("grantee", ""))
            TaskResult(JobStatus.Completed, message = "revoked")
          case "disable" =>
            sessions.setActive(code, asUser, active = false)
            TaskResult(JobStatus.Completed, message = "disabled")
          case "enable" =>
            sessions.setActive(code, asUser, active = true)
            TaskResult(JobStatus.Completed, message = "enabled")
          case "remove" =>
            sessions.remove(code, asUser)
            TaskResult(JobStatus.Completed, message = "removed")
          case other =>
            throw new Engine.EngineError(s"manage_session action '$other'")
        }

      case "oph_resume" =>
        // 'this' = the working session; ACLs check the engine's own
        // principal (the `user` argument only filters listings)
        val code = args.getOrElse("session", "this") match {
          case "" | "this" => catalog.sessionCode
          case other => other
        }
        try sessions.resumeRequest(code, user, args) match {
          case graft.server.SessionService.ResumedDocument(doc) =>
            TaskResult(JobStatus.Completed, message = doc)
          case graft.server.SessionService.ResumedListing(cols, rows) =>
            answer(localGrid(cols, cols.map(_ => "string"), rows))
              .copy(message = s"${rows.size} job(s)")
        } catch {
          case e: ArgSpecs.ArgError => throw new Engine.EngineError(e.getMessage)
        }

      case "oph_sql" =>
        // SQL passthrough over the catalog: every live cube's flattened
        // relational view registers as `c<id>` (plus `<container>_<measure>`
        // for the latest of each pair), then the query runs via spark.sql
        // — the gap-analysis extension SURVEY §2.C names
        val query = args.getOrElse("query",
          throw new Engine.EngineError("oph_sql: missing 'query'"))
        catalog.allCubes.foreach { e =>
          cubes.get(e.pid(catalog)).foreach { c =>
            val flat = c.flatten
            flat.createOrReplaceTempView(s"c${e.id}")
            flat.createOrReplaceTempView(
              s"${catalog.containerNameOf(e)}_${e.measure}"
                .replaceAll("[^A-Za-z0-9_]", "_"))
          }
        }
        answer(frameGrid(spark.sql(query)))

      case "oph_service" =>
        TaskResult(JobStatus.Completed, message = "status=up")

      case other =>
        throw new Engine.EngineError(s"unknown operator '$other'")
    }
  }

  /** Shared subset routing (oph_subset + explorecube): implicit dims go
    * through the in-array HOF filter, subset_type=coord is value-based
    * (range or equality), otherwise an index predicate. A dim spec with
    * no filter means 'all' (reference default), not an error. */
  private def applySubset(c: Cube, args: Map[String, String]): Cube = {
    val dims = args.getOrElse("subset_dims", "")
    val filterOpt = args.get("subset_filter")
    val subType = args.getOrElse("subset_type", "index")
    // no filter = 'all' (reference default), whatever dims says; the
    // 'end' keyword can't resolve for explicit dims anyway
    if (filterOpt.isEmpty) c
    else {
      val filter = filterOpt.get
      if (c.desc.implicitDims.size >= 2 &&
          c.desc.implicitDims.exists(_.name == dims))
        // multi-implicit-dim cube: per-dim stride filter, NOT the flat
        // head-dim filter (wrong per-dim semantics otherwise)
        CubeOps.subsetImplicitN(c, dims, filter)
      else if (dims.isEmpty || c.desc.implicitDims.exists(_.name == dims))
        CubeOps.subsetImplicit(c, filter,
          c.desc.implicitDims.headOption.flatMap(_.size))
      else if (subType == "coord") {
        if (filter.contains(":")) {
          val Array(lo, hi) = filter.split(":", 2)
          CubeOps.subsetCoord(c, c.df(dims) >= lo && c.df(dims) <= hi)
        } else CubeOps.subsetCoord(c, c.df(dims) === filter)
      } else CubeOps.subsetIndex(c, dims, filter)
    }
  }

  private def idOf(pid: String): Long = pid.split("/").last.toLong

  private def containerOf(pid: String): String = {
    val cid = pid.split("/").dropRight(1).last.toLong
    catalog.container(cid).map(_.name).getOrElse("container")
  }
}
