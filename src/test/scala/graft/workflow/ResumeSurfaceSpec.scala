package graft.workflow

import graft.SparkSpec
import graft.core.{Catalog, JobStatus}

/** oph_resume's full reference surface (`/root/reference/src/
  * oph_execute_main.c:2167-2900`, arg constants `src/oph_parser.h:
  * 151-161`): id_type=workflow|marker, level 0-5, document_type
  * request|response, status_filter class mask — a golden matrix over a
  * recorded workflow carrying every status class we can produce. */
class ResumeSurfaceSpec extends SparkSpec {

  // one engine, two recorded workflows:
  //   wf1: completed data task, run=no skip, an on_error=skip failure,
  //        a 2-iteration loop producing LIGHT task instances
  //   wf2: a single completed task (latest-document checks)
  private lazy val eng = {
    val e = new Engine(spark, new Catalog("sess"))
    e.run(Workflow.parse("""{
      "name": "hist", "tasks": [
        {"name": "make", "operator": "oph_randcube",
         "arguments": ["nrows=4", "array_length=4", "container=c"]},
        {"name": "skipme", "operator": "oph_randcube",
         "arguments": ["nrows=4", "array_length=4", "container=c"],
         "run": "no"},
        {"name": "boom", "operator": "oph_apply",
         "arguments": ["query=oph_no_such_primitive(measure)"],
         "on_error": "skip",
         "dependencies": [{"task": "make", "type": "single"}]},
        {"name": "loop", "operator": "oph_for",
         "arguments": ["key=i", "counter=1:2"]},
        {"name": "lite", "operator": "oph_apply",
         "arguments": ["query=oph_mul_scalar(measure, @i)"],
         "dependencies": [{"task": "make", "type": "single"}]},
        {"name": "loop_end", "operator": "oph_endfor"}
      ]}"""))
    e.run(Workflow.parse("""{
      "name": "second", "tasks": [
        {"name": "only", "operator": "oph_randcube",
         "arguments": ["nrows=4", "array_length=4", "container=c"]}
      ]}"""))
    e
  }

  private def resume(args: (String, String)*): Engine.TaskResult =
    eng.runDataOperator("oph_resume", args.toMap)

  private def rows(r: Engine.TaskResult): Seq[Map[String, String]] = {
    val g = r.grid.get
    g.values.map(row => g.keys.zip(row).toMap)
  }

  test("default listing: one row per workflow with EXIT STATUS") {
    val r = resume()
    val rs = rows(r)
    assert(r.grid.get.keys == Seq("OPH JOB ID",
      "SESSION CODE", "WORKFLOW ID", "MARKER ID", "CREATION DATE",
      "EXIT STATUS"))
    assert(rs.map(_("WORKFLOW ID")) == Seq("1", "2"))
    // wf1 carries the on_error=skip failure -> aggregate ERROR
    assert(rs(0)("EXIT STATUS") == "Error")
    assert(rs(1)("EXIT STATUS") == "Completed")
    // the job id triple embeds session, workflow and its own marker
    assert(rs(1)("OPH JOB ID") ==
      s"sess#2#${rs(1)("MARKER ID")}")
  }

  test("level 0 reports a progress ratio instead of the exit status") {
    val rs = rows(resume("level" -> "0"))
    assert(rs.head.contains("PROGRESS RATIO"))
    val ratio = rs.head("PROGRESS RATIO").toDouble
    assert(ratio > 0.0 && ratio < 1.0, s"wf1 ratio $ratio")
    assert(rows(resume("level" -> "0"))(1)("PROGRESS RATIO").toDouble == 1.0)
  }

  test("document_type=request lists the submitted workflow documents") {
    val rs = rows(resume("document_type" -> "request"))
    assert(rs.head.contains("COMMAND"))
    // raw-JSON request was not provided (spec-level run), so the
    // workflow NAME stands in as the reference's command string
    assert(rs.map(_("COMMAND")) == Seq("hist", "second"))
  }

  test("marker listing level>=3 includes light tasks; level 1 does not") {
    val deep = rows(resume("id_type" -> "marker", "level" -> "3"))
    val shallow = rows(resume("id_type" -> "marker", "level" -> "1"))
    val deepNames = deep.map(_("OPH JOB ID"))
    assert(deep.size > shallow.size)
    // light instances are iteration-suffixed: their commands carry the
    // substituted loop variable
    val lite = rows(resume("id_type" -> "marker", "level" -> "3",
      "document_type" -> "request"))
      .filter(_("COMMAND").contains("oph_mul_scalar"))
    assert(lite.size == 2)
    assert(lite.exists(_("COMMAND").contains("measure, 1")))
    assert(lite.exists(_("COMMAND").contains("measure, 2")))
    // every marker row carries its workflow's parent marker
    assert(deep.forall(r => r("PARENT MARKER ID").toInt > 0))
    assert(deepNames.distinct.size == deepNames.size)
  }

  test("status_filter mask selects job classes") {
    def markers(mask: String): Seq[Map[String, String]] =
      rows(resume("id_type" -> "marker", "level" -> "3",
        "status_filter" -> mask))
    val completed = markers("0001")    // class 3 only
    assert(completed.nonEmpty &&
      completed.forall(_("EXIT STATUS") == "Completed"))
    val errors = markers("00001")      // class 4 only
    assert(errors.map(_("EXIT STATUS")).distinct == Seq("Error"))
    val skipped = markers("000001")    // class 5 only
    assert(skipped.map(_("EXIT STATUS")).distinct == Seq("Skipped"))
    // default mask admits everything the three selections saw
    assert(markers("11111111").size >=
      completed.size + errors.size + skipped.size)
  }

  test("marker-id document fetch returns the task's own documents") {
    val req = rows(resume("id_type" -> "marker", "level" -> "3",
      "document_type" -> "request"))
    val boom = req.find(_("COMMAND").contains("oph_no_such_primitive")).get
    val m = boom("MARKER ID")
    val cmd = resume("id" -> m, "id_type" -> "marker",
      "document_type" -> "request").message
    assert(cmd.contains("oph_no_such_primitive"))
    val resp = resume("id" -> m, "id_type" -> "marker").message
    assert(resp.startsWith("Error"))
  }

  test("level 4 demotes id to a workflow filter over marker requests") {
    val rs = rows(resume("level" -> "4", "id" -> "1"))
    assert(rs.nonEmpty && rs.forall(_("WORKFLOW ID") == "1"))
    assert(rs.head.contains("COMMAND"))
    assert(rows(resume("level" -> "4", "id" -> "2"))
      .forall(_("WORKFLOW ID") == "2"))
  }

  test("level 5 lists both documents per marker") {
    val r = resume("level" -> "5")
    val cols = r.grid.get.keys
    assert(cols.contains("COMMAND") && cols.contains("EXIT STATUS"))
  }

  test("wrong parameters error like the reference") {
    intercept[Engine.EngineError](resume("level" -> "6"))
    intercept[Engine.EngineError](resume("id_type" -> "job"))
    intercept[Engine.EngineError](resume("document_type" -> "both"))
    intercept[Engine.EngineError](
      resume("level" -> "4", "id_type" -> "marker"))
    // a marker beyond the session's last is a wrong-parameter error
    intercept[IllegalArgumentException](
      resume("id" -> "9999", "id_type" -> "marker"))
  }

  test("workflow-id document fetch still serves request and response") {
    assert(resume("id" -> "2", "document_type" -> "request")
      .message == "second")
    assert(resume("id" -> "1").message.contains("make=Completed"))
  }

  test("marker minting resumes past a restored session's records") {
    val f = java.nio.file.Files.createTempFile("graft_sess_rs", ".json")
    java.nio.file.Files.delete(f) // engine mints fresh state here
    def wf(n: String) = Workflow.parse(s"""{
      "name": "$n", "tasks": [
        {"name": "t", "operator": "oph_randcube",
         "arguments": ["nrows=2", "array_length=2", "container=c"]}
      ]}""")
    val e1 = new Engine(spark, new Catalog("rsess"),
      sessionStateFile = Some(f))
    e1.run(wf("first"))
    val firstDoc = e1.runDataOperator("oph_resume", Map(
      "id" -> "1", "id_type" -> "marker",
      "document_type" -> "response")).message
    // "restart": a fresh engine restores the same state file
    val e2 = new Engine(spark, new Catalog("rsess"),
      sessionStateFile = Some(f))
    e2.run(wf("second"))
    // the new run's markers continue PAST the restored ones — marker 1
    // still resolves to the first run's job, and the second run's task
    // is reachable under a fresh id
    assert(e2.runDataOperator("oph_resume", Map(
      "id" -> "1", "id_type" -> "marker",
      "document_type" -> "response")).message == firstDoc)
    val markers = rows(e2.runDataOperator("oph_resume", Map(
      "id_type" -> "marker", "level" -> "3"))).map(_("MARKER ID").toInt)
    assert(markers.distinct.size == markers.size,
      s"marker ids collide across the restart: $markers")
    assert(markers.max > markers.min)
    java.nio.file.Files.deleteIfExists(f)
  }

  test("the user argument filters listings by submitter, never ACLs") {
    val e = new Engine(spark, new Catalog("subf"))
    e.run(Workflow.parse("""{
      "name": "mine", "tasks": [
        {"name": "a", "operator": "oph_randcube",
         "arguments": ["nrows=2", "array_length=2", "container=c"]}
      ]}"""), requestJson = None, submitter = Some("alice"))
    e.run(Workflow.parse("""{
      "name": "theirs", "tasks": [
        {"name": "b", "operator": "oph_randcube",
         "arguments": ["nrows=2", "array_length=2", "container=c"]}
      ]}"""), requestJson = None, submitter = Some("bob"))
    def listing(args: (String, String)*) =
      rows(e.runDataOperator("oph_resume",
        (args :+ ("document_type" -> "request")).toMap)).map(_("COMMAND"))
    assert(listing().size == 2)
    assert(listing("user" -> "alice") == Seq("mine"))
    assert(listing("user" -> "bob") == Seq("theirs"))
    assert(listing("user" -> "nobody").isEmpty)
    // marker listings filter by submitter too
    val m = rows(e.runDataOperator("oph_resume", Map("id_type" -> "marker",
      "level" -> "3", "user" -> "alice")))
    assert(m.forall(_("WORKFLOW ID") == "1")) // only workflow 1's markers
  }

  test("saved task records survive the session state file") {
    import graft.server.SessionService
    val f = java.nio.file.Files.createTempFile("graft_sess", ".json")
    val svc = new SessionService(Some(f))
    val s = svc.newSession("alice")
    svc.saveWorkflow(s.code, "req", "resp", parentMarker = 3,
      tasks = Seq(SessionService.SavedTask(1, "t1", "Completed",
        "oph_randcube nrows=4", "Completed(c/1/1)", light = false),
        SessionService.SavedTask(2, "t2_1", "Skipped", "oph_subset x=1",
          "Skipped", light = true)))
    val svc2 = new SessionService(Some(f))
    val (cols, rs) = svc2.resumeList(s.code, "alice", "marker",
      "request", 3, "11111111")
    assert(cols.last == "COMMAND")
    assert(rs.map(_(3)) == Seq("1", "2")) // marker ids
    assert(rs.map(_.last) ==
      Seq("oph_randcube nrows=4", "oph_subset x=1"))
    assert(svc2.resumeMarker(s.code, "alice", 2, "response") == "Skipped")
    assert(svc2.lastMarker(s.code) == 3)
    // light tasks drop out below level 3
    assert(svc2.resumeList(s.code, "alice", "marker", "request", 1,
      "11111111")._2.size == 1)
    java.nio.file.Files.deleteIfExists(f)
  }
}
