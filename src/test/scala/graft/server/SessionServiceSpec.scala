package graft.server

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.core.{Catalog, JobStatus}
import graft.workflow.{Engine, Workflow}

class SessionServiceSpec extends AnyFunSuite {
  import SessionService._

  test("role bitmask: parse composites, render flag string") {
    assert(parseRole("read") == 1)
    assert(parseRole("write") == 3)        // writer = read+write
    assert(parseRole("execute") == 7)
    assert(parseRole("admin") == 15)       // administrator
    assert(parseRole("owner") == 31)       // all
    assert(renderRole(31) == "rwxao")
    assert(renderRole(0) == "-----")
    assert(renderRole(parseRole("write")) == "rw---")
    intercept[IllegalArgumentException](parseRole("root"))
  }

  test("session lifecycle: new/env/setenv/disable/remove with authz") {
    val svc = new SessionService
    val s = svc.newSession("alice", "exp1")
    assert(svc.env(s.code, "alice")("label") == "exp1")
    // bob has no role yet
    intercept[AuthError](svc.env(s.code, "bob"))
    svc.setenv(s.code, "alice", "label", "renamed")
    assert(svc.env(s.code, "alice")("label") == "renamed")
    // remove requires disable first, owner only
    intercept[AuthError](svc.remove(s.code, "bob"))
    intercept[AuthError](svc.remove(s.code, "alice"))
    svc.setActive(s.code, "alice", active = false)
    svc.remove(s.code, "alice")
    intercept[NoSuchElementException](svc.env(s.code, "alice"))
  }

  test("grant/revoke role propagation") {
    val svc = new SessionService
    val s = svc.newSession("alice")
    svc.grant(s.code, "alice", "bob", "read")
    assert(svc.list("bob").map(_.code) == Seq(s.code))
    assert(svc.listUsers(s.code, "bob").toMap.apply("bob") == "r----")
    // readers cannot grant
    intercept[AuthError](svc.grant(s.code, "bob", "carol", "read"))
    svc.grant(s.code, "alice", "bob", "admin")
    svc.grant(s.code, "bob", "carol", "write")  // admins can
    svc.revoke(s.code, "alice", "carol")
    assert(svc.list("carol").isEmpty)
    // owner role immutable
    intercept[AuthError](svc.grant(s.code, "alice", "alice", "read"))
  }

  test("workflow save + resume by id and latest") {
    val svc = new SessionService
    val s = svc.newSession("alice")
    svc.saveWorkflow(s.code, """{"name":"wf1"}""", "r1")
    svc.saveWorkflow(s.code, """{"name":"wf2"}""", "r2")
    assert(svc.resume(s.code, "alice", 1, "request").contains("wf1"))
    assert(svc.resume(s.code, "alice", 0, "response") == "r2")
    intercept[NoSuchElementException](svc.resume(s.code, "alice", 9, "request"))
  }

  test("log ring keeps the tail") {
    val svc = new SessionService
    (1 to 20).foreach(i => svc.log(s"line$i"))
    assert(svc.tailLog(3) == Seq("line18", "line19", "line20"))
  }

  test("engine integration: manage_session, resume, log_info") {
    val spark = SparkTestBase.spark
    val e = new Engine(spark, new Catalog("sess"))
    // run a workflow -> saved for resume
    e.run(Workflow.parse("""{
      "name": "wf", "tasks": [
        {"name": "s", "operator": "oph_set", "arguments": ["key=a", "value=1"]}
      ]}"""), requestJson = Some("""{"name":"wf"}"""))
    val resumed = e.runDataOperator("oph_resume",
      Map("document_type" -> "response", "id" -> "last"))
    assert(resumed.message.contains("s=Completed"))
    // the reference default (id=0) is the session job LISTING
    val listed = e.runDataOperator("oph_resume",
      Map("document_type" -> "response"))
    assert(listed.grid.get.values.size == 1)
    val req = e.runDataOperator("oph_resume",
      Map("document_type" -> "request", "id" -> "1"))
    assert(req.message.contains("wf"))
    // manage_session surface
    assert(e.runDataOperator("oph_manage_session",
      Map("action" -> "env")).message.contains("owner=graft"))
    e.runDataOperator("oph_manage_session",
      Map("action" -> "grant", "grantee" -> "bob", "role" -> "read"))
    assert(e.runDataOperator("oph_manage_session",
      Map("action" -> "listusers")).message.contains("bob:r----"))
    // log ring captured the activity
    val logTail = e.runDataOperator("oph_log_info", Map("nlines" -> "50"))
    assert(logTail.message.contains("grant bob=read"))
    assert(logTail.message.contains("workflow 1 saved"))
  }
}
