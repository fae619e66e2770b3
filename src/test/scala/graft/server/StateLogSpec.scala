package graft.server

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.concurrent.{Await, Future}
import scala.concurrent.duration.Duration

import graft.SparkSpec
import graft.core.Catalog
import graft.workflow.{Engine, Workflow}

/**
 * Session and run state as append-only record logs: a save appends one
 * line, a torn last line is dropped and overwritten, any other
 * unreadable line fails the load, and the run log is compacted to its
 * live records while a restart restores exactly the live store.
 */
class StateLogSpec extends SparkSpec {

  private def tempFile(name: String): Path =
    Files.createTempDirectory("graft_statelog").resolve(name)

  private def lines(p: Path): Seq[String] =
    new String(Files.readAllBytes(p), UTF_8).split("\n", -1).toSeq

  /** Cut the last record of `p` in half: a crash mid-append. */
  private def tearLastRecord(p: Path): Unit = {
    val bytes = Files.readAllBytes(p)
    val lastStart = bytes.lastIndexOf('\n'.toByte, bytes.length - 2) + 1
    Files.write(p, bytes.take(lastStart + (bytes.length - lastStart) / 2))
  }

  private def request(name: String): String = s"""{"name": "$name",
    "tasks": [{"name": "s", "operator": "oph_set",
      "arguments": ["key=a", "value=$name"]}]}"""

  private def record(e: Engine, name: String): Unit = {
    val req = request(name)
    e.runRequest(Workflow.parse(req), Some(req))
  }

  private def engine(runs: Path) =
    new Engine(spark, new Catalog("statelog"), runStateFile = Some(runs))

  test("saving workflow 200 appends its record line, as for workflow 1") {
    val f = tempFile("session.json")
    val svc = new SessionService(Some(f))
    svc.newSession("alice", code = Some("s1"))
    def growth(): Array[Byte] = {
      val before = Files.readAllBytes(f)
      svc.saveWorkflow("s1", "request", "response")
      val after = Files.readAllBytes(f)
      assert(after.startsWith(before), "an earlier record was rewritten")
      after.drop(before.length)
    }
    val first = growth()
    (2 to 199).foreach(_ => svc.saveWorkflow("s1", "request", "response"))
    val last = growth()
    Seq(first, last).foreach { line =>
      assert(line.last == '\n' && line.count(_ == '\n') == 1)
    }
    // the same record but for the id's digits ("200" vs "1")
    assert(last.length - first.length == 2)
    assert(new String(last, UTF_8).contains("\"workflowId\":200"))
    assert(lines(f).size == 201 + 1) // the header, 200 workflows, ""
  }

  test("a torn last record is dropped and the next append lands on a " +
      "clean line") {
    val f = tempFile("session.json")
    val svc = new SessionService(Some(f))
    svc.newSession("alice", code = Some("s1"))
    svc.grant("s1", "alice", "bob", "read")
    svc.saveWorkflow("s1", "one", "r1")
    svc.newSession("carol", code = Some("s2"))
    svc.saveWorkflow("s2", "two", "r2")
    svc.saveWorkflow("s1", "torn", "r3")
    tearLastRecord(f)

    val back = new SessionService(Some(f))
    assert(back.hasRole("s1", "bob", SessionService.RoleRead))
    assert(back.ownerOf("s2").contains("carol"))
    assert(back.resume("s1", "alice", 0, "request") == "one")
    assert(back.resume("s2", "carol", 0, "request") == "two")
    assert(back.saveWorkflow("s1", "after", "r4") == 2)
    assert(lines(f).last.isEmpty && lines(f).init.forall(_.endsWith("}")))
    val again = new SessionService(Some(f))
    assert(again.resumeList("s1", "alice", "workflow", "request", 1,
      "11111111")._2.map(_.last) == Seq("one", "after"))

    // the run log follows the same rule
    val runs = tempFile("runs.json")
    val e1 = engine(runs)
    Seq("a", "b", "c").foreach(record(e1, _))
    tearLastRecord(runs)
    val e2 = engine(runs)
    assert(e2.recordedRuns.map(_._1) == Seq("a", "b"))
    assert(e2.recordedRuns == e1.recordedRuns.take(2))
    record(e2, "d")
    assert(engine(runs).recordedRuns.map(_._1) == Seq("a", "b", "d"))
  }

  test("a corrupt middle line fails the load, naming the file and line") {
    val f = tempFile("session.json")
    val svc = new SessionService(Some(f))
    svc.newSession("alice", code = Some("s1"))
    svc.saveWorkflow("s1", "one", "r1")
    svc.saveWorkflow("s1", "two", "r2")
    val ls = lines(f)
    Files.writeString(f, ls.updated(1, "{\"session\":").mkString("\n"))
    val e = intercept[IllegalStateException](new SessionService(Some(f)))
    assert(e.getMessage.contains(s"$f line 2"), e.getMessage)

    // a record of another format is no record either, wherever it is
    Files.writeString(f, ls.updated(2, "{\"runs\":[]}").mkString("\n"))
    assert(intercept[IllegalStateException](new SessionService(Some(f)))
      .getMessage.contains(s"$f line 3"))
    // a pre-log snapshot is refused, not read as a torn line
    Files.writeString(f, """{"nextCode":1,"sessions":[]}""")
    assert(intercept[IllegalStateException](new SessionService(Some(f)))
      .getMessage.contains(s"$f line 1"))

    val runs = tempFile("runs.json")
    Seq("a", "b", "c").foreach(record(engine(runs), _))
    val rl = lines(runs)
    Files.writeString(runs, rl.updated(1, "not json").mkString("\n"))
    assert(intercept[IllegalStateException](engine(runs))
      .getMessage.contains(s"$runs line 2"))
  }

  test("the run log holds at most 2 x MaxLastRuns + 1 records and " +
      "replays to the live store") {
    val runs = tempFile("runs.json")
    val e1 = engine(runs)
    var most = 0
    (1 to 10 * Engine.MaxLastRuns).foreach { i =>
      record(e1, s"wf$i")
      most = most max (lines(runs).size - 1)
    }
    assert(most <= 2 * Engine.MaxLastRuns + 1, s"$most records")
    assert(e1.recordedRuns.map(_._1) ==
      (9 * Engine.MaxLastRuns + 1 to 10 * Engine.MaxLastRuns).map(i => s"wf$i"))
    assert(engine(runs).recordedRuns == e1.recordedRuns)
  }

  test("past MaxLastRuns the run recorded longest ago is evicted") {
    val runs = tempFile("runs.json")
    val e1 = engine(runs)
    val names = (0 to Engine.MaxLastRuns).map(i => s"run$i")
    names.foreach(record(e1, _))
    assert(e1.recordedRuns.map(_._1) == names.tail)
    assert(engine(runs).recordedRuns.map(_._1) == names.tail)
    // recording a name again makes it the newest
    record(e1, "run1")
    record(e1, "extra")
    assert(e1.recordedRuns.map(_._1) ==
      names.drop(3) ++ Seq("run1", "extra"))
    assert(engine(runs).recordedRuns == e1.recordedRuns)
  }

  test("concurrent async runs are all recorded and survive a restart") {
    val runs = tempFile("runs.json")
    val e1 = engine(runs)
    val names = (1 to 8).map(i => s"async$i")
    import scala.concurrent.ExecutionContext.Implicits.global
    Await.result(Future.sequence(names.map { n =>
      val req = request(n)
      e1.runAsync(Workflow.parse(req), Some(req))
    }), Duration(120, "s"))
    // every run is in the restored checkpoint store
    assert(engine(runs).recordedRuns.map(_._1).sorted == names.sorted)
  }

  test("an empty file loads as no records") {
    val f = Files.createTempFile("graft_statelog", ".json")
    assert(new StateStore.Log(f).replay(identity).isEmpty)
    assert(new SessionService(Some(f)).list("alice").isEmpty)
    assert(engine(f).recordedRuns.isEmpty)
  }
}
