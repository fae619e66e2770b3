package graft.workflow

import graft.SparkSpec
import graft.core.{Catalog, JobStatus}

/**
 * Ported reference suites `oph_if_impl`
 * (`/root/reference/test/oph_server_test.c:~60-265`) and `oph_for_impl`
 * (`:789-1267`): each case is the reference's condition/argument
 * fixture, each assertion its expected branch selection or error.
 */
class FlowControlGoldenSpec extends SparkSpec {

  private def engine() = new Engine(spark, new Catalog("sess"),
    sleeper = _ => ())

  /** IF/ELSE workflow: which branch's oph_set runs tells us the
    * selection (branch var values 'then'/'otherwise'). */
  private def runIf(condition: String): (Engine.TaskResult, Map[String, Engine.TaskResult]) = {
    val e = engine()
    val res = e.run(Workflow.parse(s"""{
      "name": "wf", "tasks": [
        {"name": "IF", "operator": "oph_if", "on_error": "skip",
         "arguments": ["condition=$condition"]},
        {"name": "T", "operator": "oph_set",
         "arguments": ["key=branch", "value=then"]},
        {"name": "ELSE", "operator": "oph_else", "arguments": []},
        {"name": "F", "operator": "oph_set",
         "arguments": ["key=branch", "value=otherwise"]},
        {"name": "ENDIF", "operator": "oph_endif", "arguments": []}
      ]}"""))
    (res("IF"), res)
  }

  test("if 0: empty condition selects the TRUE branch") {
    val (_, res) = runIf("")
    assert(res.contains("T") && !res.contains("F"))
  }

  test("if 1: condition '1' selects the TRUE branch") {
    val (_, res) = runIf("1")
    assert(res.contains("T") && !res.contains("F"))
  }

  test("if 2: condition '0' selects the ELSE branch") {
    val (_, res) = runIf("0")
    assert(res.contains("F") && !res.contains("T"))
  }

  test("if 5/6: non-finite conditions 0/0 and 1/0 are 'Wrong condition'") {
    for (c <- Seq("0/0", "1/0")) {
      val (r, res) = runIf(c)
      assert(r.status == JobStatus.Error, s"condition $c")
      assert(r.message.contains("wrong condition"), s"condition $c")
      assert(!res.contains("T") && !res.contains("F"))
    }
  }

  test("if 9/10: unresolved 'x' and malformed '---' conditions error") {
    for (c <- Seq("x", "---", "1.2.3", ".")) {
      val (r, _) = runIf(c)
      assert(r.status == JobStatus.Error, s"condition $c")
    }
  }

  test("if: comparison chains select like the reference matheval") {
    val (_, res1) = runIf("2 > 1 %26%26 3 != 4".replace("%26%26", "&&"))
    assert(res1.contains("T"))
    val (_, res2) = runIf("1 + 1 == 3")
    assert(res2.contains("F"))
  }

  // ------------------------------------------------- oph_for_impl

  private def runFor(forArgs: String*): Map[String, Engine.TaskResult] = {
    val e = engine()
    val argJson = forArgs.map(a => s""""$a"""").mkString(",")
    e.run(Workflow.parse(s"""{
      "name": "wf", "variables": {"values": "first|second|third"},
      "tasks": [
        {"name": "FOR", "operator": "oph_for", "on_error": "skip",
         "arguments": [$argJson]},
        {"name": "OP", "operator": "oph_randcube",
         "arguments": ["nrows=2", "array_length=2", "container=c"]},
        {"name": "ENDFOR", "operator": "oph_endfor", "arguments": []}
      ]}"""))
  }

  test("for: default arguments run a single iteration") {
    val res = runFor()
    assert(res("FOR").status == JobStatus.Completed)
    assert(res("FOR").message.contains("1 values"))
    assert(res.contains("OP_1"))
  }

  test("for 1: values from a workflow variable iterate all entries") {
    val res = runFor("key=index", "values=@values")
    assert(res("FOR").message.contains("3 values"))
    assert(res.contains("OP_1") && res.contains("OP_2") && res.contains("OP_3"))
  }

  test("for 7: parallel=yes runs every branch") {
    val res = runFor("key=index", "values=a|b|c", "parallel=yes")
    assert(res("FOR").status == JobStatus.Completed)
    assert(res.contains("OP_1") && res.contains("OP_2") && res.contains("OP_3"))
  }

  test("for 8: invalid loop key '1ndex' errors") {
    val res = runFor("key=1ndex", "values=a|b")
    assert(res("FOR").status == JobStatus.Error)
    assert(res("FOR").message.contains("invalid variable name"))
    assert(!res.contains("OP_1"), "the loop body must not run")
  }

  test("for 12: unresolved key '@badvariable' errors") {
    val res = runFor("key=@badvariable", "values=a|b")
    assert(res("FOR").status == JobStatus.Error)
  }

  test("for 13: unresolved @badvariable VALUES stay literal and iterate") {
    val res = runFor("key=index", "values=@badvariable")
    assert(res("FOR").status == JobStatus.Completed)
    assert(res("FOR").message.contains("1 values"))
  }

  test("for: counter subset strings drive the iteration count") {
    val res = runFor("key=index", "counter=1:2:5")
    assert(res("FOR").message.contains("3 values")) // 1,3,5
  }

  test("for: on_error=abort marks the remainder aborted") {
    val e = engine()
    val res = e.run(Workflow.parse("""{
      "name": "wf", "tasks": [
        {"name": "FOR", "operator": "oph_for",
         "arguments": ["key=1bad"]},
        {"name": "OP", "operator": "oph_randcube",
         "arguments": ["nrows=2", "array_length=2", "container=c"]},
        {"name": "ENDFOR", "operator": "oph_endfor", "arguments": []},
        {"name": "AFTER", "operator": "oph_randcube",
         "arguments": ["nrows=2", "array_length=2", "container=c"]}
      ]}"""))
    assert(res("FOR").status == JobStatus.Error)
    assert(res("AFTER").status == JobStatus.Aborted)
  }
}
