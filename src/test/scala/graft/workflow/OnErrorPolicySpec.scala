package graft.workflow

import graft.SparkSpec
import graft.core.{Catalog, JobStatus}

/**
 * One `on_error` policy for every task kind: a failing task records
 * Error and then follows its policy, as the reference's
 * `oph_workflow_notify` applies it to every task. Each row names a
 * task kind that fails in its own way; the policies are skip and
 * continue (resume after the task, past its closer for a block
 * opener), break (ends the enclosing serial oph_for) and abort (the
 * rest of the block is Aborted). HttpServiceSpec covers the same
 * outcome over HTTP.
 */
class OnErrorPolicySpec extends SparkSpec {

  private def engine() = new Engine(spark, new Catalog("sess"),
    sleeper = _ => ())

  /** A failing task `X` and, for a block opener, its body `XBODY` and
    * closer `XEND`, as workflow-task JSON taking the policy. */
  private case class Kind(label: String, tasks: String => String,
      isBlock: Boolean)

  private def opener(op: String, arg: String, closer: String) =
    Kind(s"$op $arg", p => s"""
      {"name": "X", "operator": "$op", "on_error": "$p",
       "arguments": ["$arg"]},
      {"name": "XBODY", "operator": "oph_set",
       "arguments": ["key=body", "value=1"]},
      {"name": "XEND", "operator": "$closer", "arguments": []},""",
      isBlock = true)

  private def leaf(op: String, args: String*) =
    Kind(s"$op ${args.mkString(" ")}", p => s"""
      {"name": "X", "operator": "$op", "on_error": "$p",
       "arguments": [${args.map(a => s""""$a"""").mkString(", ")}]},""",
      isBlock = false)

  private val kinds = Seq(
    opener("oph_for", "key=1bad", "oph_endfor"),
    opener("oph_if", "condition=1.2.3", "oph_endif"),
    opener("oph_if", "condition=0/0", "oph_endif"),
    leaf("oph_set", "key=1bad", "value=1"),
    leaf("oph_reduce", "cube=http://localhost/9/9", "operation=max"),
    leaf("oph_createcontainer", "container=@{x"))

  private def set(name: String) =
    s"""{"name": "$name", "operator": "oph_set",
       "arguments": ["key=v$name", "value=1"]}"""

  /** X's group, then NEXT, then AFTER; `loop` wraps X's group and
    * NEXT in a serial two-value oph_for named LOOP. */
  private def run(k: Kind, policy: String,
      loop: Boolean = false): Map[String, Engine.TaskResult] = {
    val body = k.tasks(policy) + set("NEXT")
    val tasks =
      if (!loop) body
      else s"""{"name": "LOOP", "operator": "oph_for",
                "arguments": ["key=n", "values=1|2"]},""" + body +
        """, {"name": "ENDLOOP", "operator": "oph_endfor", "arguments": []}"""
    engine().run(Workflow.parse(
      s"""{"name": "wf", "tasks": [$tasks, ${set("AFTER")}]}"""))
  }

  private def named(res: Map[String, Engine.TaskResult],
      s: JobStatus.Value): Set[String] =
    res.collect { case (n, r) if r.status == s => n }.toSet

  for (k <- kinds; policy <- Seq("skip", "continue")) {
    test(s"${k.label}, on_error=$policy: Error, the walk resumes after it") {
      val res = run(k, policy)
      assert(res("X").status == JobStatus.Error, res("X"))
      assert(named(res, JobStatus.Completed) == Set("NEXT", "AFTER"), res)
      assert(named(res, JobStatus.Aborted).isEmpty, res)
      assert(!res.contains("XBODY"), "a failed opener skips its body")
    }
  }

  for (k <- kinds) {
    test(s"${k.label}, on_error=break: Error, the serial loop ends") {
      val res = run(k, "break", loop = true)
      assert(res("X_1").status == JobStatus.Error, res("X_1"))
      assert(res("LOOP").status == JobStatus.Completed)
      assert(res("LOOP").message.contains("broken early"), res("LOOP"))
      assert(named(res, JobStatus.Completed) == Set("LOOP", "AFTER"), res)
      assert(named(res, JobStatus.Aborted).isEmpty, res)
      assert(!res.contains("X_2"), "no second iteration after a break")
    }

    test(s"${k.label}, on_error=abort: Error, the rest is Aborted") {
      val res = run(k, "abort")
      assert(res("X").status == JobStatus.Error, res("X"))
      assert(named(res, JobStatus.Completed).isEmpty, res)
      val rest = Set("NEXT", "AFTER") ++
        (if (k.isBlock) Set("XBODY", "XEND") else Set.empty)
      assert(named(res, JobStatus.Aborted) == rest, res)
    }
  }

  test("a bad condition inside a parallel oph_for fails its branches only") {
    val res = engine().run(Workflow.parse("""{"name": "wf", "tasks": [
      {"name": "LOOP", "operator": "oph_for",
       "arguments": ["key=n", "values=1|2|3", "parallel=yes"]},
      {"name": "X", "operator": "oph_if", "on_error": "skip",
       "arguments": ["condition=1.2.3"]},
      {"name": "XBODY", "operator": "oph_set", "arguments": ["key=b"]},
      {"name": "XEND", "operator": "oph_endif", "arguments": []},
      {"name": "NEXT", "operator": "oph_set", "arguments": ["key=c"]},
      {"name": "ENDLOOP", "operator": "oph_endfor", "arguments": []},
      {"name": "AFTER", "operator": "oph_set", "arguments": ["key=d"]}
    ]}"""))
    assert(named(res, JobStatus.Error) == Set("X_1", "X_2", "X_3"), res)
    assert(named(res, JobStatus.Completed) ==
      Set("LOOP", "NEXT_1", "NEXT_2", "NEXT_3", "AFTER"), res)
  }

  test("run=no with a bad substitution is a task Error, not a skip") {
    val res = engine().run(Workflow.parse("""{"name": "wf", "tasks": [
      {"name": "X", "operator": "oph_createcontainer", "run": "no",
       "on_error": "skip", "arguments": ["container=@{x"]},
      {"name": "NEXT", "operator": "oph_set", "arguments": ["key=c"]}
    ]}"""))
    assert(res("X").status == JobStatus.Error, res("X"))
    assert(res("X").message.contains("@{"), res("X"))
    assert(res("NEXT").status == JobStatus.Completed)
  }
}
