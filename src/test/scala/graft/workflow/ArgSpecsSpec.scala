package graft.workflow

import org.scalatest.funsuite.AnyFunSuite

/**
 * Goldens for the argument-descriptor layer, mirroring the checks the
 * reference's task parser performs against its XML descriptors
 * (`/root/reference/src/oph_task_parser_library.c:430-560`): unknown
 * argument, missing mandatory, value outside an enum, numeric domain.
 */
class ArgSpecsSpec extends AnyFunSuite {

  private def err(op: String, args: (String, String)*): String =
    intercept[ArgSpecs.ArgError](
      ArgSpecs.validate(op, args.toMap, hasDeps = false,
        checkValues = true)).getMessage

  private def ok(op: String, args: (String, String)*): Unit =
    ArgSpecs.validate(op, args.toMap, hasDeps = false, checkValues = true)

  test("unknown argument rejected, with a did-you-mean hint") {
    val m = err("oph_importnc", "src_path" -> "/x.nc", "measures" -> "t")
    assert(m.contains("unknown argument 'measures'"))
    assert(m.contains("did you mean 'measure'"))
  }

  test("missing mandatory argument rejected") {
    assert(err("oph_importnc", "measure" -> "t")
      .contains("missing mandatory argument 'src_path'"))
    assert(err("oph_exportnc")
      .contains("missing mandatory argument 'output_path'"))
  }

  test("the legacy input= alias satisfies src_path") {
    ok("oph_importnc", "input" -> "/x.nc", "measure" -> "t")
  }

  test("dependency edge satisfies an injectable mandatory arg") {
    ArgSpecs.validate("oph_importnc", Map("measure" -> "t"), hasDeps = true)
    // but a non-injectable mandatory still fails even with deps
    intercept[ArgSpecs.ArgError](
      ArgSpecs.validate("oph_exportnc", Map.empty, hasDeps = true))
  }

  test("enum value domain enforced") {
    assert(err("oph_reduce", "operation" -> "mean")
      .contains("value 'mean' not in"))
    ok("oph_reduce", "operation" -> "avg")
    assert(err("oph_subset", "subset_type" -> "coords")
      .contains("not in [index|coord]"))
  }

  test("numeric domain enforced (int-ness, min, max)") {
    assert(err("oph_randcube", "nrows" -> "ten")
      .contains("is not an integer"))
    assert(err("oph_randcube", "nrows" -> "0").contains("below minimum 1"))
    assert(err("oph_log_info", "nlines" -> "99999")
      .contains("above maximum 10000"))
    ok("oph_log_info", "nlines" -> "50")
  }

  test("multi-valued args check each '|' element") {
    ok("oph_subset", "subset_dims" -> "lat|lon", "subset_filter" -> "1:10|2:5")
    ok("oph_randcube", "nrows" -> "10", "array_length" -> "4",
      "dim_size" -> "4|6")
    assert(err("oph_randcube", "nrows" -> "10", "array_length" -> "4",
      "dim_size" -> "4|zero").contains("value 'zero'"))
  }

  test("system parameters accepted on any operator") {
    ok("oph_reduce", "operation" -> "max", "ncores" -> "4",
      "exec_mode" -> "sync", "description" -> "d", "on_error" -> "skip")
  }

  test("values holding workflow substitution are deferred") {
    ok("oph_reduce", "operation" -> "@op")
    ok("oph_randcube", "nrows" -> "&1", "array_length" -> "4")
  }

  test("operators without a descriptor pass through") {
    ok("oph_not_an_operator", "whatever" -> "x")
  }

  test("Workflow.validate rejects a task with a misspelled argument") {
    val spec = Workflow.Spec(name = "w", tasks = Seq(
      Workflow.Task("imp", "oph_importnc",
        arguments = Map("src_path" -> "/x.nc", "measures" -> "tas"))))
    val m = intercept[Workflow.ValidationError](
      Workflow.validate(spec)).getMessage
    assert(m.contains("task 'imp'"))
    assert(m.contains("unknown argument 'measures'"))
  }

  test("static pass (checkValues=false) still catches unknown keys") {
    intercept[ArgSpecs.ArgError](
      ArgSpecs.validate("oph_reduce", Map("operatoin" -> "avg"),
        hasDeps = false))
    // ...but not value errors (may be @var)
    ArgSpecs.validate("oph_reduce", Map("operation" -> "mean"),
      hasDeps = false)
  }

  test("every listed operator has a descriptor, and every descriptor " +
      "is listed") {
    val listed = Engine.operatorList.toSet
    val described = ArgSpecs.specs.keySet
    assert((listed -- described).isEmpty, "listed without a descriptor")
    assert((described -- listed).isEmpty, "described but not listed")
  }

  test("oph_movecontainer checks its arguments") {
    ok("oph_movecontainer", "container" -> "a", "container_output" -> "b")
    ok("oph_movecontainer", "container" -> "a", "dest" -> "b", "cwd" -> "/")
    assert(err("oph_movecontainer", "container" -> "a",
      "container_outptu" -> "b").contains("unknown argument 'container_outptu'"))
    assert(err("oph_movecontainer", "dest" -> "b")
      .contains("missing mandatory argument 'container'"))
  }
}
