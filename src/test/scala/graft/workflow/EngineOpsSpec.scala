package graft.workflow

import graft.SparkSpec
import graft.core.{Catalog, JobStatus}

/** Coverage for the long tail of engine operators. */
class EngineOpsSpec extends SparkSpec {

  private def engine() = new Engine(spark, new Catalog("sess"))

  private def mk(e: Engine, n: Long = 6): String =
    e.runDataOperator("oph_randcube",
      Map("nrows" -> n.toString, "array_length" -> "4", "container" -> "c"))
      .cubePid.get

  test("importncs unions multiple files into one cube") {
    val e = engine()
    val r = e.runDataOperator("oph_importncs", Map(
      "src_path" -> s"${sf("region")}|${sf("region")}",
      "measure" -> "r_regionkey", "exp_dim" -> "r_name"))
    val c = e.cube(r.cubePid.get).get
    assert(c.df.count() == 10) // 5 regions x 2 files
  }

  test("concatnc appends along the implicit dim") {
    val e = engine()
    val imp = e.runDataOperator("oph_importnc", Map(
      "src_path" -> sf("lineitem"), "measure" -> "l_quantity",
      "exp_dim" -> "l_orderkey", "imp_dim" -> "l_linenumber"))
    val cat = e.runDataOperator("oph_concatnc",
      Map("cube" -> imp.cubePid.get, "src_path" -> sf("lineitem")))
    val before = e.cube(imp.cubePid.get).get
    val after = e.cube(cat.cubePid.get).get
    val n0 = before.df.selectExpr("sum(size(l_quantity))").head().getLong(0)
    val n1 = after.df.selectExpr("sum(size(l_quantity))").head().getLong(0)
    assert(n1 == 2 * n0)
  }

  test("rollup/drilldown/permute through the dispatch") {
    val e = engine()
    val imp = e.runDataOperator("oph_importnc", Map(
      "src_path" -> sf("lineitem"), "measure" -> "l_quantity",
      "exp_dim" -> "l_orderkey|l_linenumber"))
    val up = e.runDataOperator("oph_rollup",
      Map("cube" -> imp.cubePid.get, "ndim" -> "l_linenumber"))
    assert(e.cube(up.cubePid.get).get.hasImplicit)
    val perm = e.runDataOperator("oph_permute", Map("cube" -> up.cubePid.get))
    assert(perm.status == JobStatus.Completed)
    val down = e.runDataOperator("oph_drilldown", Map("cube" -> up.cubePid.get))
    assert(!e.cube(down.cubePid.get).get.hasImplicit)
    assert(e.cube(down.cubePid.get).get.df.count() ==
      e.cube(imp.cubePid.get).get.df.count())
  }

  test("publish exports and flags; unpublish clears") {
    val e = engine()
    val pid = mk(e)
    val dir = java.nio.file.Files.createTempDirectory("graft_pub").toString + "/out"
    val pub = e.runDataOperator("oph_publish",
      Map("cube" -> pid, "output_path" -> dir))
    assert(pub.message.contains(dir))
    val id = pid.split("/").last.toLong
    assert(e.catalog.cube(id).get.metadata.contains("published"))
    e.runDataOperator("oph_unpublish", Map("cube" -> pid))
    assert(!e.catalog.cube(id).get.metadata.contains("published"))
    assert(spark.read.option("header", "true").csv(dir).count() > 0)
  }

  test("explorecube applies subset args before the limit") {
    val e = engine()
    val imp = e.runDataOperator("oph_importnc", Map(
      "src_path" -> sf("lineitem"), "measure" -> "l_quantity",
      "exp_dim" -> "l_orderkey|l_linenumber"))
    val r = e.runDataOperator("oph_explorecube", Map(
      "cube" -> imp.cubePid.get, "subset_dims" -> "l_linenumber",
      "subset_filter" -> "2:3", "limit_filter" -> "5"))
    val g = r.grid.get
    assert(g.values.length == 5)
    assert(g.values.forall { row =>
      val ln = row(g.keys.indexOf("l_linenumber")).toInt
      ln >= 2 && ln <= 3
    })
  }

  test("explorecube subsets the IMPLICIT dim and coord values like oph_subset") {
    val e = engine()
    val imp = e.runDataOperator("oph_importnc", Map(
      "src_path" -> sf("lineitem"), "measure" -> "l_quantity",
      "exp_dim" -> "l_orderkey", "imp_dim" -> "l_linenumber"))
    // implicit-dim subset: keep the first in-array position only
    val r = e.runDataOperator("oph_explorecube", Map(
      "cube" -> imp.cubePid.get, "subset_dims" -> "l_linenumber",
      "subset_filter" -> "1", "limit_filter" -> "10"))
    // an array cell renders as ArraySeq(v1, v2, ...)
    val g = r.grid.get
    val cells = g.values.map(_(g.keys.indexOf("l_quantity")))
    assert(cells.nonEmpty && cells.forall(c =>
      c.startsWith("ArraySeq(") && !c.contains(",")))
    // coord subset on an explicit dim
    val flat = e.runDataOperator("oph_importnc", Map(
      "src_path" -> sf("lineitem"), "measure" -> "l_quantity",
      "exp_dim" -> "l_orderkey|l_linenumber"))
    val rc = e.runDataOperator("oph_explorecube", Map(
      "cube" -> flat.cubePid.get, "subset_dims" -> "l_orderkey",
      "subset_type" -> "coord", "subset_filter" -> "1:50",
      "limit_filter" -> "1000"))
    val gc = rc.grid.get
    val keys = gc.values.map(_(gc.keys.indexOf("l_orderkey")).toLong)
    assert(keys.nonEmpty && keys.forall(k => k >= 1 && k <= 50))
    // dims without a filter = 'all', not an error
    val all = e.runDataOperator("oph_explorecube", Map(
      "cube" -> flat.cubePid.get, "subset_dims" -> "l_orderkey",
      "limit_filter" -> "5"))
    assert(all.grid.get.values.size == 5)
  }

  test("oph_sql runs SQL over registered cube views") {
    val e = engine()
    val imp = e.runDataOperator("oph_importnc", Map(
      "src_path" -> sf("lineitem"), "measure" -> "l_quantity",
      "exp_dim" -> "l_orderkey|l_linenumber", "container" -> "li"))
    val id = imp.cubePid.get.split("/").last
    val r = e.runDataOperator("oph_sql", Map(
      "query" -> s"SELECT count(*) AS n, round(sum(l_quantity), 2) AS s FROM c$id"))
    val row = r.grid.get.values.head
    assert(row(0).toLong > 0)
    // the container_measure alias view works too
    val r2 = e.runDataOperator("oph_sql", Map(
      "query" -> "SELECT max(l_orderkey) AS m FROM li_l_quantity"))
    assert(r2.grid.get.values.head.head.toLong > 0)
    intercept[Engine.EngineError](e.runDataOperator("oph_sql", Map.empty))
  }

  test("explorenc describes a raw source") {
    val e = engine()
    val r = e.runDataOperator("oph_explorenc", Map("src_path" -> sf("region")))
    val stats = r.grid.get.values.map(_.head).toSet
    assert(stats.contains("mean") && stats.contains("max"))
  }

  test("inspectfrag dumps one partition only") {
    val e = engine()
    val pid = mk(e, 20)
    val r = e.runDataOperator("oph_inspectfrag",
      Map("cube" -> pid, "frag_id" -> "0", "limit" -> "5"))
    assert(r.status == JobStatus.Completed)
  }

  test("hierarchy, man, operators_list, primitives_list introspection") {
    val e = engine()
    assert(e.runDataOperator("oph_hierarchy", Map("hierarchy" -> "oph_time"))
      .message.contains("month"))
    intercept[Engine.EngineError](
      e.runDataOperator("oph_hierarchy", Map("hierarchy" -> "nope")))
    assert(e.runDataOperator("oph_man", Map("function" -> "oph_reduce"))
      .message.contains("supported"))
    assert(e.runDataOperator("oph_operators_list", Map.empty)
      .message.split('|').length > 60)
    assert(e.runDataOperator("oph_primitives_list", Map.empty)
      .message.contains("oph_moving_avg"))
  }

  test("script runs allow-listed binaries and rejects others") {
    val e = engine()
    assert(e.runDataOperator("oph_script",
      Map("script" -> "echo hello")).message == "hello")
    intercept[Engine.EngineError](
      e.runDataOperator("oph_script", Map("script" -> "rm -rf /")))
  }

  test("deletecontainer/restorecontainer through the dispatch") {
    val e = engine()
    mk(e)
    e.runDataOperator("oph_deletecontainer",
      Map("container" -> "c", "force" -> "yes"))
    assert(e.catalog.findContainer("c").isEmpty)
    e.runDataOperator("oph_restorecontainer", Map("container" -> "c"))
    assert(e.catalog.findContainer("c").nonEmpty)
  }

  test("movecontainer keeps cube PIDs addressable (id embeds in PID)") {
    val e = engine()
    val pid = mk(e) // creates container "c" at the session root
    e.runDataOperator("oph_folder", Map("command" -> "mkdir", "path" -> "/d"))
    val r = e.runDataOperator("oph_movecontainer",
      Map("container" -> "c", "container_output" -> "/d"))
    assert(r.message.endsWith("/d/c"))
    assert(e.catalog.findContainer("c").isEmpty, "gone from the root")
    assert(e.catalog.findContainer("c", "/d").nonEmpty)
    // the PID embeds the container ID, not its path — still resolvable
    assert(e.cube(pid).nonEmpty)
    assert(e.runDataOperator("oph_cubeschema", Map("cube" -> pid))
      .status == JobStatus.Completed)
    // rename form: last dest segment is the new name
    e.runDataOperator("oph_movecontainer",
      Map("container" -> "/d/c", "container_output" -> "/d/c2"))
    assert(e.catalog.findContainer("c2", "/d").nonEmpty)
    assert(e.cube(pid).nonEmpty)
    // a collision at the destination fails loudly
    mk(e) // re-creates "c" at the root
    intercept[Exception](e.catalog.moveContainer("/d/c2", "/c"))
  }

  test("cancel type=abort aborts the remainder; type=stop leaves it pending") {
    def wf = Workflow.parse("""{"name":"cw","tasks":[
      {"name":"w","operator":"oph_wait",
       "arguments":["type=clock","timeout=1"]},
      {"name":"t2","operator":"oph_set","arguments":["key=a","value=1"]},
      {"name":"t3","operator":"oph_set","arguments":["key=b","value=2"]}]}""")
    // the injected sleeper delivers the cancel DURING the wait — the
    // flag lands between tasks, exactly the reference's queued-task
    // surface (`oph_workflow_engine.c:3657-3686`)
    var e1: Engine = null
    e1 = new Engine(spark, new Catalog("ca"),
      sleeper = _ => e1.cancelWorkflow(1, 'a'))
    val ra = e1.run(wf)
    assert(ra("w").status == JobStatus.Completed) // running task drains
    assert(ra("t2").status == JobStatus.Aborted)
    assert(ra("t3").status == JobStatus.Aborted)
    var e2: Engine = null
    e2 = new Engine(spark, new Catalog("cs"),
      sleeper = _ => e2.cancelWorkflow(1, 's'))
    val rs = e2.run(wf)
    assert(rs("w").status == JobStatus.Completed)
    // stop kills nothing: the remainder is merely unscheduled
    assert(rs("t2").status == JobStatus.Pending)
    assert(rs("t3").status == JobStatus.Pending)
    // the flag is consumed with the run: a fresh run proceeds normally
    val again = e2.run(Workflow.parse("""{"name":"cw2","tasks":[
      {"name":"t2","operator":"oph_set","arguments":["key=a","value=1"]}]}"""))
    assert(again.values.forall(_.status == JobStatus.Completed))
    // kill is the only mode that interrupts a task MID-WAIT
    var e3: Engine = null
    e3 = new Engine(spark, new Catalog("ck"),
      sleeper = _ => e3.cancelWorkflow(1, 'k'))
    val rk = e3.run(wf)
    assert(rk("w").status == JobStatus.Aborted)
    assert(rk("t2").status == JobStatus.Aborted)
    // wrong type is a wrong parameter, like the reference
    intercept[Engine.EngineError](e2.runDataOperator("oph_cancel",
      Map("id" -> "1", "type" -> "pause")))
  }

  test("oph_fs ls renders the folder hierarchy as a tree response") {
    val e = engine()
    e.runDataOperator("oph_folder", Map("command" -> "mkdir", "path" -> "/a"))
    e.runDataOperator("oph_folder", Map("command" -> "mkdir", "path" -> "/a/b"))
    e.runDataOperator("oph_folder", Map("command" -> "mkdir", "path" -> "/x"))
    val r = e.runDataOperator("oph_fs", Map("command" -> "ls"))
    val tree = r.aux.collectFirst {
      case t: graft.core.TreeObj => t }.get
    assert(tree.rootnode == 0)
    val paths = tree.nodes.map(_.values.head)
    assert(paths.head == "/sess") // session root, sorted shallowest first
    assert(paths.contains("/sess/a/b") && paths.contains("/sess/x"))
    // every non-root node is linked from its parent exactly once
    assert(tree.links.size == tree.nodes.size - 1)
    val byChild = tree.links.groupBy(_.node2)
    assert(byChild.values.forall(_.size == 1))
    val idx = paths.zipWithIndex.toMap
    assert(tree.links.contains(
      graft.core.GraphLink(idx("/sess/a"), idx("/sess/a/b"), "")))
    // and it renders under the reference objclass
    val json = graft.render.ResponseWriter.render(tree)
    assert(json.contains("\"objclass\": \"tree\""))
  }

  test("instances / tasks / loggingbk report engine state") {
    val e = engine()
    mk(e)
    assert(e.runDataOperator("oph_instances", Map.empty).message.contains("cores="))
    assert(e.runDataOperator("oph_tasks", Map.empty).message.contains("1:"))
  }

  test("split/merge re-fragment through the dispatch") {
    val e = engine()
    val pid = mk(e, 16)
    val s = e.runDataOperator("oph_split", Map("cube" -> pid, "nsplit" -> "4"))
    assert(e.cube(s.cubePid.get).get.df.rdd.getNumPartitions == 4)
    val m = e.runDataOperator("oph_merge", Map("cube" -> s.cubePid.get, "nmerge" -> "2"))
    assert(e.cube(m.cubePid.get).get.df.rdd.getNumPartitions == 2)
  }

  test("exportcsv writes the flattened cube") {
    val e = engine()
    val pid = mk(e, 5)
    val dir = java.nio.file.Files.createTempDirectory("graft_exp").toString + "/csv"
    e.runDataOperator("oph_exportcsv", Map("cube" -> pid, "output_path" -> dir))
    assert(spark.read.option("header", "true").csv(dir).count() == 20) // 5 x 4
  }

  test("fragmentation knobs map to cube partitioning") {
    val e = engine()
    val r = e.runDataOperator("oph_importnc", Map(
      "src_path" -> sf("orders"), "measure" -> "o_totalprice",
      "exp_dim" -> "o_orderkey", "container" -> "f",
      "nhost" -> "3", "nfrag" -> "2"))
    assert(e.cube(r.cubePid.get).get.df.rdd.getNumPartitions == 6)
  }

  test("cluster deploy/undeploy manages host partitions; imports use them") {
    val e = engine()
    // deploy a named partition and import against it
    val d = e.runDataOperator("oph_cluster", Map(
      "action" -> "deploy", "host_partition" -> "p1", "nhost" -> "4"))
    assert(d.status == JobStatus.Completed && d.message == "p1:4")
    intercept[Engine.EngineError](e.runDataOperator("oph_cluster", Map(
      "action" -> "deploy", "host_partition" -> "p1", "nhost" -> "2")))
    val info = e.runDataOperator("oph_cluster", Map("action" -> "info"))
    assert(info.message.contains("partitions=p1:4"))
    val imp = e.runDataOperator("oph_importnc", Map(
      "src_path" -> sf("orders"), "measure" -> "o_totalprice",
      "exp_dim" -> "o_orderkey", "container" -> "f",
      "host_partition" -> "p1"))
    assert(e.cube(imp.cubePid.get).get.df.rdd.getNumPartitions == 4)
    // undeploy releases the name; a dangling reference fails loudly
    e.runDataOperator("oph_cluster", Map(
      "action" -> "undeploy", "host_partition" -> "p1"))
    intercept[Engine.EngineError](e.runDataOperator("oph_importnc", Map(
      "src_path" -> sf("orders"), "measure" -> "o_totalprice",
      "exp_dim" -> "o_orderkey", "container" -> "f",
      "host_partition" -> "p1")))
  }
}
