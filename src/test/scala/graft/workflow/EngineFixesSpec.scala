package graft.workflow

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.core.{Catalog, JobStatus}

/** Regression tests for the round-2 review findings. */
class EngineFixesSpec extends SparkSpec {
  import spark.implicits._

  private def engine() = new Engine(spark, new Catalog("sess"))

  test("massive cube=[...] fans out over EVERY matching cube") {
    val e = engine()
    (1 to 3).foreach(_ => e.runDataOperator("oph_randcube",
      Map("nrows" -> "4", "array_length" -> "2", "container" -> "c")))
    assert(e.catalog.allCubes.size == 3)
    // reduce over all three: three new cubes minted
    val r = e.runDataOperator("oph_reduce",
      Map("cube" -> "[measure=measure]", "operation" -> "sum"))
    assert(r.message.split('|').length == 3)
    assert(e.catalog.allCubes.size == 6)
    // delete over a filter removes every match, not just the last
    val del = e.runDataOperator("oph_delete", Map("cube" -> "[level=0]"))
    assert(e.catalog.allCubes.count(_.level == 0) == 0)
    assert(del.status == JobStatus.Completed)
  }

  test("massive run=no lists matches without executing") {
    val e = engine()
    (1 to 2).foreach(_ => e.runDataOperator("oph_randcube",
      Map("nrows" -> "4", "array_length" -> "2", "container" -> "c")))
    val before = e.catalog.allCubes.size
    val r = e.runDataOperator("oph_reduce",
      Map("cube" -> "[measure=measure;run=no]", "operation" -> "sum"))
    assert(r.message.split('|').length == 2)
    assert(e.catalog.allCubes.size == before) // nothing executed
  }

  test("&var substitutes the 1-based loop index, @var the value") {
    val e = engine()
    val res = e.run(Workflow.parse("""{
      "name": "wf", "tasks": [
        {"name": "loop", "operator": "oph_for",
         "arguments": ["key=v", "values=a|b|c"]},
        {"name": "s", "operator": "oph_set",
         "arguments": ["key=out", "value=@v:&v"]},
        {"name": "end", "operator": "oph_endfor"}
      ]}"""))
    assert(res("s_2").message == "out=b:2")
    assert(res("s_3").message == "out=c:3")
  }

  test("parallel for: each branch's dependent task gets ITS OWN cube") {
    val e = engine()
    val res = e.run(Workflow.parse("""{
      "name": "wf", "tasks": [
        {"name": "loop", "operator": "oph_for",
         "arguments": ["key=n", "values=3|5|7", "parallel=yes"]},
        {"name": "mk", "operator": "oph_randcube",
         "arguments": ["nrows=@n", "array_length=2", "container=c"]},
        {"name": "red", "operator": "oph_reduce",
         "arguments": ["operation=sum"],
         "dependencies": [{"task": "mk"}]},
        {"name": "end", "operator": "oph_endfor"}
      ]}"""))
    val rowCounts = (1 to 3).map(i =>
      e.cube(res(s"red_$i").cubePid.get).get.df.count()).toSet
    assert(rowCounts == Set(3L, 5L, 7L))
  }

  test("coord subset with a single value is an equality filter") {
    val e = engine()
    val imp = e.runDataOperator("oph_importnc", Map(
      "src_path" -> sf("lineitem"), "measure" -> "l_quantity",
      "exp_dim" -> "l_orderkey|l_linenumber"))
    val sub = e.runDataOperator("oph_subset", Map(
      "cube" -> imp.cubePid.get, "subset_dims" -> "l_linenumber",
      "subset_type" -> "coord", "subset_filter" -> "2"))
    val out = e.cube(sub.cubePid.get).get
    assert(out.df.count() > 0)
    assert(out.df.select("l_linenumber").distinct().as[Int].collect().toSeq == Seq(2))
  }

  test("oph_cubesize returns rows/elements/bytes; cubeelements just the count") {
    val e = engine()
    val pid = e.runDataOperator("oph_randcube",
      Map("nrows" -> "6", "array_length" -> "4", "container" -> "c")).cubePid.get
    val size = e.runDataOperator("oph_cubesize", Map("cube" -> pid)).grid.get
    assert(size.keys == Seq("n_rows", "n_elements", "est_bytes"))
    assert(size.fieldTypes == Seq("long", "long", "long"))
    assert(size.values == Seq(Seq("6", "24", "192")))
    val el = e.runDataOperator("oph_cubeelements", Map("cube" -> pid)).grid.get
    assert(el.values == Seq(Seq("24")))
  }

  test("mergecubes keeps dim arrays aligned; flatten after concat works") {
    val raw = Seq((1L, 1, 10.0), (1L, 2, 20.0)).toDF("k", "i", "v")
    val c = graft.cube.CubeOps.build(raw, "v", Seq("k"), Some("i"), "t", "mem")
    val m = graft.cube.CubeOps.mergecubes(c, c)
    val dims = m.df.select("__dim_i").as[Seq[Int]].head()
    assert(dims == Seq(1, 2, 1, 2))
    val flat = m.flatten.select("k", "i", "v").as[(Long, Int, Double)]
      .collect().sorted.toSeq
    assert(flat == Seq((1L, 1, 10.0), (1L, 1, 10.0), (1L, 2, 20.0), (1L, 2, 20.0)))
  }

  test("reduce group_size mints the block dim column; flatten works") {
    val raw = Seq((1L, 1, 1.0), (1L, 2, 2.0), (1L, 3, 3.0)).toDF("k", "i", "v")
    val c = graft.cube.CubeOps.build(raw, "v", Seq("k"), Some("i"), "t", "mem")
    val r = graft.cube.CubeOps.reduce(c, "sum", groupSize = Some(2))
    assert(r.df.columns.contains("__dim_i_block"))
    val flat = r.flatten.select("i_block", "v").as[(Int, Double)]
      .collect().sorted.toSeq
    assert(flat == Seq((1, 3.0), (2, 3.0)))
  }

  test("intercube corr: arrays -> scalar Pearson correlation") {
    val raw = Seq((1L, 1, 1.0, 2.0), (1L, 2, 2.0, 4.0), (1L, 3, 3.0, 6.0),
      (2L, 1, 1.0, 1.0), (2L, 2, 1.0, 1.0)).toDF("k", "i", "x", "y")
    val a = graft.cube.CubeOps.build(raw.select($"k", $"i", $"x"), "x",
      Seq("k"), Some("i"), "t", "mem")
    val b = graft.cube.CubeOps.build(raw.select($"k", $"i", $"y"), "y",
      Seq("k"), Some("i"), "t", "mem")
    val out = graft.cube.CubeOps.intercube(a, b, "corr", "c")
      .df.select($"k", $"c").as[(Long, Option[Double])].collect().toMap
    assert(math.abs(out(1L).get - 1.0) < 1e-9) // perfectly correlated
    assert(out(2L).isEmpty)                    // zero variance -> null
  }

  test("on_error=repeat retries before giving up, then continues") {
    val e = engine()
    val res = e.run(Workflow.parse("""{
      "name": "wf", "tasks": [
        {"name": "bad", "operator": "oph_reduce",
         "arguments": ["cube=http://localhost/9/9"], "on_error": "repeat"},
        {"name": "after", "operator": "oph_set",
         "arguments": ["key=a", "value=1"]}
      ]}"""))
    assert(res("bad").status == JobStatus.Error)
    assert(res("after").status == JobStatus.Completed)
    val log = e.sessions.tailLog(50).mkString("\n")
    assert(log.contains("attempt 1 failed, retrying"))
    assert(log.contains("attempt 2 failed, retrying"))
  }

  test("group_size reduce on an empty in-cell array yields empty arrays") {
    val raw = Seq((1L, 1, 1.0), (1L, 2, 2.0)).toDF("k", "i", "v")
    val c = graft.cube.CubeOps.build(raw, "v", Seq("k"), Some("i"), "t", "mem")
    // filter out everything in-cell, then block-reduce
    val emptied = graft.cube.CubeOps.subsetImplicit(c, "5:9")
    val r = graft.cube.CubeOps.reduce(emptied, "sum", groupSize = Some(2))
    assert(r.df.select("v").as[Seq[Double]].head() == Seq.empty[Double])
    assert(r.df.select("__dim_i_block").as[Seq[Int]].head() == Seq.empty[Int])
    assert(r.flatten.count() == 0) // no phantom rows
  }

  test("intercube corr output is a consistent scalar cube") {
    val raw = Seq((1L, 1, 1.0, 2.0), (1L, 2, 2.0, 4.0), (1L, 3, 3.0, 7.0))
      .toDF("k", "i", "x", "y")
    val a = graft.cube.CubeOps.build(raw.select($"k", $"i", $"x"), "x",
      Seq("k"), Some("i"), "t", "mem")
    val b = graft.cube.CubeOps.build(raw.select($"k", $"i", $"y"), "y",
      Seq("k"), Some("i"), "t", "mem")
    val out = graft.cube.CubeOps.intercube(a, b, "corr", "c")
    assert(!out.hasImplicit)
    assert(!out.df.columns.exists(_.startsWith("__dim_")))
    assert(out.flatten.count() == 1) // flatten works on the scalar cube
  }

  test("quantile q=0 clamps to the first element") {
    val df = Seq(Tuple1(Seq(5.0, 1.0, 3.0))).toDF("m")
    val out = df.select(
      graft.cube.CubeOps.reduceExpr($"m", "quantile", 0.0).as("q"))
      .as[Double].head()
    assert(out == 1.0)
  }

  test("rhp signatures stay meaningful when vectors are shorter than dim") {
    val emb = (1L to 12L).map(i =>
      (i, Seq(math.cos(i * 0.5).toFloat, math.sin(i * 0.5).toFloat)))
      .toDF("vec_id", "embedding")
    // dim=64 default vs actual dim 2: signatures must still separate
    val sigs = emb.select(
      graft.pipeline.Similarity.rhpSignature(col("embedding"), 8, 64).as("s"))
      .as[Seq[Int]].collect()
    assert(sigs.distinct.length > 1, "all signatures identical")
  }

  test("a reserved-but-not-yet-running workflow's cancel survives an " +
      "eviction burst (ADVICE r15: pin at reservation, not run entry)") {
    val e = engine()
    // the HTTP submit path: reserve the id first, cancel can land on it
    // before run() ever executes
    val wfId = e.reserveWorkflowId()
    e.cancelWorkflow(wfId, 'a')
    // a burst of cancels for newer, never-run ids overflows the
    // 1024-flag bound; the reserved id is the LOWEST so an unpinned
    // flag would be the very first evicted
    (1 to 1100).foreach(i => e.cancelWorkflow(wfId + 100000 + i, 'a'))
    val r = e.run(Workflow.parse("""{"name":"pin","tasks":[
      {"name":"t1","operator":"oph_set","arguments":["key=a","value=1"]}]}"""),
      None, presetId = Some(wfId))
    assert(r("t1").status == JobStatus.Aborted,
      "pending cancel was evicted before the run started")
  }

  test("a failed run unpins its reserved id so the flag becomes " +
      "evictable again (no pin leak on validate/admission failure)") {
    val e = engine()
    val wfId = e.reserveWorkflowId()
    // run with an invalid spec (self-cycle): validation throws BEFORE
    // the run loop's finally — the guard must still unpin the
    // reservation. Parse outside the intercept: the spec must reach
    // run() for the test to exercise the unpin path at all.
    val bad = Workflow.parse("""{"name":"bad","tasks":[
      {"name":"t1","operator":"oph_set","arguments":["key=a","value=1"],
       "dependencies":[{"task":"t1"}]}]}""")
    intercept[Exception](e.run(bad, None, presetId = Some(wfId)))
    // now a cancel flag for that dead id is evictable: flood past the
    // bound and check a later run with the same preset id is NOT
    // aborted (the stale flag was evicted, as it should be)
    e.cancelWorkflow(wfId, 'a')
    (1 to 1100).foreach(i => e.cancelWorkflow(wfId + 200000 + i, 'a'))
    val r = e.run(Workflow.parse("""{"name":"ok","tasks":[
      {"name":"t1","operator":"oph_set","arguments":["key=a","value=1"]}]}"""),
      None, presetId = Some(wfId))
    assert(r("t1").status == JobStatus.Completed,
      "stale flag of a failed run survived eviction — pin leaked")
  }

  test("unpinWorkflowId releases a reserved id whose handoff failed " +
      "before run() took ownership (ADVICE r16)") {
    val e = engine()
    val wfId = e.reserveWorkflowId()
    // the HTTP layer's reserve-to-run handoff threw synchronously —
    // no run() will ever own this id, so nothing else can unpin it;
    // the explicit unpin must make its cancel flags evictable again
    e.unpinWorkflowId(wfId)
    e.cancelWorkflow(wfId, 'a')
    (1 to 1100).foreach(i => e.cancelWorkflow(wfId + 300000 + i, 'a'))
    val r = e.run(Workflow.parse("""{"name":"ok","tasks":[
      {"name":"t1","operator":"oph_set","arguments":["key=a","value=1"]}]}"""),
      None, presetId = Some(wfId))
    assert(r("t1").status == JobStatus.Completed,
      "flag of an unpinned dead reservation survived eviction — pin leaked")
  }
}
