package graft.workflow

import graft.SparkSpec
import graft.core.{Catalog, JobStatus, MassiveFilter}
import graft.cube.CubeOps

/**
 * Round-3 engine semantics: dependency argument/order routing, on_exit
 * actions, oph_set multi-keys, full oph_wait/oph_input, aggregate2
 * concept levels from the workflow path, permutation_order, randcube2
 * wiring, massive file filters, array-measure aggregate, topo-order
 * execution of out-of-order task lists.
 */
class EngineRound3Spec extends SparkSpec {

  private def engine() = new Engine(spark, new Catalog("sess"),
    sleeper = _ => ()) // virtual clock: waits do not stall the suite

  // --------------------------------------- dependency argument routing

  test("intercube wired entirely via two dependencies' arguments") {
    val e = engine()
    val res = e.run(Workflow.parse("""{
      "name": "wf", "tasks": [
        {"name": "a", "operator": "oph_randcube",
         "arguments": ["nrows=10", "array_length=4", "container=c", "seed=1"]},
        {"name": "b", "operator": "oph_randcube",
         "arguments": ["nrows=10", "array_length=4", "container=c", "seed=2"]},
        {"name": "diff", "operator": "oph_intercube",
         "arguments": ["operation=sub"],
         "dependencies": [
           {"task": "a", "argument": "cube", "type": "single"},
           {"task": "b", "argument": "cube2", "type": "single"}
         ]}
      ]}"""))
    assert(res("diff").status == JobStatus.Completed)
    val out = e.cube(res("diff").cubePid.get).get
    assert(out.df.count() == 10)
    // a - a == 0 everywhere would be wrong; a - b with different seeds
    // must produce at least one non-zero cell
    import org.apache.spark.sql.functions._
    val nonzero = out.df.select(
      sum(expr(s"aggregate(${out.desc.measure}, 0D, (s, x) -> s + abs(x))"))
        .as("t")).head.getDouble(0)
    assert(nonzero > 0)
  }

  test("dependency order sorts multiple pids into one argument") {
    val e = engine()
    val res = e.run(Workflow.parse("""{
      "name": "wf", "tasks": [
        {"name": "a", "operator": "oph_randcube",
         "arguments": ["nrows=5", "array_length=2", "container=c", "seed=1"]},
        {"name": "b", "operator": "oph_randcube",
         "arguments": ["nrows=5", "array_length=2", "container=c", "seed=2"]},
        {"name": "m", "operator": "oph_mergecubes",
         "arguments": [],
         "dependencies": [
           {"task": "b", "argument": "cubes", "type": "all", "order": "1"},
           {"task": "a", "argument": "cubes", "type": "all", "order": "0"}
         ]}
      ]}"""))
    assert(res("m").status == JobStatus.Completed)
    // order=0 (task a) must come first in the '|'-joined argument: the
    // merged cube descriptor inherits from a (container c, level+1)
    val merged = e.cube(res("m").cubePid.get).get
    assert(merged.df.count() == 5)
  }

  test("an embedded dep supplies cube while a routed dep fills cube2") {
    val e = engine()
    val res = e.run(Workflow.parse("""{
      "name": "wf", "tasks": [
        {"name": "a", "operator": "oph_randcube",
         "arguments": ["nrows=8", "array_length=4", "container=c", "seed=1"]},
        {"name": "b", "operator": "oph_randcube",
         "arguments": ["nrows=8", "array_length=4", "container=c", "seed=2"]},
        {"name": "diff", "operator": "oph_intercube",
         "arguments": ["operation=sub"],
         "dependencies": [
           {"task": "a"},
           {"task": "b", "argument": "cube2"}
         ]}
      ]}"""))
    assert(res("diff").status == JobStatus.Completed)
    // cube must be a (embedded), cube2 must be b (routed): a-b != 0;
    // the old fallback injected b into BOTH slots -> all zeros
    import org.apache.spark.sql.functions._
    val out = e.cube(res("diff").cubePid.get).get
    val total = out.df.select(
      sum(expr(s"aggregate(${out.desc.measure}, 0D, (s, x) -> s + abs(x))"))
        .as("t")).head.getDouble(0)
    assert(total > 0, "intercube must combine DIFFERENT cubes")
  }

  test("dependency output_order selects the Nth fan-out output") {
    val dir = java.nio.file.Files.createTempDirectory("graft_oo").toFile
    val src = spark.read.parquet(sf("orders")).limit(30)
    src.write.mode("overwrite").parquet(new java.io.File(dir, "a.parquet").getPath)
    src.limit(10).write.mode("overwrite")
      .parquet(new java.io.File(dir, "b.parquet").getPath)
    val e = engine()
    val res = e.run(Workflow.parse(s"""{
      "name": "wf", "tasks": [
        {"name": "fan", "operator": "oph_importnc",
         "arguments": ["src_path=[path=${dir.getPath};file=*.parquet]",
           "measure=o_totalprice", "exp_dim=o_orderdate", "container=f"]},
        {"name": "schema", "operator": "oph_cubeelements",
         "arguments": [],
         "dependencies": [{"task": "fan", "argument": "cube",
           "output_order": "0"}]}
      ]}"""))
    assert(res("schema").status == JobStatus.Completed)
    // output 0 is a.parquet (sorted fan-out): 30 elements, not 10
    val n = res("schema").grid.get.values.head.head.toLong
    assert(n == 30L, s"expected the FIRST fan-out output, got $n elements")
  }

  test("unsupported dependency filter and output_argument error") {
    val e = engine()
    val res = e.run(Workflow.parse("""{
      "name": "wf", "tasks": [
        {"name": "a", "operator": "oph_randcube",
         "arguments": ["nrows=4", "array_length=2", "container=c"]},
        {"name": "red", "operator": "oph_reduce", "on_error": "skip",
         "arguments": ["operation=avg"],
         "dependencies": [{"task": "a", "argument": "cube",
           "filter": "level=2"}]}
      ]}"""))
    assert(res("red").status == JobStatus.Error)
    assert(res("red").message.contains("needs a fan-out producer"))
  }

  test("aggregate2 concept_level=week uses the ISO week-year (no 'Y' pattern)") {
    val e = engine()
    val res = e.run(Workflow.parse(s"""{
      "name": "wf", "tasks": [
        {"name": "imp", "operator": "oph_importnc",
         "arguments": ["src_path=${sf("orders")}", "measure=o_totalprice",
           "exp_dim=o_orderdate"]},
        {"name": "agg", "operator": "oph_aggregate2",
         "arguments": ["operation=count", "dim=o_orderdate",
           "concept_level=week"],
         "dependencies": [{"task": "imp", "type": "single"}]}
      ]}"""))
    assert(res("agg").status == JobStatus.Completed)
    val keys = e.cube(res("agg").cubePid.get).get.df
      .select("o_orderdate_week").distinct().collect().map(_.getString(0))
    assert(keys.nonEmpty && keys.forall(_.matches("\\d{4}W\\d{2}")))
  }

  // --------------------------------------------------------- on_exit

  test("on_exit=oph_delete drops intermediate cubes at workflow end") {
    val e = engine()
    val res = e.run(Workflow.parse("""{
      "name": "wf", "tasks": [
        {"name": "tmp", "operator": "oph_randcube", "on_exit": "oph_delete",
         "arguments": ["nrows=5", "array_length=2", "container=c"]},
        {"name": "red", "operator": "oph_reduce",
         "arguments": ["operation=avg"],
         "dependencies": [{"task": "tmp", "type": "single"}]}
      ]}"""))
    val tmpPid = res("tmp").cubePid.get
    val redPid = res("red").cubePid.get
    assert(e.cube(tmpPid).isEmpty, "intermediate cube must be deleted")
    assert(e.cube(redPid).nonEmpty, "final cube must survive")
  }

  // ------------------------------------------------ oph_set multi-key

  test("oph_set multi-keys zip names to values") {
    val e = engine()
    e.run(Workflow.parse("""{
      "name": "wf", "tasks": [
        {"name": "s", "operator": "oph_set",
         "arguments": ["key=a|b", "value=3|9"]},
        {"name": "chk", "operator": "oph_randcube",
         "arguments": ["nrows=@a", "array_length=@b", "container=c"]}
      ]}""")).apply("chk")
    val c = e.cube(e.run(Workflow.parse("""{
      "name": "wf2", "tasks": [
        {"name": "s", "operator": "oph_set",
         "arguments": ["key=a|b", "value=3|9"]},
        {"name": "mk", "operator": "oph_randcube",
         "arguments": ["nrows=@a", "array_length=@b", "container=c"]}
      ]}""")).apply("mk").cubePid.get).get
    assert(c.df.count() == 3)
    assert(c.desc.implicitDims.head.size.contains(9L))
  }

  test("oph_set single key with array value binds name and name_1..n") {
    val e = engine()
    val vars = scala.collection.mutable.Map[String, Workflow.Var]()
    val spec = Workflow.parse("""{
      "name": "wf", "tasks": [
        {"name": "s", "operator": "oph_set",
         "arguments": ["key=arr", "value=x|y|z"]},
        {"name": "mk", "operator": "oph_randcube",
         "arguments": ["nrows=4", "array_length=2", "container=@arr_2"]}
      ]}""")
    val res = e.run(spec)
    assert(res("s").status == JobStatus.Completed)
    // @arr_2 resolved to 'y': the container name proves the binding
    val pid = res("mk").cubePid.get
    val cat = e.catalog
    val entry = cat.cube(pid.split("/").last.toLong).get
    assert(cat.containerNameOf(entry) == "y")
  }

  test("oph_set rejects more keys than values") {
    val e = engine()
    val res = e.run(Workflow.parse("""{
      "name": "wf", "tasks": [
        {"name": "s", "operator": "oph_set",
         "arguments": ["key=a|b|c", "value=1|2"]},
        {"name": "after", "operator": "oph_randcube",
         "arguments": ["nrows=2", "array_length=2", "container=c"]}
      ]}"""))
    assert(res("s").status == JobStatus.Error)
    assert(res("s").message.contains("bad number of keys"))
    // default on_error=abort: the rest of the workflow is aborted
    assert(res("after").status == JobStatus.Aborted)
  }

  // ----------------------------------------------- oph_wait semantics

  test("oph_wait clock counts down the REAL timeout via the clock") {
    var slept = 0L
    val e = new Engine(spark, new Catalog("sessw"),
      sleeper = ms => slept += ms)
    e.run(Workflow.parse("""{
      "name": "wf", "tasks": [
        {"name": "w", "operator": "oph_wait",
         "arguments": ["type=clock", "timeout=3600"]}
      ]}"""))
    assert(slept == 3600 * 1000L, s"expected full hour of sleep, got $slept")
  }

  test("oph_wait rejects infinite timeout for non-input types") {
    val e = engine()
    val res = e.run(Workflow.parse("""{
      "name": "wf", "tasks": [
        {"name": "w", "operator": "oph_wait",
         "arguments": ["type=clock", "timeout=-1"], "on_error": "skip"}
      ]}"""))
    assert(res("w").status == JobStatus.Error)
  }

  test("oph_wait timeout_type=deadline converts a date") {
    var slept = 0L
    val e = new Engine(spark, new Catalog("sessd"),
      sleeper = ms => slept += ms)
    // a deadline in the past: zero wait, completes immediately
    val res = e.run(Workflow.parse("""{
      "name": "wf", "tasks": [
        {"name": "w", "operator": "oph_wait",
         "arguments": ["type=clock", "timeout_type=deadline",
           "timeout=2000-01-01 00:00:00"]}
      ]}"""))
    assert(res("w").status == JobStatus.Completed)
    assert(slept == 0L)
  }

  test("oph_wait type=file completes when the file appears") {
    val f = java.io.File.createTempFile("graft_wait", ".flag")
    f.delete()
    var polls = 0
    val e = new Engine(spark, new Catalog("sessf"),
      sleeper = _ => { polls += 1; if (polls == 3) f.createNewFile() })
    val res = e.run(Workflow.parse(s"""{
      "name": "wf", "tasks": [
        {"name": "w", "operator": "oph_wait",
         "arguments": ["type=file", "filename=${f.getPath}", "timeout=100"]}
      ]}"""))
    assert(res("w").status == JobStatus.Completed)
    assert(polls == 3, "wait must stop polling once the file exists")
    f.delete()
  }

  // ------------------------------------- oph_wait input + oph_input

  test("oph_input completes a waiting task and injects variables") {
    val e = engine()
    import scala.concurrent.ExecutionContext.Implicits.global
    val wf = scala.concurrent.Future(e.run(Workflow.parse("""{
      "name": "waiting", "tasks": [
        {"name": "gate", "operator": "oph_wait",
         "arguments": ["type=input", "timeout=-1"]},
        {"name": "mk", "operator": "oph_randcube",
         "arguments": ["nrows=@n", "array_length=2", "container=c"],
         "dependencies": [{"task": "gate"}]}
      ]}""")))
    // wait until the gate registers, then deliver the input from a
    // second workflow (the reference's cross-workflow oph_input)
    val deadline = System.currentTimeMillis + 30000
    var delivered = false
    while (!delivered && System.currentTimeMillis < deadline) {
      delivered = try e.deliverInput(Some("gate"),
        Engine.InputMessage(Seq("n"), Seq("6"), "continue"))
      catch { case _: Exception => false }
      if (!delivered) Thread.sleep(20)
    }
    assert(delivered, "oph_input must find the waiting task")
    val res = scala.concurrent.Await.result(wf,
      scala.concurrent.duration.Duration(60, "s"))
    assert(res("gate").status == JobStatus.Completed)
    assert(e.cube(res("mk").cubePid.get).get.df.count() == 6)
  }

  test("oph_input action=abort aborts the waiting workflow") {
    val e = engine()
    import scala.concurrent.ExecutionContext.Implicits.global
    val wf = scala.concurrent.Future(e.run(Workflow.parse("""{
      "name": "waiting", "tasks": [
        {"name": "gate", "operator": "oph_wait",
         "arguments": ["type=input", "timeout=-1"]},
        {"name": "mk", "operator": "oph_randcube",
         "arguments": ["nrows=4", "array_length=2", "container=c"],
         "dependencies": [{"task": "gate"}]}
      ]}""")))
    val deadline = System.currentTimeMillis + 30000
    var delivered = false
    while (!delivered && System.currentTimeMillis < deadline) {
      delivered = e.deliverInput(None, // single waiting task: implicit target
        Engine.InputMessage(Seq.empty, Seq.empty, "abort"))
      if (!delivered) Thread.sleep(20)
    }
    val res = scala.concurrent.Await.result(wf,
      scala.concurrent.duration.Duration(60, "s"))
    assert(res("gate").status == JobStatus.Aborted)
    assert(!res.contains("mk") || res("mk").status == JobStatus.Aborted)
  }

  // ------------------------------------ aggregate2 from the workflow

  test("oph_aggregate2 concept_level=month is reachable from a workflow") {
    val e = engine()
    val res = e.run(Workflow.parse(s"""{
      "name": "wf", "tasks": [
        {"name": "imp", "operator": "oph_importnc",
         "arguments": ["src_path=${sf("orders")}", "measure=o_totalprice",
           "exp_dim=o_orderdate|o_orderpriority"]},
        {"name": "agg", "operator": "oph_aggregate2",
         "arguments": ["operation=sum", "dim=o_orderdate",
           "concept_level=month", "hierarchy=oph_time"],
         "dependencies": [{"task": "imp", "type": "single"}]}
      ]}"""))
    assert(res("agg").status == JobStatus.Completed)
    val out = e.cube(res("agg").cubePid.get).get
    assert(out.explicitDimNames.contains("o_orderdate_month"))
    // month level: every group key matches yyyy-MM
    val keys = out.df.select("o_orderdate_month").distinct().collect()
      .map(_.getString(0))
    assert(keys.nonEmpty && keys.forall(_.matches("\\d{4}-\\d{2}")))
  }

  test("oph_aggregate2 rejects a level missing from the hierarchy") {
    val e = engine()
    val res = e.run(Workflow.parse(s"""{
      "name": "wf", "tasks": [
        {"name": "imp", "operator": "oph_importnc",
         "arguments": ["src_path=${sf("orders")}", "measure=o_totalprice",
           "exp_dim=o_orderdate"]},
        {"name": "agg", "operator": "oph_aggregate2",
         "arguments": ["concept_level=fortnight"], "on_error": "skip",
         "dependencies": [{"task": "imp", "type": "single"}]}
      ]}"""))
    assert(res("agg").status == JobStatus.Error)
  }

  // ---------------------------------- permute order + randcube2 wiring

  test("oph_randcube2 + permutation_order swap is a transpose") {
    val e = engine()
    val res = e.run(Workflow.parse("""{
      "name": "wf", "tasks": [
        {"name": "mk", "operator": "oph_randcube2",
         "arguments": ["nrows=6", "dim_size=3|4", "container=c"]},
        {"name": "p", "operator": "oph_permute",
         "arguments": ["permutation_order=d2|d1"],
         "dependencies": [{"task": "mk", "type": "single"}]}
      ]}"""))
    val src = e.cube(res("mk").cubePid.get).get
    val out = e.cube(res("p").cubePid.get).get
    assert(src.desc.implicitDims.map(_.name) == Seq("d1", "d2"))
    assert(out.desc.implicitDims.map(_.name) == Seq("d2", "d1"))
    // transpose check on one row: out[k] == src[(k%3)*4 + k/3]
    val s = src.df.orderBy("key").limit(1).collect()(0)
      .getSeq[Double](src.df.columns.indexOf("measure"))
    val t = out.df.orderBy("key").limit(1).collect()(0)
      .getSeq[Double](out.df.columns.indexOf("measure"))
    (0 until 12).foreach { k =>
      assert(t(k) == s((k % 3) * 4 + k / 3))
    }
  }

  test("oph_permute identity order is a no-op copy") {
    val e = engine()
    val res = e.run(Workflow.parse("""{
      "name": "wf", "tasks": [
        {"name": "mk", "operator": "oph_randcube2",
         "arguments": ["nrows=4", "dim_size=2|3", "container=c"]},
        {"name": "p", "operator": "oph_permute",
         "arguments": ["permutation_order=d1|d2"],
         "dependencies": [{"task": "mk", "type": "single"}]}
      ]}"""))
    val src = e.cube(res("mk").cubePid.get).get
    val out = e.cube(res("p").cubePid.get).get
    assert(out.desc.implicitDims.map(_.name) == Seq("d1", "d2"))
    assert(out.df.orderBy("key").collect().map(_.getSeq[Double](1)).toSeq ==
      src.df.orderBy("key").collect().map(_.getSeq[Double](1)).toSeq)
  }

  test("oph_permute rejects an order that is not a permutation") {
    val e = engine()
    val res = e.run(Workflow.parse("""{
      "name": "wf", "tasks": [
        {"name": "mk", "operator": "oph_randcube2",
         "arguments": ["nrows=4", "dim_size=2|3", "container=c"]},
        {"name": "p", "operator": "oph_permute",
         "arguments": ["permutation_order=d1|bogus"], "on_error": "skip",
         "dependencies": [{"task": "mk", "type": "single"}]}
      ]}"""))
    assert(res("p").status == JobStatus.Error)
  }

  // -------------------------------- 2-implicit-dim subset per-dim

  test("subset on a named dim of a 2-implicit cube uses stride arithmetic") {
    val e = engine()
    val res = e.run(Workflow.parse("""{
      "name": "wf", "tasks": [
        {"name": "mk", "operator": "oph_randcube2",
         "arguments": ["nrows=4", "dim_size=3|4", "container=c"]},
        {"name": "s1", "operator": "oph_subset",
         "arguments": ["subset_dims=d1", "subset_filter=1:2"],
         "dependencies": [{"task": "mk", "type": "single"}]},
        {"name": "s2", "operator": "oph_subset",
         "arguments": ["subset_dims=d2", "subset_filter=2:3"],
         "dependencies": [{"task": "mk", "type": "single"}]}
      ]}"""))
    val src = e.cube(res("mk").cubePid.get).get
    val c1 = e.cube(res("s1").cubePid.get).get
    val c2 = e.cube(res("s2").cubePid.get).get
    val s = src.df.orderBy("key").limit(1).collect()(0).getSeq[Double](1)
    val a1 = c1.df.orderBy("key").limit(1).collect()(0).getSeq[Double](1)
    val a2 = c2.df.orderBy("key").limit(1).collect()(0).getSeq[Double](1)
    assert(a1 == s.take(8))            // d1 in 1:2 -> first two n2-rows
    assert(c1.desc.implicitDims.head.size.contains(2L))
    // d2 in 2:3 -> columns 2..3 of each row
    assert(a2 == Seq(s(1), s(2), s(5), s(6), s(9), s(10)))
    assert(c2.desc.implicitDims(1).size.contains(2L))
  }

  // ------------------------------------------ massive file filters

  test("massive cube filter file= matches the source basename") {
    val e = engine()
    e.run(Workflow.parse(s"""{
      "name": "wf", "tasks": [
        {"name": "i1", "operator": "oph_importnc",
         "arguments": ["src_path=${sf("orders")}", "measure=o_totalprice",
           "exp_dim=o_orderdate", "container=a"]},
        {"name": "i2", "operator": "oph_importnc",
         "arguments": ["src_path=${sf("lineitem")}", "measure=l_quantity",
           "exp_dim=l_orderkey", "container=b"]}
      ]}"""))
    val hits = MassiveFilter.expand("[file=orders*]", e.catalog)
    assert(hits.size == 1)
    assert(hits.head.measure == "o_totalprice")
    // unknown convention must throw, never silently select all
    intercept[MassiveFilter.FilterError](
      MassiveFilter.expand("[convention=weird]", e.catalog))
  }

  test("massive src_path fans the import out over matching files") {
    val dir = java.nio.file.Files.createTempDirectory("graft_mfs").toFile
    val sub = new java.io.File(dir, "nested"); sub.mkdir()
    // three parquet stand-ins: plain copies of the orders table
    val src = spark.read.parquet(sf("orders")).limit(50)
    Seq(new java.io.File(dir, "t1.parquet"),
      new java.io.File(dir, "t2.parquet"),
      new java.io.File(sub, "t3.parquet")).foreach(f =>
      src.write.mode("overwrite").parquet(f.getPath))
    val flat = MassiveFilter.expandFiles(
      s"[path=${dir.getPath};file=t?.parquet]")
    assert(flat.size == 2, s"non-recursive must skip nested: $flat")
    val rec = MassiveFilter.expandFiles(
      s"[path=${dir.getPath};file=t*;recursive=yes]")
    assert(rec.size == 3)
    val e = engine()
    val res = e.runDataOperator("oph_importnc", Map(
      "src_path" -> s"[path=${dir.getPath};file=t?.parquet]",
      "measure" -> "o_totalprice", "exp_dim" -> "o_orderdate",
      "container" -> "fan"))
    assert(res.status == JobStatus.Completed)
    assert(res.message.split('|').length == 2, "one cube per matched file")
  }

  // ------------------------------------------ array-measure aggregate

  test("aggregateArrays collapses explicit dims elementwise") {
    import spark.implicits._
    val raw = Seq(
      ("g1", 1, 1.0), ("g1", 2, 2.0), ("g1", 3, 3.0),
      ("g1b", 1, 10.0), ("g1b", 2, 20.0), ("g1b", 3, 30.0),
      ("g2", 1, 5.0), ("g2", 2, 6.0), ("g2", 3, 7.0)
    ).toDF("k", "i", "v")
      .withColumn("grp", org.apache.spark.sql.functions.expr(
        "substring(k, 1, 2)"))
    val cube = CubeOps.build(raw, "v", Seq("grp", "k"), Some("i"), "c", "mem")
    val out = CubeOps.aggregateArrays(cube, Seq("grp"), "sum")
    val rows = out.df.orderBy("grp").collect()
    assert(rows.length == 2)
    assert(rows(0).getSeq[Double](1) == Seq(11.0, 22.0, 33.0))
    assert(rows(1).getSeq[Double](1) == Seq(5.0, 6.0, 7.0))
    val avg = CubeOps.aggregateArrays(cube, Seq("grp"), "avg")
    assert(avg.df.orderBy("grp").collect()(0).getSeq[Double](1) ==
      Seq(5.5, 11.0, 16.5))
    // engine dispatch: array cube + group_by routes to aggregateArrays
    val e = engine()
    val pid = e.register(cube, "c")
    val r = e.runDataOperator("oph_aggregate",
      Map("cube" -> pid, "group_by" -> "grp", "operation" -> "sum"))
    assert(r.status == JobStatus.Completed)
    assert(e.cube(r.cubePid.get).get.df.count() == 2)
  }

  // ---------------------------------------- topo-order of task lists

  test("a dependent listed before its producer still runs correctly") {
    val e = engine()
    val res = e.run(Workflow.parse("""{
      "name": "wf", "tasks": [
        {"name": "red", "operator": "oph_reduce",
         "arguments": ["operation=avg"],
         "dependencies": [{"task": "make", "type": "single"}]},
        {"name": "make", "operator": "oph_randcube",
         "arguments": ["nrows=8", "array_length=4", "container=c"]}
      ]}"""))
    assert(res("make").status == JobStatus.Completed)
    assert(res("red").status == JobStatus.Completed)
    assert(e.cube(res("red").cubePid.get).get.df.count() == 8)
  }

  test("request checkpoint replays completed tasks instead of re-running") {
    val e = engine()
    val req = """{
      "name": "ckpt_wf", "tasks": [
        {"name": "mk", "operator": "oph_randcube",
         "arguments": ["nrows=6", "array_length=2", "container=c"]},
        {"name": "red", "operator": "oph_reduce",
         "arguments": ["operation=avg"],
         "dependencies": [{"task": "mk", "type": "single"}]}
      ]}"""
    val first = e.runRequest(Workflow.parse(req))
    val nCubes = e.catalog.allCubes.size
    // same request with checkpoint set: everything replays, no new cubes
    val again = e.runRequest(Workflow.parse(
      req.replace("\"ckpt_wf\",", "\"ckpt_wf\", \"checkpoint\": \"auto\",")))
    assert(again("mk").cubePid == first("mk").cubePid)
    assert(again("red").cubePid == first("red").cubePid)
    assert(e.catalog.allCubes.size == nCubes, "checkpoint must not re-run")
    // without checkpoint the tasks re-execute and mint new cubes
    val rerun = e.runRequest(Workflow.parse(req))
    assert(rerun("mk").cubePid != first("mk").cubePid)
  }

  test("output_format=compact collapses per-task texts, keeps grids") {
    val e = engine()
    val res = e.run(Workflow.parse("""{
      "name": "wf", "tasks": [
        {"name": "mk", "operator": "oph_randcube",
         "arguments": ["nrows=4", "array_length=2", "container=c"]},
        {"name": "peek", "operator": "oph_explorecube",
         "arguments": ["limit_filter=2"],
         "dependencies": [{"task": "mk", "type": "single"}]}
      ]}"""))
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val classic = mapper.readTree(e.renderResponse("wf", res))
    val compact = mapper.readTree(e.renderResponse("wf", res, "compact"))
    assert(classic.get("response").size == 2) // one object per task
    assert(compact.get("response").size == 2) // summary + the grid
    val classes = (0 until 2).map(i =>
      compact.get("response").get(i).get("objclass").asText).toSet
    assert(classes == Set("text", "grid"))
    assert(compact.get("response").get(0).get("objcontent").get(0)
      .get("message").asText.contains("2/2 tasks completed"))
  }

  test("request-level ncores overrides the NCORES builtin") {
    val e = engine()
    val res = e.run(Workflow.parse("""{
      "name": "wf", "ncores": 3, "tasks": [
        {"name": "mk", "operator": "oph_randcube",
         "arguments": ["nrows=@{NCORES}", "array_length=2", "container=c"]}
      ]}"""))
    assert(e.cube(res("mk").cubePid.get).get.df.count() == 3)
  }

  test("malformed arguments are rejected at parse time") {
    intercept[Workflow.ValidationError](Workflow.parse("""{
      "name": "wf", "tasks": [
        {"name": "t", "operator": "oph_randcube",
         "arguments": ["nrows 10"]}
      ]}"""))
  }

  test("inspectfrag reads a single fragment only") {
    val e = engine()
    val res = e.run(Workflow.parse("""{
      "name": "wf", "tasks": [
        {"name": "mk", "operator": "oph_randcube",
         "arguments": ["nrows=40", "array_length=2", "container=c"]},
        {"name": "f", "operator": "oph_inspectfrag",
         "arguments": ["frag_id=0", "limit=5"],
         "dependencies": [{"task": "mk", "type": "single"}]}
      ]}"""))
    assert(res("f").status == JobStatus.Completed)
    assert(res("f").message.linesIterator.size <= 5)
    val bad = e.run(Workflow.parse("""{
      "name": "wf2", "tasks": [
        {"name": "mk", "operator": "oph_randcube",
         "arguments": ["nrows=4", "array_length=2", "container=c"]},
        {"name": "f", "operator": "oph_inspectfrag",
         "arguments": ["frag_id=9999"], "on_error": "skip",
         "dependencies": [{"task": "mk", "type": "single"}]}
      ]}"""))
    assert(bad("f").status == JobStatus.Error)
  }
}
