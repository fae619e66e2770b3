package graft.workflow

import graft.SparkSpec
import graft.core.{Catalog, JobStatus}
import graft.cube.CubeOps

/**
 * Cube-store bound: the engine's PID -> plan map is LRU-evicted past
 * its cap (the reference parks cube data in OphidiaDB; here each entry
 * pins a Catalyst plan in driver memory, so a long-lived engine needs
 * a bound — `oph_manage_session` autoremove + OphidiaDB GC analogue).
 */
class CubeEvictionSpec extends SparkSpec {

  private def smallCube(v: Double) = {
    import spark.implicits._
    CubeOps.build(
      Seq((1, 1, v), (1, 2, v + 1), (2, 1, v + 2), (2, 2, v + 3))
        .toDF("k", "i", "m"),
      "m", Seq("k"), Some("i"), "c", "mem")
  }

  private def engine(cap: Int) =
    new Engine(spark, new Catalog("sess"), sleeper = _ => (), maxCubes = cap)

  test("registering past the cap evicts the least-recently-used cube") {
    val e = engine(cap = 4)
    val pids = (1 to 8).map(i => e.register(smallCube(i), "c"))
    assert(e.cubeCount <= 4)
    // the four newest survive, the four oldest are gone
    pids.takeRight(4).foreach(p => assert(e.cube(p).isDefined))
    pids.take(4).foreach(p => assert(e.cube(p).isEmpty))
    // a dangling reference fails loudly, not silently
    val err = intercept[Engine.EngineError] {
      e.runDataOperator("oph_reduce",
        Map("cube" -> pids.head, "operation" -> "sum"))
    }
    assert(err.getMessage.contains("unknown cube"))
  }

  test("touching a cube keeps it alive over colder entries") {
    val e = engine(cap = 3)
    val first = e.register(smallCube(0), "c")
    val second = e.register(smallCube(1), "c")
    assert(e.cube(first).isDefined) // touch: `first` is now hotter than `second`
    (1 to 2).foreach(i => e.register(smallCube(i + 1), "c"))
    assert(e.cube(first).isDefined)
    assert(e.cube(second).isEmpty)
  }

  test("oph_delete and clearCubes release entries") {
    val e = engine(cap = 100)
    val pid = e.register(smallCube(1), "c")
    val r = e.runDataOperator("oph_delete", Map("cube" -> pid))
    assert(r.status == JobStatus.Completed)
    assert(e.cube(pid).isEmpty)
    assert(!e.dropCube(pid)) // already gone

    (1 to 5).foreach(i => e.register(smallCube(i), "c"))
    assert(e.cubeCount == 5)
    e.clearCubes()
    assert(e.cubeCount == 0)
  }

  test("a running workflow's cubes are pinned against eviction; " +
      "the cap re-trims at run end") {
    // cap 2, workflow produces 3 cubes then consumes the FIRST: pure
    // LRU would evict mk1 when mk3 registers, and red would fail with
    // "unknown cube" (the storm-soak race, deterministic here). The
    // run's pins make the cap soft while the workflow lives.
    val e = engine(cap = 2)
    val res = e.run(Workflow.parse("""{
      "name": "pinned", "tasks": [
        {"name": "mk1", "operator": "oph_randcube",
         "arguments": ["nrows=4", "array_length=2", "container=c1", "seed=1"]},
        {"name": "mk2", "operator": "oph_randcube",
         "arguments": ["nrows=4", "array_length=2", "container=c2", "seed=2"]},
        {"name": "mk3", "operator": "oph_randcube",
         "arguments": ["nrows=4", "array_length=2", "container=c3", "seed=3"]},
        {"name": "red", "operator": "oph_reduce",
         "arguments": ["operation=sum"],
         "dependencies": [{"task": "mk1"}]}
      ]}"""))
    assert(res.values.forall(_.status == JobStatus.Completed),
      res.map { case (k, r) => s"$k=${r.status}(${r.message})" })
    // pins released at run end: the store re-trims to its cap
    assert(e.cubeCount <= 2, s"store not re-trimmed: ${e.cubeCount}")
  }

  test("at the cap, eviction follows access order") {
    val e = engine(cap = 4)
    val Seq(a, b, c, d) = (1 to 4).map(i => e.register(smallCube(i), "c"))
    Seq(c, a, d, b).foreach(p => assert(e.cube(p).isDefined)) // c coldest
    val n1 = e.register(smallCube(5), "c")
    assert(e.cube(c).isEmpty && e.cubeCount == 4)
    val n2 = e.register(smallCube(6), "c")
    assert(e.cube(a).isEmpty && e.cubeCount == 4)
    Seq(d, b, n1, n2).foreach(p => assert(e.cube(p).isDefined))
  }

  test("at the cap, a cube pinned by a running workflow survives") {
    // the wait's sleeper registers past the cap while the run lives:
    // mk is the coldest cube but pinned, so the newer ones go instead
    var e: Engine = null
    var seen = Seq.empty[(Int, Boolean)]
    e = new Engine(spark, new Catalog("sess"), maxCubes = 3, sleeper = _ => {
      val mk = e.catalog.allCubes.head.pid(e.catalog)
      (1 to 5).foreach(i => e.register(smallCube(i), "c"))
      seen = Seq((e.cubeCount, e.cube(mk).isDefined))
    })
    val res = e.run(Workflow.parse("""{
      "name": "pin", "tasks": [
        {"name": "mk", "operator": "oph_randcube",
         "arguments": ["nrows=4", "array_length=2", "container=p", "seed=1"]},
        {"name": "w", "operator": "oph_wait",
         "arguments": ["type=clock", "timeout=1"]},
        {"name": "red", "operator": "oph_reduce",
         "arguments": ["operation=sum"], "dependencies": [{"task": "mk"}]}
      ]}"""))
    assert(res.values.forall(_.status == JobStatus.Completed),
      res.map { case (k, r) => s"$k=${r.status}(${r.message})" })
    assert(seen == Seq((3, true)))
  }

  test("8 threads registering at once leave the store at its cap " +
      "with no pinned cube evicted") {
    val e = engine(cap = 16)
    // each run registers 6 cubes and then reads its first and third:
    // an evicted pinned cube fails the reader with "unknown cube"
    def wf(t: Int) = Workflow.parse(s"""{
      "name": "storm$t", "tasks": [
        ${(1 to 6).map(i => s"""{"name": "mk$i", "operator": "oph_randcube",
          "arguments": ["nrows=4", "array_length=2", "container=s$t",
            "seed=$i"]}""").mkString(",")},
        {"name": "r1", "operator": "oph_reduce", "arguments": ["operation=sum"],
         "dependencies": [{"task": "mk1"}]},
        {"name": "r3", "operator": "oph_reduce", "arguments": ["operation=max"],
         "dependencies": [{"task": "mk3"}]}
      ]}""")
    val start = new java.util.concurrent.CountDownLatch(1)
    val results = new java.util.concurrent.ConcurrentLinkedQueue[
      Map[String, Engine.TaskResult]]()
    val threads = (1 to 8).map { t =>
      val th = new Thread(() => { start.await(); results.add(e.run(wf(t))) })
      th.start(); th
    }
    start.countDown()
    threads.foreach(_.join(120000))
    assert(results.size == 8)
    results.forEach(res => assert(res.values.forall(_.status == JobStatus.Completed),
      res.map { case (k, r) => s"$k=${r.status}(${r.message})" }))
    assert(e.cubeCount == 16)
  }

  test("a workflow soak stays bounded and still answers its live cubes") {
    val e = engine(cap = 8)
    (1 to 40).foreach { i =>
      val pid = e.register(smallCube(i), "c")
      val r = e.runDataOperator("oph_reduce",
        Map("cube" -> pid, "operation" -> "sum"))
      assert(r.status == JobStatus.Completed)
    }
    assert(e.cubeCount <= 8)
  }
}
