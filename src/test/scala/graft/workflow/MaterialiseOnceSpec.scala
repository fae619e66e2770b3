package graft.workflow

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution,
  SparkPlan}
import org.apache.spark.sql.execution.aggregate.{BaseAggregateExec,
  SortAggregateExec}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
  QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkSpec
import graft.core.{Catalog, JobStatus}
import graft.sources.NetCDF3

/** Every plan Spark executed while a body ran, with a barrier: a marker
  * execution's event is delivered after every event posted before it. */
final class ExecutedPlans(spark: SparkSession) extends QueryExecutionListener {
  private val plans = new ConcurrentLinkedQueue[(String, SparkPlan)]()
  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
    plans.add(qe.analyzed.output.map(_.name).mkString(",") -> qe.executedPlan)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
    plans.add(qe.analyzed.output.map(_.name).mkString(",") -> qe.executedPlan)

  def all(): Seq[SparkPlan] = {
    val marker = s"barrier_${System.nanoTime}"
    spark.range(1).toDF(marker).collect()
    val deadline = System.currentTimeMillis + 30000
    while (!plans.asScala.exists(_._1 == marker) &&
        System.currentTimeMillis < deadline) Thread.sleep(10)
    assert(plans.asScala.exists(_._1 == marker), "listener barrier timed out")
    plans.asScala.filterNot(_._1.startsWith("barrier_")).map(_._2).toSeq
  }
}

object ExecutedPlans {
  /** File scans reachable from `p`: through adaptive plans and query
    * stages, and into cached relations when `intoCache`. */
  def scans(p: SparkPlan, intoCache: Boolean): Seq[SparkPlan] = {
    val inner = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec => Seq(s.plan)
      case m: InMemoryTableScanExec if intoCache => Seq(m.relation.cachedPlan)
      case _ => Nil
    }
    val here = p match {
      case _: FileSourceScanExec | _: BatchScanExec => Seq(p)
      case _ => Nil
    }
    here ++ (inner ++ p.children).flatMap(scans(_, intoCache))
  }

  /** Cached relations read by `p`, one entry per persisted plan. */
  def caches(p: SparkPlan): Seq[AnyRef] = {
    val inner = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec => Seq(s.plan)
      case _ => Nil
    }
    val here = p match {
      case m: InMemoryTableScanExec
          if scans(m.relation.cachedPlan, intoCache = true).nonEmpty =>
        Seq(m.relation.cacheBuilder)
      case _ => Nil
    }
    here ++ (inner ++ p.children).flatMap(caches)
  }

  /** Nodes of `p` and of the adaptive plans and query stages beneath
    * it, not looking into cached relations. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = {
    val inner = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec => Seq(s.plan)
      case _ => Nil
    }
    p +: (inner ++ p.children).flatMap(nodes)
  }

  /** Rows held by each distinct cached relation the plans read. */
  def cachedRows(plans: Seq[SparkPlan]): Seq[Long] =
    plans.flatMap(nodes).collect { case m: InMemoryTableScanExec =>
      m.relation.cacheBuilder
    }.distinct.map(_.rowCountStats.value.longValue)

  /** How many times the sources were read: executions that scan a file
    * themselves, plus distinct cached relations built from a scan. */
  def sourceReads(plans: Seq[SparkPlan]): Int =
    plans.count(scans(_, intoCache = false).nonEmpty) +
      plans.flatMap(caches).map(System.identityHashCode).distinct.size

  def around[T](spark: SparkSession)(body: ExecutedPlans => T): T = {
    val l = new ExecutedPlans(spark)
    spark.listenerManager.register(l)
    try body(l) finally spark.listenerManager.unregister(l)
  }
}

/**
 * An import that two or more task instances of a run read materialises
 * its source rows once, in the import task, and the run releases them
 * when it ends: a 4-branch parallel `oph_for` reads the source once,
 * every branch scans cached rows, and the answers equal single-reader
 * runs. Released data leaves nothing behind in Spark's cache; derived
 * cubes recompute from the source; a rewritten file is re-read; two
 * runs of one path never share rows. An import that no task of its own
 * run reads keeps its rows for later requests until its cube is
 * dropped, and each later build over them is one sort aggregate.
 */
class MaterialiseOnceSpec extends SparkSpec {
  import ExecutedPlans._

  private val ranges = Seq("1:10", "11:20", "21:30", "31:40")

  private def tmpDir(prefix: String) =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** 40 keys x 3 steps, m = k * scale + i, in two Parquet files. */
  private def writeParquet(path: String, scale: Int): Unit =
    spark.range(1, 41).toDF("k")
      .crossJoin(spark.range(1, 4).toDF("i").withColumn("i", col("i").cast("int")))
      .withColumn("m", (col("k") * scale + col("i")).cast("double"))
      .repartition(2).write.mode("overwrite").parquet(path)

  /** The same grid as a NetCDF-3 file: k(40) x i(3) with coordinates. */
  private def writeNc(path: String): Unit = {
    import NetCDF3._
    write(path, dims = Seq(Dim("k", 40), Dim("i", 3)),
      vars = Seq(
        ("k", Seq(0), Array.tabulate(40)(j => j + 1.0)),
        ("i", Seq(1), Array(1.0, 2.0, 3.0)),
        ("m", Seq(0, 1), Array.tabulate(120)(j => (j / 3 + 1) * 10.0 + j % 3 + 1))))
  }

  /** `extra`: further import arguments, each `, "name=value"`. */
  private def imp(src: String, container: String, extra: String = "") =
    s"""{"name": "imp", "operator": "oph_importnc",
         "arguments": ["src_path=$src", "measure=m", "exp_dim=k",
           "imp_dim=i", "container=$container"$extra]}"""
  private val sub =
    """{"name": "sub", "operator": "oph_subset",
        "arguments": ["subset_dims=k", "subset_filter=@r"],
        "dependencies": [{"task": "imp"}]}"""
  private val peek =
    """{"name": "peek", "operator": "oph_explorecube",
        "arguments": ["limit_filter=100", "level=2"],
        "dependencies": [{"task": "sub"}]}"""

  /** imp -> 4 parallel branches, each `branch` (tasks reading imp). */
  private def fan(src: String, container: String,
      branch: Seq[String] = Seq(sub, peek), extra: String = "") =
    Workflow.parse(s"""{
    "name": "fan", "tasks": [${imp(src, container, extra)},
      {"name": "loop", "operator": "oph_for",
       "arguments": ["key=r", "values=${ranges.mkString("|")}", "parallel=yes"]},
      ${branch.mkString(",")},
      {"name": "end", "operator": "oph_endfor"}]}""")

  /** imp -> subset -> explore over one range: a single-reader run. */
  private def linear(src: String, range: String) = Workflow.parse(s"""{
    "name": "lin", "tasks": [${imp(src, "lin")},
      ${sub.replace("@r", range)}, $peek]}""")

  private def engine(code: String, sleeper: Long => Unit = _ => ()) =
    new Engine(spark, new Catalog(code), sleeper = sleeper)

  private def completed(res: Map[String, Engine.TaskResult]): Unit =
    assert(res.values.forall(_.status == JobStatus.Completed),
      res.map { case (k, r) => s"$k=${r.status}(${r.message})" })

  /** A branch's answer, order-free (an explore shows partition order). */
  private def answer(r: Engine.TaskResult) =
    (r.grid.map(g => (g.keys, g.values.map(_.mkString(",")).sorted)),
      r.aux.map(_.toString))

  private def persistedIds = spark.sparkContext.getPersistentRDDs.keySet

  /** Spark's cache holds nothing from the runs since `before`. */
  private def released(before: collection.Set[Int]): Unit = {
    assert(spark.sharedState.cacheManager.isEmpty, "CacheManager not empty")
    assert((persistedIds -- before).isEmpty,
      s"persisted RDDs left: ${persistedIds -- before}")
  }

  private def onceAndEqual(src: String): Unit = {
    spark.catalog.clearCache()
    val e = engine("mo1")
    val (res, plans) = ExecutedPlans.around(spark) { l =>
      val r = e.run(fan(src, "fan")); (r, l.all())
    }
    completed(res)
    assert(sourceReads(plans) == 1,
      s"source read ${sourceReads(plans)} times over ${plans.size} executions")
    assert(plans.forall(scans(_, intoCache = false).isEmpty),
      "an execution scanned the source file instead of the cached rows")
    ranges.zipWithIndex.foreach { case (rg, j) =>
      val single = engine(s"mo1s$j").run(linear(src, rg))
      completed(single)
      assert(answer(res(s"peek_${j + 1}")) == answer(single("peek")), rg)
      assert(res(s"peek_${j + 1}").grid.exists(_.values.size == 10))
    }
  }

  test("a fanned-out Parquet import is read once and branches scan cached rows") {
    val src = tmpDir("mo-pq")
    writeParquet(src, scale = 10)
    onceAndEqual(src)
  }

  test("a fanned-out NetCDF import is read once and branches scan cached rows") {
    val src = s"${tmpDir("mo-nc")}/grid.nc"
    writeNc(src)
    onceAndEqual(src)
  }

  test("the run releases the rows when it completes, fails or is cancelled; " +
      "derived cubes still answer") {
    val src = tmpDir("mo-rel")
    writeParquet(src, scale = 10)
    spark.catalog.clearCache()
    val before = persistedIds

    val e = engine("mo2")
    val ok = e.run(fan(src, "ok"))
    completed(ok)
    released(before)
    // a branch's subset cube recomputes from the source after release
    val again = e.runDataOperator("oph_explorecube",
      Map("cube" -> ok("sub_2").cubePid.get, "limit_filter" -> "100",
        "level" -> "2"))
    assert(answer(again) == answer(ok("peek_2")))
    released(before)

    // a branch task fails after the import: the run aborts
    val bad = """{"name": "bad", "operator": "oph_reduce",
      "arguments": ["operation=nosuch"], "dependencies": [{"task": "sub"}]}"""
    val failed = e.run(fan(src, "bad", Seq(sub, bad)))
    assert(failed("imp").status == JobStatus.Completed)
    assert(failed.values.exists(_.status == JobStatus.Error))
    released(before)

    // oph_cancel (kill) lands while the branches wait
    var ck: Engine = null
    ck = engine("mo3", sleeper = _ => ck.cancelWorkflow(1, 'k'))
    val wait = """{"name": "w", "operator": "oph_wait",
      "arguments": ["type=clock", "timeout=5"], "dependencies": [{"task": "sub"}]}"""
    val killed = ck.run(fan(src, "kill", Seq(sub, wait, peek)))
    assert(killed("imp").status == JobStatus.Completed)
    assert(killed("w_1").status == JobStatus.Aborted)
    assert(killed("peek_1").status == JobStatus.Aborted)
    released(before)
    val late = ck.runDataOperator("oph_explorecube",
      Map("cube" -> killed("sub_1").cubePid.get, "limit_filter" -> "100",
        "level" -> "2"))
    assert(answer(late) == answer(ok("peek_1")))
  }

  test("a source rewritten between two runs is read afresh") {
    val src = tmpDir("mo-rw")
    writeParquet(src, scale = 10)
    val e = engine("mo4")
    val first = e.run(fan(src, "rw1"))
    completed(first)
    writeParquet(src, scale = 1000)
    val second = e.run(fan(src, "rw2"))
    completed(second)
    val rows = second("peek_1").grid.get.values
    assert(rows.size == 10)
    // k = 1..10 at scale 1000: m = k * 1000 + i
    val measure = second("peek_1").grid.get.keys.indexOf("m")
    assert(rows.map(_(measure)).forall(_.contains("00")), rows)
    assert(answer(second("peek_1")) != answer(first("peek_1")))
    val fresh = engine("mo4s").run(linear(src, "1:10"))
    assert(answer(second("peek_1")) == answer(fresh("peek")))
  }

  test("two concurrent runs of one path materialise their own rows; " +
      "releasing one leaves the other") {
    val src = tmpDir("mo-cc")
    writeParquet(src, scale = 10)
    spark.catalog.clearCache()
    val before = persistedIds
    val waiting = new CountDownLatch(2)
    val go = new CountDownLatch(1)
    val e = engine("mo5", sleeper = _ => {
      waiting.countDown()
      scala.concurrent.blocking(go.await(60, TimeUnit.SECONDS))
    })
    val wait = """{"name": "w", "operator": "oph_wait",
      "arguments": ["type=clock", "timeout=1"], "dependencies": [{"task": "sub"}]}"""
    ExecutedPlans.around(spark) { l =>
      val a = e.runAsync(fan(src, "a", Seq(sub, wait, peek)))
      assert(waiting.await(60, TimeUnit.SECONDS), "run A never reached its wait")
      val heldByA = persistedIds -- before
      assert(heldByA.nonEmpty, "run A materialised nothing")
      val b = e.run(fan(src, "b"))
      completed(b)
      // B released its own rows and nothing of A's
      assert(persistedIds -- before == heldByA)
      val info = spark.sparkContext.getRDDStorageInfo
        .filter(i => heldByA.contains(i.id))
      assert(info.nonEmpty && info.forall(i =>
        i.numCachedPartitions == i.numPartitions), "A's rows were dropped")
      go.countDown()
      val resA = scala.concurrent.Await.result(a,
        scala.concurrent.duration.Duration(120, "s"))
      completed(resA)
      ranges.indices.foreach(j =>
        assert(answer(resA(s"peek_${j + 1}")) == answer(b(s"peek_${j + 1}"))))
      val plans = l.all()
      assert(plans.forall(scans(_, intoCache = false).isEmpty))
      assert(sourceReads(plans) == 2)
    }
    released(before)
  }

  test("a single-reader import keeps its plan: " +
      "import -> subset -> explore runs as many jobs as before") {
    val src = tmpDir("mo-lin")
    writeParquet(src, scale = 10)
    spark.catalog.clearCache()
    val before = persistedIds
    val e = engine("mo6")
    JobCounter.around(spark) { jobs =>
      completed(e.run(linear(src, "1:10")))
      // three jobs, as before imports could materialise
      assert(jobs.jobsIn(_.startsWith("mo6:")) == 3)
    }
    released(before)
  }

  // ------------------------------------------- rows a store cube owns

  private def importOnly(src: String, extra: String = "") =
    Workflow.parse(s"""{"name": "only", "tasks": [${imp(src, "own", extra)}]}""")

  /** A later request: subset the stored cube `pid`, then explore. */
  private def later(pid: String, range: String) = Workflow.parse(s"""{
    "name": "later", "tasks": [
      {"name": "sub", "operator": "oph_subset",
       "arguments": ["cube=$pid", "subset_dims=k", "subset_filter=$range"]},
      $peek]}""")

  private def explore(e: Engine, pid: String) =
    e.runDataOperator("oph_explorecube",
      Map("cube" -> pid, "limit_filter" -> "100", "level" -> "2"))

  test("a cube imported in one request and read by 5 later requests " +
      "scans its file once, with the answers of unmaterialised runs") {
    val src = tmpDir("mo-own")
    writeParquet(src, scale = 10)
    spark.catalog.clearCache()
    val before = persistedIds
    val e = engine("mo7")
    val reads = Seq("1:10", "11:20", "21:30", "31:40", "5:25")
    val (pid, res, plans) = ExecutedPlans.around(spark) { l =>
      val i = e.run(importOnly(src))
      completed(i)
      val pid = i("imp").cubePid.get
      (pid, reads.map(rg => e.run(later(pid, rg))), l.all())
    }
    res.foreach(completed)
    assert(sourceReads(plans) == 1,
      s"source read ${sourceReads(plans)} times over ${plans.size} executions")
    assert(plans.forall(scans(_, intoCache = false).isEmpty),
      "an execution scanned the source file instead of the cube's rows")
    reads.zip(res).zipWithIndex.foreach { case ((rg, r), j) =>
      val single = engine(s"mo7s$j").run(linear(src, rg))
      completed(single)
      assert(answer(r("peek")) == answer(single("peek")), rg)
    }
    // the rows outlive the import's run; the cube releases them
    assert((persistedIds -- before).size == 1)
    e.clearCubes()
    released(before)
  }

  test("the build over materialised rows is one sort aggregate, " +
      "with no exchange") {
    val src = tmpDir("mo-plan")
    writeParquet(src, scale = 10)
    spark.catalog.clearCache()
    val e = engine("mo8")
    val pid = e.run(importOnly(src))("imp").cubePid.get
    val plans = ExecutedPlans.around(spark) { l =>
      assert(explore(e, pid).grid.exists(_.values.size == 40))
      l.all()
    }
    val reads = plans.filter(p => nodes(p).exists(_.isInstanceOf[InMemoryTableScanExec]))
    assert(reads.size == 1, plans.mkString("\n"))
    val shown = nodes(reads.head)
    assert(shown.exists(_.isInstanceOf[SortAggregateExec]), reads.head)
    assert(!shown.exists(p => p.isInstanceOf[Exchange] ||
      p.isInstanceOf[BaseAggregateExec] && !p.isInstanceOf[SortAggregateExec]),
      reads.head)
    e.clearCubes()
  }

  test("oph_delete, LRU eviction, clearCubes and session removal " +
      "each release the rows a cube owns") {
    val src = tmpDir("mo-drop")
    writeParquet(src, scale = 10)
    spark.catalog.clearCache()
    val before = persistedIds
    def owning(e: Engine): String = {
      val pid = e.run(importOnly(src))("imp").cubePid.get
      assert((persistedIds -- before).size == 1, "the import kept no rows")
      pid
    }

    val e = engine("mo9")
    val del = owning(e)
    completed(e.run(Workflow.parse(s"""{"name": "del", "tasks": [
      {"name": "d", "operator": "oph_delete", "arguments": ["cube=$del"]}]}""")))
    released(before)

    owning(e)
    e.clearCubes()
    released(before)

    // a two-cube store: a later run's two cubes evict the import's
    val small = new Engine(spark, new Catalog("mo10"), maxCubes = 2)
    val evicted = owning(small)
    completed(small.run(linear(src, "1:10")))
    assert(small.cube(evicted).isEmpty, "the import's cube was not evicted")
    released(before)

    val auth = new graft.server.AuthService
    auth.addUser("graft", "secret")
    val svc = new graft.server.HttpService(engine("mo11"), auth).start()
    try {
      val base = s"http://127.0.0.1:${svc.boundPort}/services"
      val importReq = s"""{"name": "only", "sessionid": "mo12",
        "exec_mode": "sync", "tasks": [${imp(src, "own")}]}"""
      assert(post(s"$base/execute", importReq)._1 == 200)
      assert((persistedIds -- before).size == 1, "the import kept no rows")
      val remove = """{"name": "rm", "sessionid": "mo12", "exec_mode": "sync",
        "tasks": [{"name": "t0", "operator": "oph_manage_session",
          "arguments": ["action=disable", "session=mo12"]},
          {"name": "t1", "operator": "oph_manage_session",
          "arguments": ["action=remove", "session=mo12"],
          "dependencies": [{"task": "t0"}]}]}"""
      assert(post(s"$base/execute", remove)._1 == 200)
      // the next route resolution releases the removed session's engine
      assert(post(s"$base/resume?session=mo12&id=1", "")._1 == 404)
      released(before)
    } finally svc.stop()
  }

  private def post(url: String, body: String): (Int, String) = {
    val c = new java.net.URL(url).openConnection()
      .asInstanceOf[java.net.HttpURLConnection]
    c.setRequestProperty("Authorization", "Basic " +
      java.util.Base64.getEncoder.encodeToString("graft:secret".getBytes))
    if (body.nonEmpty) {
      c.setRequestMethod("POST")
      c.setDoOutput(true)
      val os = c.getOutputStream
      try os.write(body.getBytes("UTF-8")) finally os.close()
    }
    val code = c.getResponseCode
    val is = if (code < 400) c.getInputStream else c.getErrorStream
    (code, if (is == null) "" else try new String(is.readAllBytes, "UTF-8")
      finally is.close())
  }

  test("a derived cube still answers after its base is deleted") {
    val src = tmpDir("mo-derived")
    writeParquet(src, scale = 10)
    spark.catalog.clearCache()
    val before = persistedIds
    val e = engine("mo13")
    val pid = e.run(importOnly(src))("imp").cubePid.get
    val derived = e.run(later(pid, "11:20"))
    completed(derived)
    val subPid = derived("sub").cubePid.get
    val first = explore(e, subPid)
    assert(e.dropCube(pid))
    released(before)
    assert(answer(explore(e, subPid)) == answer(first))
    assert(answer(first) == answer(derived("peek")))
    // recomputing from the source persisted nothing again
    released(before)
    e.clearCubes()
  }

  test("an import-time subset on an explicit dim persists only the rows " +
      "it keeps, for both lifetimes") {
    val src = tmpDir("mo-subset")
    writeParquet(src, scale = 10)
    spark.catalog.clearCache()
    val before = persistedIds
    val subsetArgs = ", \"subset_dims=k\", \"subset_filter=11:20\""
    val e = engine("mo14")
    // the cube's lifetime: 10 of 40 keys, 3 rows each
    val (pid, ownPlans) = ExecutedPlans.around(spark) { l =>
      val r = e.run(importOnly(src, subsetArgs))
      completed(r)
      (r("imp").cubePid.get, l.all())
    }
    assert(cachedRows(ownPlans) == Seq(30L))
    val shown = explore(e, pid)
    val single = engine("mo14s").run(linear(src, "11:20"))
    assert(answer(shown) == answer(single("peek")))
    e.clearCubes()
    released(before)
    // the run's lifetime: a fanned-out import with the same subset
    val (fanned, runPlans) = ExecutedPlans.around(spark) { l =>
      val r = e.run(fan(src, "fs", extra = subsetArgs)); (r, l.all())
    }
    completed(fanned)
    assert(cachedRows(runPlans) == Seq(30L))
    assert(answer(fanned("peek_2")) == answer(single("peek")))
    released(before)
  }
}
