package graft.workflow

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkSpec
import graft.core.{Catalog, Grid, JobStatus, ResponseObject, TextObj}

/**
 * oph_explorecube answers from one Spark execution: the shown rows and
 * (at level>=2) the total come from one pass, and the task's answer is
 * a built grid, so rendering the response runs no Spark job.
 *
 * Parity rows compare the rendered response byte for byte with a
 * reference built the two-query way: `sub.count()` for the summary and
 * the grid of a `sub.limit(limit_filter)` frame.
 */
class ExplorecubeOnePassSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private val mapper = new ObjectMapper()

  private def engine() = new Engine(spark, new Catalog("sess"))

  private def lineitem(e: Engine, imp: Boolean): String =
    e.runDataOperator("oph_importnc", Map(
      "src_path" -> sf("lineitem"), "measure" -> "l_quantity",
      "container" -> "li") ++
      (if (imp) Map("exp_dim" -> "l_orderkey", "imp_dim" -> "l_linenumber")
       else Map("exp_dim" -> "l_orderkey|l_linenumber"))).cubePid.get

  private def randcube(e: Engine): String =
    e.runDataOperator("oph_randcube", Map("nrows" -> "40",
      "array_length" -> "3", "container" -> "c", "seed" -> "7")).cubePid.get

  /** The response grid cap (`ResponseWriter.MaxGridRows`), spelled out
    * so the reference does not lean on the code under test. */
  private val gridCap = 100

  private val subsetKeys = Set("subset_dims", "subset_filter", "subset_type")

  /** The explore task's result computed the two-query way. */
  private def reference(e: Engine, pid: String,
      args: Map[String, String]): Engine.TaskResult = {
    val subArgs = args.filter(kv => subsetKeys(kv._1))
    val subPid =
      if (subArgs.isEmpty) pid
      else e.runDataOperator("oph_subset", subArgs + ("cube" -> pid))
        .cubePid.get
    val sub = e.cube(subPid).get
    val limit = args.getOrElse("limit_filter", "100").toInt
    val aux = Seq.newBuilder[ResponseObject]
    if (args.get("level").exists(_.toInt >= 2)) {
      val total = sub.df.count()
      aux += TextObj("explorecube_summary", "Summary",
        s"total rows: $total; displayed: ${math.min(total, math.min(limit, gridCap))}")
    }
    if (args.get("show_index").contains("yes"))
      aux += Grid("explorecube_dimvalues", "Dimension Values",
        keys = Seq("DIMENSION", "VALUES"),
        fieldTypes = Seq("string", "string"),
        values = sub.desc.explicitDims.map { d =>
          Seq(d.name, sub.df.select(sub.df(d.name)).distinct()
            .orderBy(sub.df(d.name)).limit(limit).collect()
            .map(r => Option(r.get(0)).map(_.toString).getOrElse("null"))
            .mkString("|"))
        })
    Engine.TaskResult(JobStatus.Completed, grid = Some(
      graft.render.ResponseWriter.gridOf("ref", "ref", sub.df.limit(limit),
        gridCap)), aux = aux.result())
  }

  private def explore(e: Engine, pid: String,
      args: Map[String, String]): Engine.TaskResult = {
    val r = e.runDataOperator("oph_explorecube", args + ("cube" -> pid))
    assert(r.status == JobStatus.Completed)
    r
  }

  /** Assert the operator's rendered response equals the reference's. */
  private def parity(e: Engine, pid: String, args: Map[String, String],
      format: String = "classic"): String = {
    val got = e.renderResponse("wf", Map("peek" -> explore(e, pid, args)),
      format)
    val want = e.renderResponse("wf", Map("peek" -> reference(e, pid, args)),
      format)
    assert(got == want)
    got
  }

  private def objects(rendered: String) = {
    val r = mapper.readTree(rendered).get("response")
    (0 until r.size).map(r.get)
  }

  private def gridRows(rendered: String, objkey: String): Seq[Seq[String]] = {
    val g = objects(rendered).find(_.get("objkey").asText == objkey).get
      .get("objcontent").get(0).get("rowvalues")
    (0 until g.size).map(i =>
      (0 until g.get(i).size).map(j => g.get(i).get(j).asText))
  }

  private def summary(rendered: String): String =
    objects(rendered).find(_.get("objkey").asText == "explorecube_summary")
      .get.get("objcontent").get(0).get("message").asText

  // ------------------------------------------------------------ parity

  test("parity: randcube, level=2, show_index=yes") {
    val e = engine()
    val out = parity(e, randcube(e), Map("limit_filter" -> "15",
      "level" -> "2", "show_index" -> "yes"))
    assert(summary(out) == "total rows: 40; displayed: 15")
  }

  test("parity: array cube (imp_dim) with an index subset") {
    val e = engine()
    val pid = lineitem(e, imp = true)
    parity(e, pid, Map("subset_dims" -> "l_orderkey",
      "subset_filter" -> "3:40", "limit_filter" -> "20", "level" -> "2"))
  }

  test("parity: limit_filter=1000 caps the grid at 100, classic and compact") {
    val e = engine()
    val pid = lineitem(e, imp = false)
    val args = Map("limit_filter" -> "1000", "level" -> "2")
    val classic = parity(e, pid, args, "classic")
    parity(e, pid, args, "compact")
    assert(gridRows(classic, "peek").size == gridCap)
    assert(summary(classic).endsWith(s"displayed: $gridCap"))
  }

  test("parity: an empty coord subset") {
    val e = engine()
    val out = parity(e, lineitem(e, imp = false), Map(
      "subset_dims" -> "l_orderkey", "subset_type" -> "coord",
      "subset_filter" -> "-9:-1", "level" -> "2"))
    assert(summary(out) == "total rows: 0; displayed: 0")
    assert(gridRows(out, "peek").isEmpty)
  }

  test("parity: level=1 renders no summary") {
    val e = engine()
    val out = parity(e, lineitem(e, imp = true),
      Map("limit_filter" -> "30", "level" -> "1"))
    assert(!objects(out).exists(_.get("objkey").asText == "explorecube_summary"))
  }

  test("parity: limit_filter=0") {
    val e = engine()
    val out = parity(e, randcube(e), Map("limit_filter" -> "0", "level" -> "2"))
    assert(summary(out) == "total rows: 40; displayed: 0")
  }

  test("parity: flat cube with date and decimal dims, show_index=yes") {
    val e = engine()
    val dir = java.nio.file.Files.createTempDirectory("explore-dd")
      .resolve("dd.parquet").toString
    spark.range(0, 300).selectExpr(
      "date_add(date'2020-01-01', cast(id % 50 AS int)) AS d",
      "cast(id / 7 AS decimal(12,3)) AS p",
      "cast(id * 1.5 AS double) AS v").repartition(3).write.parquet(dir)
    val pid = e.runDataOperator("oph_importnc", Map("src_path" -> dir,
      "measure" -> "v", "exp_dim" -> "d|p", "container" -> "dd")).cubePid.get
    val out = parity(e, pid, Map("limit_filter" -> "60", "level" -> "2",
      "show_index" -> "yes"))
    assert(summary(out) == "total rows: 300; displayed: 60")
  }

  test("parity: explore after an apply -> reduce chain") {
    val e = engine()
    val app = e.runDataOperator("oph_apply", Map("cube" -> randcube(e),
      "query" -> "oph_mul_scalar(measure,3)")).cubePid.get
    val red = e.runDataOperator("oph_reduce", Map("cube" -> app,
      "operation" -> "sum")).cubePid.get
    parity(e, red, Map("limit_filter" -> "25", "level" -> "2"))
  }

  // ------------------------------------------------- the task's frame

  test("the task's frame holds exactly the displayed rows") {
    val e = engine()
    val r = explore(e, lineitem(e, imp = false),
      Map("limit_filter" -> "1000", "level" -> "2"))
    val held = r.grid.get.values.length
    assert(held == gridCap)
  }

  // ----------------------------------------------------- distinct rows

  test("the counting pass keeps distinct rows (the row buffer is copied)") {
    val e = engine()
    val out = e.renderResponse("wf", Map("peek" -> explore(e,
      lineitem(e, imp = false), Map("limit_filter" -> "100", "level" -> "2"))))
    val rows = gridRows(out, "peek")
    assert(rows.size == 100)
    assert(rows.distinct.size == rows.size)
  }

  // --------------------------------------------------------- job counts

  /** Captures the QueryExecutions the session's listeners see. */
  private final class QeCapture extends QueryExecutionListener {
    val seen = new ConcurrentLinkedQueue[(String, QueryExecution)]()
    override def onSuccess(name: String, qe: QueryExecution, ns: Long): Unit =
      seen.add(name -> qe)
    override def onFailure(name: String, qe: QueryExecution,
        e: Exception): Unit = ()
    def awaitPass(): QueryExecution = {
      val deadline = System.currentTimeMillis + 30000
      def pass = seen.asScala.find(_._1 == "explorecube").map(_._2)
      while (pass.isEmpty && System.currentTimeMillis < deadline)
        Thread.sleep(10)
      assert(pass.nonEmpty, "no listener saw the explorecube execution")
      pass.get
    }
  }

  private def shuffleStages(plan: SparkPlan): Int =
    collect(plan) { case s: ShuffleExchangeLike => s }.size

  private val passArgs = Map("subset_dims" -> "l_orderkey",
    "subset_filter" -> "1:60", "limit_filter" -> "50", "level" -> "2")

  test("a level=2 explore runs at most shuffle stages + 1 jobs; " +
      "rendering it runs none") {
    val e = engine()
    val pid = lineitem(e, imp = true)
    // the shuffle stages of the explored frame, from a separate run of it
    val subCube = e.cube(e.runDataOperator("oph_subset",
      passArgs.filter(kv => subsetKeys(kv._1)) + ("cube" -> pid))
      .cubePid.get).get
    val probe = subCube.df.select(subCube.df.columns.map(subCube.df(_)): _*)
    probe.collect()
    val stages = shuffleStages(probe.queryExecution.executedPlan)
    JobCounter.around(spark) { jobs =>
      val sc = spark.sparkContext
      sc.setJobGroup("explore-pass", "explore-pass")
      val r = try explore(e, pid, passArgs) finally sc.clearJobGroup()
      val explored = jobs.jobsIn(_ == "explore-pass")
      assert(explored >= 1)
      assert(explored <= stages + 1, s"$explored jobs for $stages shuffle stages")

      sc.setJobGroup("explore-render", "explore-render")
      val out = try e.renderResponse("wf", Map("peek" -> r))
      finally sc.clearJobGroup()
      assert(gridRows(out, "peek").size == 50)
      assert(jobs.jobsIn(_ == "explore-render") == 0)
    }
  }

  test("a QueryExecutionListener sees the explore pass") {
    val e = engine()
    val pid = lineitem(e, imp = true)
    val qes = new QeCapture
    spark.listenerManager.register(qes)
    try {
      explore(e, pid, passArgs)
      val pass = qes.awaitPass()
      assert(pass.executedPlan.toString.contains("isFinalPlan=true"))
    } finally spark.listenerManager.unregister(qes)
  }

  // ------------------------------------------------------- stored frame

  test("exploring a stored cube never executes the stored frame's own plan") {
    val e = engine()
    val pid = lineitem(e, imp = true)
    val stored = e.cube(pid).get
    // no subset arguments: the operator explores the stored frame itself
    val r = explore(e, pid, Map("limit_filter" -> "10", "level" -> "2"))
    val shown = r.grid.get.values.length
    assert(shown == 10)
    // an executed plan would pin its final adaptive plan and shuffle
    // files for as long as the cube stays in the store; the stored
    // frame's plan is still unexecuted, every metric at zero
    val plan = stored.df.queryExecution.executedPlan
    assert(!plan.toString.contains("isFinalPlan=true"))
    assert(collect(plan) { case p => p.metrics.values.map(_.value).sum }.sum == 0)
  }
}
