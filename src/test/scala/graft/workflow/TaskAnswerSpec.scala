package graft.workflow

import scala.concurrent.Await
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.SparkSpec
import graft.core.{Catalog, Grid, JobStatus, Response, ResponseObject, TextObj}
import graft.cube.CubeOps
import graft.render.ResponseWriter

/**
 * A task's answer is data: every grid-returning operator builds its
 * grid inside the task, so the response renders byte for byte as it
 * did when the renderer collected a frame, rendering runs no Spark job,
 * `oph_cancel` reaches the collect, and checkpoint replay (in memory
 * and after a restart from the run-state file) serves the answer
 * without running the task again.
 *
 * Parity rows build the reference response the frame way: the grid of
 * the frame the operator used to hand over (`gridOf(frame)`, capped at
 * 100 rows), recomputed here, plus the operator's auxiliary objects.
 */
class TaskAnswerSpec extends SparkSpec {

  private val gridCap = 100

  private def engine(code: String) = new Engine(spark, new Catalog(code))

  private def withJobs[T](body: JobCounter => T): T =
    JobCounter.around(spark)(body)

  // ------------------------------------------------------ the answers

  private val e = engine("answers")

  /** A 12-row series (not a power of two: the wavelet pads it). */
  private lazy val series: String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_answer")
    val p = dir.resolve("series.parquet").toString
    (1 to 12).map(i => (i.toDouble, math.sin(i * 0.7) * 10 + i))
      .toDF("t", "y").coalesce(1).write.parquet(p)
    p
  }

  private lazy val lineitem: String = e.runDataOperator("oph_importnc", Map(
    "src_path" -> sf("lineitem"), "measure" -> "l_quantity",
    "exp_dim" -> "l_orderkey", "imp_dim" -> "l_linenumber",
    "container" -> "li")).cubePid.get

  /** 300 rows in partition order (no shuffle): the shown rows are the
    * same whichever query reads them. */
  private lazy val randcube: String = e.runDataOperator("oph_randcube",
    Map("nrows" -> "300", "array_length" -> "3", "container" -> "r",
      "seed" -> "7")).cubePid.get

  private lazy val flatLineitem: String = e.runDataOperator("oph_importnc",
    Map("src_path" -> sf("lineitem"), "measure" -> "l_quantity",
      "exp_dim" -> "l_orderkey|l_linenumber", "container" -> "flat"))
    .cubePid.get

  private def seriesArgs(extra: (String, String)*) =
    Map("src_path" -> series, "measure" -> "y", "dim" -> "t") ++ extra

  /** The explorecube reference: the shown rows, the total and the
    * per-dimension value lists, each from its own query. */
  private def exploreRef(args: Map[String, String]): (DataFrame, Seq[ResponseObject]) = {
    val c = e.cube(randcube).get
    val limit = args("limit_filter").toInt
    val total = c.df.count()
    val shown = math.min(limit, gridCap)
    val dims = Grid("explorecube_dimvalues", "Dimension Values",
      keys = Seq("DIMENSION", "VALUES"), fieldTypes = Seq("string", "string"),
      values = c.desc.explicitDims.map { d =>
        Seq(d.name, c.df.select(c.df(d.name)).distinct()
          .orderBy(c.df(d.name)).limit(limit).collect()
          .map(r => String.valueOf(r.get(0))).mkString("|"))
      })
    (c.df.limit(shown), Seq(TextObj("explorecube_summary", "Summary",
      s"total rows: $total; displayed: ${math.min(total, shown)}"), dims))
  }

  /** The explorenc show_stats reference: every statistic of the mask. */
  private def statsRef(): DataFrame = {
    val m = col("y").cast("double")
    spark.read.parquet(series).agg(avg(m).as("mean"),
      var_samp(m).as("variance"), stddev_samp(m).as("std"),
      skewness(m).as("skew"), kurtosis(m).as("kurtosis"),
      percentile_approx(m, lit(0.5), lit(10000)).as("median"),
      min(m).as("min"), max(m).as("max"), (max(m) - min(m)).as("range"))
  }

  /** The explorenc show_fit reference: the least-squares line. */
  private def fitRef(): DataFrame = {
    import spark.implicits._
    val (x, y) = (col("t").cast("double"), col("y").cast("double"))
    val s = spark.read.parquet(series).agg(count(y), sum(x), sum(y),
      sum(x * y), sum(x * x)).head()
    val (n, sx, sy, sxy, sxx) = (s.getLong(0).toDouble, s.getDouble(1),
      s.getDouble(2), s.getDouble(3), s.getDouble(4))
    val slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    Seq(("y", "t", slope, (sy - slope * sx) / n))
      .toDF("measure", "dim", "slope", "intercept")
  }

  /** The ordered series, padded with its last value to a power of two. */
  private def paddedSeries(): (Array[Double], Int) = {
    val xs = spark.read.parquet(series).orderBy("t").select("y")
      .collect().map(_.getDouble(0))
    val n2 = Integer.highestOneBit(xs.length) match {
      case p if p == xs.length => p
      case p => p * 2
    }
    (xs ++ Array.fill(n2 - xs.length)(xs.last), xs.length)
  }

  /** Haar with pairwise averages and half-differences: (level, pos,
    * coeff) of every detail, finest first, then the final average;
    * and the inverse from a kept subset. */
  private def haar(x: Array[Double]): Seq[(Int, Int, Double)] = {
    var a = x.toSeq
    var level = 0
    val out = Seq.newBuilder[(Int, Int, Double)]
    while (a.size > 1) {
      val pairs = a.grouped(2).toSeq
      out ++= pairs.zipWithIndex.map { case (pr, p) => (level, p, (pr(0) - pr(1)) / 2) }
      a = pairs.map(pr => (pr(0) + pr(1)) / 2)
      level += 1
    }
    (out += ((level, 0, a.head))).result()
  }

  private def haarInverse(kept: Seq[(Int, Int, Double)], levels: Int): Array[Double] = {
    def at(l: Int, p: Int) =
      kept.find(c => c._1 == l && c._2 == p).map(_._3).getOrElse(0.0)
    (levels - 1 to 0 by -1).foldLeft(Array(at(levels, 0))) { (a, l) =>
      a.indices.flatMap(p => Seq(a(p) + at(l, p), a(p) - at(l, p))).toArray
    }
  }

  /** The wavelet reference: the top-k coefficients (wavelet=only) or
    * the denoised series plus the coefficient grid (wavelet=yes). */
  private def waveletRef(family: String, only: Boolean,
      k: Int): (DataFrame, Seq[ResponseObject]) = {
    import spark.implicits._
    val (data, len) = paddedSeries()
    val n2 = data.length
    val levels = 31 - Integer.numberOfLeadingZeros(n2)
    val coeffs =
      if (family == "haar") haar(data)
      else {
        val fw = graft.functions.Wavelet.forward(data, family)
        (0 until levels).flatMap { l =>
          val base = n2 >> (l + 1)
          (0 until base).map(p => (l, p, fw(base + p)))
        } :+ ((levels, 0, fw(0)))
      }
    val top = coeffs.sortBy { case (_, _, c) => -math.abs(c) }.take(k)
    if (only) (top.toDF("level", "pos", "coeff"), Seq.empty)
    else {
      val rec =
        if (family == "haar") haarInverse(top, levels)
        else {
          val kept = new Array[Double](n2)
          top.foreach { case (l, p, c) =>
            kept(if (l == levels) 0 else (n2 >> (l + 1)) + p) = c
          }
          graft.functions.Wavelet.inverse(kept, family)
        }
      ((0 until len).map(i => (i + 1, data(i), rec(i)))
        .toDF("idx", "value", "denoised"),
        Seq(Grid("explorenc_wavelet_coeff", "Wavelet Coefficients",
          keys = Seq("LEVEL", "POS", "COEFF"),
          fieldTypes = Seq("int", "int", "double"),
          values = top.map { case (l, p, c) =>
            Seq(l.toString, p.toString, c.toString) })))
    }
  }

  private val sqlQuery =
    "SELECT l_orderkey, l_linenumber, l_quantity FROM flat_l_quantity " +
      "ORDER BY l_orderkey, l_linenumber"

  /** One grid-returning case: the operator call and the reference
    * frame and auxiliary objects it is rendered against. */
  private final case class Case(run: () => Engine.TaskResult,
      reference: () => (DataFrame, Seq[ResponseObject]))

  private def plain(df: => DataFrame) = () => (df, Seq.empty[ResponseObject])

  private val cases: Seq[(String, Case)] = {
    val exploreArgs = Map("level" -> "2", "show_index" -> "yes",
      "limit_filter" -> "150")
    val resumeArgs = Map("id_type" -> "marker", "level" -> "3",
      "document_type" -> "request")
    def op(name: String, args: Map[String, String]) =
      () => e.runDataOperator(name, args)
    def explorenc(mode: (String, String)*) =
      op("oph_explorenc", seriesArgs(mode: _*))
    Seq(
      "explorecube" -> Case(
        () => e.runDataOperator("oph_explorecube",
          exploreArgs + ("cube" -> randcube)),
        () => exploreRef(exploreArgs)),
      "cubeschema" -> Case(() => e.runDataOperator("oph_cubeschema",
        Map("cube" -> lineitem)),
        plain(CubeOps.cubeschema(spark, e.cube(lineitem).get))),
      "cubesize" -> Case(() => e.runDataOperator("oph_cubesize",
        Map("cube" -> lineitem)),
        plain(CubeOps.cubesize(e.cube(lineitem).get))),
      "cubeelements" -> Case(() => e.runDataOperator("oph_cubeelements",
        Map("cube" -> lineitem)),
        plain(CubeOps.cubeelements(e.cube(lineitem).get))),
      "showgrid" -> Case(() => e.runDataOperator("oph_showgrid",
        Map("cube" -> lineitem)),
        plain(CubeOps.cubeschema(spark, e.cube(lineitem).get))),
      "explorenc_stats" -> Case(explorenc("show_stats" -> "111111111"),
        plain(statsRef())),
      "explorenc_fit" -> Case(explorenc("show_fit" -> "yes"),
        plain(fitRef())),
      "explorenc_describe" -> Case(
        op("oph_explorenc", Map("src_path" -> series)),
        plain(spark.read.parquet(series).describe())),
      "explorenc_haar_only" -> Case(
        explorenc("wavelet" -> "only", "wavelet_coeff" -> "5"),
        () => waveletRef("haar", only = true, 5)),
      "explorenc_haar_yes" -> Case(
        explorenc("wavelet" -> "yes", "wavelet_coeff" -> "5"),
        () => waveletRef("haar", only = false, 5)),
      "explorenc_db4_only" -> Case(explorenc("wavelet" -> "only",
        "wavelet_family" -> "db4", "wavelet_coeff" -> "6"),
        () => waveletRef("db4", only = true, 6)),
      "explorenc_db4_yes" -> Case(explorenc("wavelet" -> "yes",
        "wavelet_family" -> "db4", "wavelet_coeff" -> "6"),
        () => waveletRef("db4", only = false, 6)),
      "resume_listing" -> Case(op("oph_resume", resumeArgs), plain {
        // the listing as the frame the operator used to build
        val listing = e.sessions.resumeRequest(e.catalog.sessionCode,
          e.user, resumeArgs)
          .asInstanceOf[graft.server.SessionService.ResumedListing]
        spark.createDataFrame(
          listing.rows.map(r => Row(r: _*)).asJava,
          StructType(listing.columns.map(StructField(_, StringType))))
      }),
      "sql" -> Case(() => {
        flatLineitem
        e.runDataOperator("oph_sql", Map("query" -> sqlQuery))
      }, plain(spark.sql(sqlQuery))))
  }

  /** Each case's result, run once (a listing's job rows come from the
    * workflow run first). */
  private lazy val results: Map[String, Engine.TaskResult] = {
    e.run(Workflow.parse("""{"name": "seed", "tasks": [
      {"name": "mk", "operator": "oph_randcube",
       "arguments": ["nrows=3", "array_length=2", "container=c"]}]}"""))
    cases.map { case (name, c) => name -> c.run() }.toMap
  }

  private def rendered(name: String): String =
    e.renderResponse("wf", Map(name -> results(name)))

  // ----------------------------------------------------------- parity

  cases.foreach { case (name, c) =>
    test(s"parity: $name renders as the grid of its frame") {
      val r = results(name)
      assert(r.status == JobStatus.Completed, r.message)
      val (frame, aux) = c.reference()
      val expected = ResponseWriter.render(Response(
        source = Map("session" -> e.catalog.sessionCode, "workflow" -> "wf",
          "producer" -> e.user),
        consumers = Seq(e.user),
        objects = ResponseWriter.gridOf(name, name, frame, gridCap) +: aux))
      assert(rendered(name) == expected)
    }
  }

  test("the sql grid shows the first 100 of its rows") {
    assert(spark.sql(sqlQuery).count() > gridCap)
    val rows = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(rendered("sql")).get("response").get(0)
      .get("objcontent").get(0).get("rowvalues")
    assert(rows.size == gridCap)
  }

  // ------------------------------------------------------ pure render

  test("renderResponse runs no Spark job for any grid operator") {
    val answers = results
    withJobs { jobs =>
      val sc = spark.sparkContext
      val perOp = answers.keys.toSeq.sorted.map { name =>
        val group = s"render-$name"
        sc.setJobGroup(group, group)
        try e.renderResponse("wf", Map(name -> answers(name)),
          outputFormat = "extended_compact")
        finally sc.clearJobGroup()
        name -> jobs.jobsIn(_ == group)
      }
      assert(perOp.forall(_._2 == 0),
        s"render ran Spark jobs: ${perOp.filter(_._2 > 0)}")
    }
  }

  // ----------------------------------------------------------- cancel

  test("oph_cancel kill interrupts an oph_sql grid task mid-collect") {
    val ce = engine("answer-cancel")
    spark.udf.register("graft_slow_id", (x: Long) => { Thread.sleep(50); x })
    val spec = Workflow.parse("""{"name": "slow", "tasks": [
      {"name": "q", "operator": "oph_sql",
       "arguments": ["query=SELECT graft_slow_id(id) AS v FROM range(0, 1000, 1, 1)"]}]}""")
    val inTask = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (Option(j.properties).flatMap(p =>
            Option(p.getProperty("spark.jobGroup.id")))
            .exists(_.startsWith("answer-cancel:"))) inTask.countDown()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val id = ce.reserveWorkflowId()
      val run = ce.runAsync(spec, presetId = Some(id))
      while (inTask.getCount > 0 && !run.isCompleted) Thread.sleep(10)
      assert(inTask.getCount == 0,
        "the task ran no Spark job under the workflow's job group")
      ce.cancelWorkflow(id, 'k')
      // uncancelled, the 100 shown rows take 5 s and the task completes
      val res = Await.result(run, 60.seconds)
      assert(res("q").status == JobStatus.Error, res("q").message)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  // ------------------------------------------------ checkpoint replay

  private def exploreRequest(name: String) = s"""{
    "name": "$name", "checkpoint": "last", "tasks": [
      {"name": "mk", "operator": "oph_randcube",
       "arguments": ["nrows=40", "array_length=3", "container=c", "seed=7"]},
      {"name": "peek", "operator": "oph_explorecube",
       "arguments": ["level=2", "show_index=yes", "limit_filter=25"],
       "dependencies": [{"task": "mk"}]}
    ]}"""

  test("checkpoint replays a grid task in memory with no Spark job") {
    val re = engine("answer-replay")
    val req = exploreRequest("replay")
    val first = re.runRequest(Workflow.parse(req), Some(req))
    val out1 = re.renderResponse("replay", first)
    assert(out1.contains("explorecube_summary"))
    val (second, jobs) = withJobs { jobs =>
      val r = re.runRequest(Workflow.parse(req), Some(req))
      (r, jobs.jobsIn(_.startsWith("answer-replay:")))
    }
    assert(jobs == 0, s"the replayed run ran $jobs Spark jobs")
    assert(re.renderResponse("replay", second) == out1)
  }

  test("checkpoint replays a grid task after a restart from the run store") {
    val file = java.nio.file.Files.createTempDirectory("graft_answer_runs")
      .resolve("runs.json")
    val req = exploreRequest("restart")
    val e1 = new Engine(spark, new Catalog("answer-restart"),
      runStateFile = Some(file))
    val first = e1.runRequest(Workflow.parse(req), Some(req))
    val peek1 = e1.renderResponse("restart", Map("peek" -> first("peek")))
    // a new engine on the same file: the randcube's cube is gone and
    // re-runs (lazily); the explore replays its saved answer
    val e2 = new Engine(spark, new Catalog("answer-restart"),
      runStateFile = Some(file))
    val (second, jobs) = withJobs { jobs =>
      val r = e2.runRequest(Workflow.parse(req), Some(req))
      (r, jobs.jobsIn(_.startsWith("answer-restart:")))
    }
    assert(jobs == 0, s"the explore ran again ($jobs Spark jobs)")
    assert(e2.renderResponse("restart", Map("peek" -> second("peek"))) == peek1)
    assert(e2.renderResponse("restart", second) ==
      e1.renderResponse("restart", first))
  }

  test("checkpoint re-runs a fan-out when any of its outputs is gone") {
    val dir = java.nio.file.Files.createTempDirectory("graft_fanout").toFile
    val src = spark.read.parquet(sf("orders")).limit(30)
    Seq("a" -> 30, "b" -> 10, "c" -> 20).foreach { case (n, rows) =>
      src.limit(rows).write.parquet(new java.io.File(dir, s"$n.parquet").getPath)
    }
    def req(op: String) = s"""{
      "name": "fan", "checkpoint": "last", "tasks": [
        {"name": "fan", "operator": "oph_importnc",
         "arguments": ["src_path=[path=${dir.getPath};file=*.parquet]",
           "measure=o_totalprice", "exp_dim=o_orderdate", "container=f"]},
        {"name": "pick", "operator": "$op", "arguments": [],
         "dependencies": [{"task": "fan", "argument": "cube",
           "output_order": "0"}]}
      ]}"""
    val fe = engine("answer-fanout")
    val r1 = fe.runRequest(Workflow.parse(req("oph_cubeelements")),
      Some(req("oph_cubeelements")))
    assert(r1("pick").status == JobStatus.Completed)
    val outputs = r1("fan").outputs
    assert(outputs.size == 3 && r1("fan").cubePid.contains(outputs.last))
    // output 0 (a.parquet) goes; the last one stays
    fe.runDataOperator("oph_delete", Map("cube" -> outputs.head))
    // a changed dependant re-runs; the fan-out must too, or output 0
    // routes a deleted cube into it
    val changed = req("oph_cubesize")
    val r2 = fe.runRequest(Workflow.parse(changed), Some(changed))
    assert(r2("fan").status == JobStatus.Completed)
    assert(r2("pick").status == JobStatus.Completed, r2("pick").message)
    assert(r2("fan").outputs.head != outputs.head)
  }
}
