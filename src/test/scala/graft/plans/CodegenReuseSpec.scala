package graft.plans

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.core.{Catalog, JobStatus, TextObj}
import graft.sources.NetCDF3
import graft.workflow.{Engine, Workflow}

/**
 * Request values reach generated code as parameters: a repeated request
 * shape compiles no new classes, and the answers, the scan pushdown and
 * exchange reuse are what they are without [[ParamLiteralStrategy]].
 *
 * The reference side is a new session of the same context whose engine
 * install is undone, so both sides read the same files with the same
 * configuration.
 */
class CodegenReuseSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  /** Classes Janino compiled in this JVM so far (cache misses only). */
  private def compiled: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private lazy val engine = new Engine(spark, new Catalog("params"))

  /** A session and engine without the parameter strategy. */
  private lazy val (plainSpark, plain): (SparkSession, Engine) = {
    val s = spark.newSession()
    val e = new Engine(s, new Catalog("plain"))
    s.experimental.extraStrategies =
      s.experimental.extraStrategies.filterNot(_.isInstanceOf[ParamLiteralStrategy])
    (s, e)
  }

  /** The ParamLiterals in a frame's physical plan. */
  private def params(df: DataFrame): Seq[ParamLiteral] =
    collectWithSubqueries(df.queryExecution.executedPlan) { case p =>
      p.expressions.flatMap(_.collect { case x: ParamLiteral => x })
    }.flatten

  private def tmp(prefix: String, ext: String): String = {
    val f = java.io.File.createTempFile(prefix, ext)
    f.delete(); f.deleteOnExit(); f.getPath
  }

  /** orders with a date, a timestamp and a timestamp_ntz dimension. */
  private lazy val ordersDated: String = {
    val p = tmp("orders_dated", ".parquet")
    plainSpark.read.parquet(sf("orders")).select(col("o_orderkey"),
      to_date(col("o_orderdate")).as("o_day"),
      col("o_orderdate").cast("timestamp").as("o_ts"),
      col("o_orderdate").as("o_ntz"), col("o_totalprice"))
      .write.parquet(p)
    p
  }

  /** A 40 x 6 NetCDF-3 grid: time (double coords 10, 20, ...) x level. */
  private lazy val grid: String = {
    val p = tmp("reuse_grid", ".nc")
    NetCDF3.write(p,
      dims = Seq(NetCDF3.Dim("time", 40), NetCDF3.Dim("level", 6)),
      vars = Seq(
        ("time", Seq(0), Array.tabulate(40)(t => (t + 1) * 10.0)),
        ("level", Seq(1), Array.tabulate(6)(l => 1000.0 - l * 100)),
        ("tas", Seq(0, 1), Array.tabulate(240)(i => (i % 97) * 0.5))))
    p
  }

  private def importArgs(src: String, measure: String, exp: String,
      imp: Option[String]): Map[String, String] =
    Map("src_path" -> src, "measure" -> measure, "exp_dim" -> exp,
      "container" -> "reuse") ++ imp.map("imp_dim" -> _)

  /** One parity case: a cube built the same way on each engine, then
    * subset with these arguments. */
  private case class Case(build: Engine => String, subset: Map[String, String])

  private def imported(src: => String, measure: String, exp: String,
      imp: Option[String] = None): Engine => String =
    e => e.runDataOperator("oph_importnc",
      importArgs(src, measure, exp, imp)).cubePid.get

  private val randcube: Engine => String = e => e.runDataOperator(
    "oph_randcube", Map("nrows" -> "60", "array_length" -> "4",
      "container" -> "reuse", "seed" -> "3")).cubePid.get

  private def coord(dim: String, filter: String) =
    Map("subset_dims" -> dim, "subset_filter" -> filter, "subset_type" -> "coord")
  private def index(dim: String, filter: String) =
    Map("subset_dims" -> dim, "subset_filter" -> filter)

  private lazy val cases: Seq[(String, Case)] = Seq(
    "parquet array cube, long index bounds" -> Case(
      imported(sf("lineitem"), "l_quantity", "l_orderkey", Some("l_linenumber")),
      index("l_orderkey", "5:40")),
    "parquet array cube, strided long bounds" -> Case(
      imported(sf("lineitem"), "l_quantity", "l_orderkey", Some("l_linenumber")),
      index("l_orderkey", "3:90:4")),
    "parquet flat cube, int coord bounds" -> Case(
      imported(sf("lineitem"), "l_quantity", "l_orderkey|l_linenumber"),
      coord("l_linenumber", "2:3")),
    "netcdf array cube, double coord bounds" -> Case(
      imported(grid, "tas", "time", Some("level")),
      coord("time", "95.5:260.0")),
    "netcdf flat cube, double equality" -> Case(
      imported(grid, "tas", "time|level"),
      coord("level", "700.0")),
    "randcube, long index bounds" -> Case(randcube, index("key", "3:17")),
    "randcube, implicit index bounds (lambda)" -> Case(randcube, index("idx", "2:3")),
    "date dimension, coord bounds" -> Case(
      imported(ordersDated, "o_totalprice", "o_day"),
      coord("o_day", "1995-01-01:1995-06-30")),
    "timestamp dimension, coord bounds" -> Case(
      imported(ordersDated, "o_totalprice", "o_ts"),
      coord("o_ts", "1996-01-01:1996-03-31")),
    "timestamp_ntz dimension, coord bounds" -> Case(
      imported(ordersDated, "o_totalprice", "o_ntz"),
      coord("o_ntz", "1997-05-01:1997-12-31")))

  /** The subset cube's rows (sorted) and its level=2 explore summary. */
  private def answer(e: Engine, c: Case): (Seq[String], String) = {
    val sub = e.runDataOperator("oph_subset",
      c.subset + ("cube" -> c.build(e))).cubePid.get
    val rows = e.cube(sub).get.df.collect().map(_.toString).sorted.toSeq
    val peek = e.runDataOperator("oph_explorecube",
      Map("cube" -> sub, "level" -> "2", "limit_filter" -> "100"))
    assert(peek.status == JobStatus.Completed)
    val summary = peek.aux.collectFirst {
      case TextObj("explorecube_summary", _, m) => m }.get
    (rows, summary)
  }

  test("the engine installs the strategy once; the reference side has none") {
    engine
    assert(spark.sessionState.planner.strategies
      .count(_.isInstanceOf[ParamLiteralStrategy]) == 1)
    graft.GraftExtensions.install(spark)
    new Engine(spark, new Catalog("again"))
    assert(spark.sessionState.planner.strategies
      .count(_.isInstanceOf[ParamLiteralStrategy]) == 1)
    assert(spark.sessionState.planner.strategies
      .count(_ == AsofJoinStrategy) == 1)
    plain
    assert(!plainSpark.sessionState.planner.strategies
      .exists(_.isInstanceOf[ParamLiteralStrategy]))
  }

  test("20 subset->explorecube workflows with distinct bounds compile no class after the first") {
    val base = imported(sf("lineitem"), "l_quantity", "l_orderkey",
      Some("l_linenumber"))(engine)
    def run(lo: Int, hi: Int): Unit = {
      val r = engine.run(Workflow.parse(s"""{"name": "reuse", "tasks": [
        {"name": "sub", "operator": "oph_subset", "arguments": [
          "cube=$base", "subset_dims=l_orderkey", "subset_filter=$lo:$hi"]},
        {"name": "peek", "operator": "oph_explorecube",
         "arguments": ["limit_filter=20", "level=2"],
         "dependencies": [{"task": "sub"}]}]}"""))
      assert(r.values.forall(_.status == JobStatus.Completed), r)
    }
    // a fixed span of 50 keys: a span past 128 keys switches the
    // import's collect_list aggregation to its sort-based fallback, a
    // plan variant that compiles its own classes once
    run(1, 50)
    val before = compiled
    (1 until 20).foreach(i => run(1 + 7 * i, 50 + 7 * i))
    assert(compiled - before == 0,
      s"${compiled - before} classes compiled for 19 repeated request shapes")
  }

  cases.foreach { case (name, c) =>
    test(s"parity: $name") {
      val (got, gotSummary) = answer(engine, c)
      val (want, wantSummary) = answer(plain, c)
      assert(got.nonEmpty, "the subset must keep rows")
      assert(got == want)
      assert(gotSummary == wantSummary)
    }
  }

  /** IN lists, `<=>`, arithmetic and a filter above an aggregate, with
    * int, long, double and timestamp operands. */
  private def relational(s: SparkSession): DataFrame = {
    val li = s.read.parquet(sf("lineitem"))
    li.filter(col("l_orderkey").isin(1L, 3L, 7L, 32L, 33L, 35L) ||
        (col("l_linenumber") <=> 6) ||
        col("l_shipdate") >= lit("1998-10-01").cast("timestamp"))
      .groupBy(col("l_orderkey"))
      .agg(sum(col("l_quantity") * 2.5 - 1).as("q"), count(lit(1)).as("n"))
      .filter(col("q") > 40.0 && col("n") <=> 2L || col("n").isin(1L, 7L))
      .select(col("l_orderkey"), col("q") / 4 + 1, col("n") * 3 - 2)
  }

  test("parity: IN lists, <=>, arithmetic and an aggregate filter") {
    engine
    val got = relational(spark)
    val want = relational(plainSpark)
    assert(got.collect().map(_.toString).sorted.toSeq ==
      want.collect().map(_.toString).sorted.toSeq)
    assert(got.count() > 0)
    assert(params(got).nonEmpty && params(want).isEmpty)
    assert(params(got).map(_.dataType).toSet.size >= 3)
  }

  /** The scan node of a frame's executed plan. */
  private def scan(df: DataFrame): SparkPlan = collectFirst(
    df.queryExecution.executedPlan) {
      case s: FileSourceScanExec => s
      case s: BatchScanExec => s
    }.get

  private def pushed(df: DataFrame): String =
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
      .linesIterator.filter(l => l.contains("PushedFilters") || l.contains("hints:"))
      .mkString("\n")

  test("pushdown unchanged: scan filters, input rows and plan text") {
    engine
    Seq[SparkSession => DataFrame](
      s => s.read.parquet(sf("lineitem"))
        .filter(col("l_orderkey") >= 100L && col("l_orderkey") <= 400L &&
          col("l_quantity") < 20.0),
      s => s.read.format("netcdf3").load(grid)
        .filter(col("time") >= 95.5 && col("time") <= 260.0)
    ).foreach { q =>
      val (got, want) = (q(spark), q(plainSpark))
      got.collect(); want.collect()
      val p = pushed(got)
      assert(p.nonEmpty && p == pushed(want))
      val rowsRead = (df: DataFrame) =>
        scan(df).metrics("numOutputRows").value
      assert(rowsRead(got) == rowsRead(want))
      assert(params(got).nonEmpty)
      val text = (df: DataFrame) =>
        df.queryExecution.executedPlan.toString.replaceAll("#\\d+", "#")
      assert(text(got) == text(want))
    }
  }

  test("no wrong reuse: a self-union of subsets differing only in bounds") {
    engine
    val pid = imported(sf("lineitem"), "l_quantity", "l_orderkey",
      Some("l_linenumber"))(engine)
    // the bound sits on the aggregated measure, above the shuffle: only
    // the value of the literal tells the two count branches apart
    val sums = engine.cube(pid).get.df
      .select(aggregate(col("l_quantity"), lit(0.0), _ + _).as("q"))
    def branch(lo: Double) = sums.filter(col("q") >= lo).agg(count(lit(1)))
    val counts = branch(50.0).union(branch(150.0)).collect().map(_.getLong(0))
    val want = Seq(50.0, 150.0).map(lo => sums.collect().count(_.getDouble(0) >= lo).toLong)
    assert(counts.toSeq == want)
    assert(want(0) > want(1))
  }
}
