package graft

import org.apache.spark.sql.functions._

/**
 * Scale-shape plan audits for the round-4 paths: these assert the
 * PHYSICAL PLAN properties that make the operators viable at 100 TB,
 * so a regression that re-introduces a shuffle or un-prunes a scan
 * fails CI, not a production run.
 */
class PlanAuditSpec extends SparkSpec {

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("n-D gather keeps its producer in a separate Project (no lambda inlining)") {
    // element_at(m, i) inside a transform lambda re-evaluates m's
    // producer PER ELEMENT if CollapseProject inlines it into the
    // lambda — a composed build->permute->explode chain then goes
    // quadratic in the cell count (measured 5x wall on a 252-cell
    // grid, unbounded at climate shapes). gatherGuard must keep the
    // producing expression in its own operator: between the Generate
    // and the producing Aggregate there must be a Project carrying the
    // gather transform.
    import graft.core.{CubeDescriptor, DimensionSpec}
    import graft.cube.{Cube, CubeOps}
    val base = spark.range(100).toDF("k")
      .withColumn("g", pmod(col("k"), lit(5)))
      .groupBy("g").agg(collect_list(col("k").cast("double")).as("m"))
      .withColumn("m", expr("transform(m, x -> x + 1.0)")) // non-cheap producer
    val cube = Cube(base, CubeDescriptor(0, 0, "c", "/", "m", "double", 0,
      Seq(DimensionSpec("g", "long", explicit = true)),
      Seq(DimensionSpec("a", "int", explicit = false, size = Some(4L)),
        DimensionSpec("b", "int", explicit = false, size = Some(5L)))))
    val q = CubeOps.permuteN(cube, Seq("b", "a")).df
      .select(col("g"), posexplode(col("m")))
    val p = plan(q)
    // the gather Project must exist between Generate and the Aggregate
    val lines = p.linesIterator.toSeq
    val genIdx = lines.indexWhere(_.contains("Generate"))
    val aggIdx = lines.indexWhere(_.contains("Aggregate"))
    assert(genIdx >= 0 && aggIdx > genIdx, s"unexpected plan shape:\n$p")
    assert(lines.slice(genIdx, aggIdx).exists(l =>
      l.contains("Project") && l.contains("transform")),
      s"gather transform collapsed into the aggregate (quadratic re-eval):\n$p")
  }

  test("pipeline_corpus3: composed corpus prep keeps its scale shape") {
    // the v3 composition end-to-end on sf0.001: the FINAL assembly
    // (pack join lm) must broadcast the gram tables and the lm score
    // join — no cartesian product, no sort-merge join on the doc axis,
    // and the only unpartitioned window is the prefix-sum offset frame
    // over <= numPartitions rows (the documented benign frame)
    val q = SparkEntry.queries("pipeline_corpus3")(
      spark, "/root/testdata/sf0.001")
    val p = plan(q)
    assert(!p.contains("CartesianProduct"), s"cartesian in:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"expected broadcast gram-table joins, got:\n$p")
    // corpus-sized x corpus-sized joins on the doc axis (the lm-score
    // attach) legitimately shuffle; everything else must broadcast —
    // more than ONE sort-merge join means a bounded gram/threshold
    // table stopped broadcasting
    assert("SortMergeJoin".r.findAllIn(p).size <= 1,
      s"bounded side fell out of broadcast:\n$p")
    assert(q.count() > 0, "composition produced no packed sequences")
  }

  test("multimodal imageStats is shuffle-free partition-local decode") {
    val media = graft.pipeline.Multimodal.syntheticPngMedia(spark, 32)
    val p = plan(graft.pipeline.Multimodal.imageStats(media))
    assert(!p.contains("Exchange"),
      s"decode must stay partition-local, got:\n$p")
    assert(p.contains("MapPartitions") || p.contains("SerializeFromObject"),
      s"expected the typed mapPartitions pipeline, got:\n$p")
  }

  test("exportnc's encodable projection prunes the parquet scan") {
    val cube = graft.cube.CubeOps.importParquet(spark,
      sf("lineitem"), "l_quantity", Seq("l_orderkey", "l_linenumber"))
    val dfEnc = cube.flatten.select(
      col("l_orderkey").cast("double"), col("l_quantity").cast("double"))
    val p = plan(dfEnc)
    val readSchema = p.linesIterator
      .find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("l_orderkey") &&
      readSchema.contains("l_quantity"),
      s"scan must read the projected columns, got: $readSchema")
    assert(!readSchema.contains("l_extendedprice") &&
      !readSchema.contains("l_comment"),
      s"scan must NOT read unprojected columns, got: $readSchema")
    assert(!p.contains("Exchange"),
      "a straight projection export must not shuffle")
  }

  test("explorenc show_stats is one distributed aggregation") {
    val raw = spark.read.parquet(sf("lineitem"))
    val m = col("l_quantity").cast("double")
    val agg = raw.agg(avg(m).as("mean"), stddev_samp(m).as("std"),
      max(m).as("max"))
    val p = plan(agg)
    // partial + final hash aggregate around ONE exchange — the
    // map-side-combine shape
    assert("Exchange".r.findAllIn(p).size == 1,
      s"stats must be one partial-agg exchange, got:\n$p")
    assert(p.contains("HashAggregate") || p.contains("SortAggregate"))
  }

  test("asof join is one equi-shuffle: no nested-loop, no range explosion") {
    import spark.implicits._
    val left = Seq((1L, 10L, "a"), (1L, 20L, "b"), (2L, 15L, "c"))
      .toDF("k", "t", "ev")
    val right = Seq((1L, 5L, 1.0), (1L, 18L, 2.0), (2L, 9L, 3.0))
      .toDF("k", "t", "v")
    val out = graft.operators.Joins.asof(left, right, Seq("k"), "t", "t", Seq("v"))
    val p = plan(out)
    assert(!p.contains("NestedLoop") && !p.contains("Cartesian"),
      s"asof must never theta-join:\n$p")
    // union + ONE window pass = exactly one shuffle on the key
    assert("Exchange".r.findAllIn(p).size == 1,
      s"asof must be a single equi-shuffle, got:\n$p")
    assert(p.contains("Window"), s"expected the window fill pass:\n$p")
  }

  test("binned range join compiles to an equi-join, not a theta join") {
    import spark.implicits._
    val facts = Seq((1L, 12.0), (2L, 47.0)).toDF("id", "v")
    val ivs = Seq((10L, 0.0, 25.0), (20L, 25.0, 50.0)).toDF("iv", "lo", "hi")
    val out = graft.operators.Joins.rangeJoinBinned(facts, "v", ivs,
      "lo", "hi", binWidth = 10.0)
    val p = plan(out)
    assert(!p.contains("NestedLoop") && !p.contains("Cartesian"),
      s"range join must bucket to an equi-join:\n$p")
    assert(p.contains("Join"), s"expected a hash/merge equi-join:\n$p")
  }

  test("pq query path: broadcast probes, no shuffle of the encoded corpus") {
    import spark.implicits._
    val emb = (1L to 64L).map(i =>
      (i, Seq.tabulate(8)(j => math.sin(i * 0.3 + j).toFloat)))
      .toDF("vec_id", "embedding")
    val index = graft.pipeline.Similarity.buildPqIndex(
      emb, "vec_id", "embedding", nClusters = 2, m = 2, nCodes = 4)
    try {
      val p = plan(graft.pipeline.Similarity.pqTopK(index, Seq(1L), 3, nProbe = 1))
      assert(!p.contains("NestedLoop") && !p.contains("Cartesian"),
        s"pq scoring must stay equi-join:\n$p")
      assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
        s"probes/tables/survivors must broadcast against the corpus:\n$p")
    } finally index.unpersist()
  }

  test("corpus pipeline is two windows = two shuffles, filters row-local") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val docs = Seq((1L, "the cat and the dog"), (2L, "the cat and the dog"),
      (3L, "und und und")).toDF("doc_id", "text")
    val ta = graft.pipeline.TextAnalysis
    val scored = docs.select(col("doc_id"), col("text"),
      ta.langId(col("text")).as("lang"),
      ta.qualityScore(col("text")).as("quality"))
    val deduped = scored.filter(col("lang") =!= "und")
      .withColumn("rn", row_number().over(
        Window.partitionBy(md5(col("text"))).orderBy(col("doc_id"))))
      .filter(col("rn") === 1)
    val sampled = deduped.withColumn("rk", row_number().over(
        Window.partitionBy(col("lang")).orderBy(col("doc_id"))))
      .filter(col("rk") <= 100)
    val p = plan(sampled)
    assert("Exchange".r.findAllIn(p).size == 2,
      s"gate+route are row-local; only dedup + sample may shuffle:\n$p")
  }

  test("the netcdf3 scan lists only projected variables") {
    val path = {
      val f = java.io.File.createTempFile("plan_nc", ".nc")
      f.delete()
      graft.sources.NetCDF3.write(f.getPath,
        dims = Seq(graft.sources.NetCDF3.Dim("t", 4)),
        vars = Seq(
          ("t", Seq(0), Array(1.0, 2.0, 3.0, 4.0)),
          ("a", Seq(0), Array(1.0, 2.0, 3.0, 4.0)),
          ("b", Seq(0), Array(9.0, 9.0, 9.0, 9.0))))
      f.getPath
    }
    val df = spark.read.format("netcdf3").load(path).select("a")
    val p = plan(df)
    // the scan's column list must carry the projected variable (as a
    // column reference `a#<id>`) and NOT the unprojected one
    val scanLine = p.linesIterator
      .find(l => l.contains("BatchScan") || l.contains("Scan")).getOrElse("")
    assert(scanLine.matches(".*\\ba#\\d+.*"),
      s"projected variable must survive in the scan: $scanLine")
    assert(!scanLine.matches(".*\\bb#\\d+.*"),
      s"unprojected variable must be pruned from the scan: $scanLine")
  }

  test("sql_q18 plans top-k without a global sort and no cartesian") {
    // the q18 shape at 100 TB: lineitem aggregates before any join
    // (HAVING shrinks the qualifier set), and ORDER BY + LIMIT becomes
    // TakeOrderedAndProject — per-partition top-k + driver merge, never
    // a full Sort over the joined relation
    val df = graft.SparkEntry.queries("sql_q18")(spark, "/root/testdata/sf0.001")
    val p = plan(df)
    assert(!p.contains("Cartesian") && !p.contains("NestedLoop"),
      s"q18 must stay equi-join:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-k must avoid a global sort:\n$p")
    assert(!p.linesIterator.exists(l =>
      l.trim.startsWith("Sort") || l.contains("+- Sort ")),
      s"no standalone global Sort may remain:\n$p")
    // the HAVING aggregate must sit BELOW the joins (agg-then-join)
    val lines = p.linesIterator.toSeq
    val joinIdx = lines.lastIndexWhere(_.contains("Join"))
    assert(lines.drop(joinIdx).exists(_.contains("Aggregate")),
      s"lineitem must aggregate before joining:\n$p")
  }

  test("sql_q6: every predicate pushed to the parquet scan, 4-column read") {
    // the q6 shape at 100 TB is all about the scan: selective filters
    // must reach the reader as PushedFilters and the projection must
    // prune to the touched columns — a full-width scan here multiplies
    // IO by the table width
    val df = graft.SparkEntry.queries("sql_q6")(spark, "/root/testdata/sf0.001")
    val p = plan(df)
    assert(p.contains("PushedFilters: ["), s"filters must push down:\n$p")
    val pushed = p.linesIterator.find(_.contains("PushedFilters:")).get
    Seq("l_quantity", "l_discount", "l_extendedprice").foreach(c =>
      assert(pushed.contains(c), s"$c missing from PushedFilters:\n$pushed"))
    val readSchema = p.linesIterator.find(_.contains("ReadSchema:")).get
    assert(!readSchema.contains("l_orderkey") &&
      !readSchema.contains("l_comment"),
      s"projection must prune untouched columns:\n$readSchema")
    // one partial+final aggregate pair, single exchange
    assert(p.split("Exchange").length - 1 == 1,
      s"q6 is one aggregation exchange:\n$p")
  }

  test("spanDedupSalted: no whash window, hot keys broadcast, reused agg") {
    import spark.implicits._
    val df = Seq((1L, "a b c d e f g h i j k l"),
      (2L, "a b c d e f g h i j k l")).toDF("doc_id", "text")
    val p = plan(graft.pipeline.CorpusOps.spanDedupSalted(
      df, "doc_id", "text", 10, hotThreshold = 100L))
    // the skew escape: NO window function partitioned by the corpus
    // frequency key — the hot path must be broadcast joins over the
    // bounded (id, whash) pre-aggregate
    assert(!p.contains("Window"),
      s"salted form must not window over whash:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"hot whashes must resolve via broadcast:\n$p")
    assert(!p.contains("Cartesian") && !p.contains("NestedLoop"))
    // the (id, whash) aggregate feeds three branches from ONE persisted
    // materialization — the corpus must not explode three times
    assert(p.contains("InMemoryTableScan"),
      s"the pre-collapse must be persisted and re-read, not recomputed:\n$p")
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
  }

  test("netcdf filter pushdown reaches the scan as range hints") {
    val path = {
      val f = java.io.File.createTempFile("plan_push", ".nc4")
      f.delete()
      graft.sources.NetCDF4.write(f.getPath,
        dims = Seq(graft.sources.NetCDF3.Dim("t", 100)),
        vars = Seq(
          ("t", Seq(0), Array.tabulate(100)(_.toDouble)),
          ("a", Seq(0), Array.tabulate(100)(i => i * 2.0))))
      f.getPath
    }
    import org.apache.spark.sql.functions._
    val df = spark.read.format("netcdf4").load(path)
      .filter(col("t") >= 40 && col("t") < 60)
    val p = plan(df)
    // V2ScanRelationPushDown delivered the comparisons to the builder:
    // the scan's description advertises them as range hints
    assert(p.contains("hints:") && p.contains("GreaterThanOrEqual(t,"),
      s"pushed filters must reach the scan description:\n$p")
    // and correctness is Spark's: the filter still runs above the scan
    assert(p.contains("Filter"), s"Spark must re-apply the filters:\n$p")
  }

  test("asofNative against a bucketed history side elides that Exchange") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // the repeated 100 TB shape: a bucketed reference/history table
    // as-of joined by a fresh event stream. The custom operator's
    // ClusteredDistribution is satisfied straight from the bucketed
    // scan, so ONLY the event side shuffles.
    val wh = java.nio.file.Files.createTempDirectory("plan_asof_bucket")
    wh.toFile.deleteOnExit()
    spark.sql("DROP TABLE IF EXISTS plan_asof_hist")
    (0 until 1000).map(i => ((i % 16).toLong, (i / 16).toLong, i * 1.5))
      .toDF("__rk_k", "__rt", "px")
      .write.format("parquet").bucketBy(4, "__rk_k")
      .option("path", s"$wh/hist").mode("overwrite")
      .saveAsTable("plan_asof_hist")
    val hist = spark.table("plan_asof_hist")
      .select(col("__rk_k").as("k"), col("__rt").as("t"), col("px"))
    val events = (0 until 200).map(i => ((i % 16).toLong, 30L + i, i))
      .toDF("k", "t", "tag")
    try {
      val df = graft.operators.Joins.asofNative(
        events, hist, Seq("k"), "t", "t", Seq("px"))
      val p = plan(df)
      assert(p.contains("AsofJoin"), p)
      assert("Exchange".r.findAllIn(p).size == 1,
        s"only the unbucketed event side may shuffle:\n$p")
      assert(df.count() == 200)
    } finally spark.sql("DROP TABLE IF EXISTS plan_asof_hist")
  }

  test("asofNative with BOTH sides bucketed: zero Exchange end to end") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val wh = java.nio.file.Files.createTempDirectory("plan_asof_both")
    wh.toFile.deleteOnExit()
    spark.sql("DROP TABLE IF EXISTS plan_ab_ev")
    spark.sql("DROP TABLE IF EXISTS plan_ab_hist")
    (0 until 300).map(i => ((i % 8).toLong, 40L + i, i.toLong))
      .toDF("k", "t", "tag")
      .write.format("parquet").bucketBy(4, "k")
      .option("path", s"$wh/ev").mode("overwrite").saveAsTable("plan_ab_ev")
    (0 until 800).map(i => ((i % 8).toLong, (i / 8).toLong, i * 0.5))
      .toDF("__rk_k", "__rt", "px")
      .write.format("parquet").bucketBy(4, "__rk_k")
      .option("path", s"$wh/hist").mode("overwrite")
      .saveAsTable("plan_ab_hist")
    val hist = spark.table("plan_ab_hist")
      .select(col("__rk_k").as("k"), col("__rt").as("t"), col("px"))
    try {
      val df = graft.operators.Joins.asofNative(
        spark.table("plan_ab_ev"), hist, Seq("k"), "t", "t", Seq("px"))
      val p = plan(df)
      assert(p.contains("AsofJoin"), p)
      // both clustering requirements satisfied straight from bucketed
      // scans: the as-of join runs with NO shuffle anywhere — the
      // repeated event-vs-history join at 100 TB costs only its sorts
      assert(!p.contains("Exchange"),
        s"fully bucketed as-of must not shuffle at all:\n$p")
      assert(df.count() == 300)
    } finally {
      spark.sql("DROP TABLE IF EXISTS plan_ab_ev")
      spark.sql("DROP TABLE IF EXISTS plan_ab_hist")
    }
  }

  test("bucketed join: the SMJ reads bucket files with zero Exchange") {
    import org.apache.spark.sql.functions._
    // own table names: QuerySurfaceSpec may run join_bucketed's tables
    // concurrently in this shared session
    val wh = java.nio.file.Files.createTempDirectory("plan_buckets")
    wh.toFile.deleteOnExit()
    spark.sql("DROP TABLE IF EXISTS plan_b_li")
    spark.sql("DROP TABLE IF EXISTS plan_b_ord")
    val dir = "/root/testdata/sf0.001"
    spark.read.parquet(s"$dir/lineitem.parquet")
      .select(col("l_orderkey"), col("l_extendedprice"))
      .write.format("parquet").bucketBy(8, "l_orderkey")
      .sortBy("l_orderkey")
      .option("path", s"$wh/li").mode("overwrite").saveAsTable("plan_b_li")
    spark.read.parquet(s"$dir/orders.parquet")
      .select(col("o_orderkey"), col("o_orderpriority"))
      .write.format("parquet").bucketBy(8, "o_orderkey")
      .sortBy("o_orderkey")
      .option("path", s"$wh/ord").mode("overwrite").saveAsTable("plan_b_ord")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("plan_b_li").join(spark.table("plan_b_ord"),
        col("l_orderkey") === col("o_orderkey"))
      val p = plan(joined)
      assert(p.contains("SortMergeJoin"), s"expected an SMJ:\n$p")
      // matching bucket count + key on both sides: the join's
      // clustering requirement is satisfied straight from the scan, so
      // NO Exchange appears anywhere in the plan — at 100 TB this is
      // the fact-fact join whose shuffle was paid once at write time
      assert(!p.contains("Exchange"),
        s"bucketed join must not shuffle either side:\n$p")
      assert(joined.count() ==
        spark.read.parquet(s"$dir/lineitem.parquet").count())
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS plan_b_li")
      spark.sql("DROP TABLE IF EXISTS plan_b_ord")
    }
  }

  test("join_dpp: the fact scan carries a dynamic partition filter") {
    // the month-partitioned fact must NOT enumerate every partition
    // statically: the dim's filtered months arrive as a runtime
    // dynamicpruning expression on the scan's PartitionFilters —
    // at warehouse scale this is the difference between reading the
    // dim's months and reading years of history
    val df = graft.SparkEntry.queries("join_dpp")(
      spark, "/root/testdata/sf0.001")
    val p = plan(df)
    assert(p.contains("dynamicpruning"),
      s"no dynamic partition pruning on the fact scan:\n$p")
    assert(df.count() > 0)
  }

  test("sql_q9: the 5-way join never degenerates into a cartesian") {
    // part/supplier/nation are dimension-sized and must broadcast;
    // a cartesian or nested-loop anywhere in this plan is the shape
    // that dies at 100 TB (lineitem x part without the equi-key)
    val q = SparkEntry.queries("sql_q9")(spark, "/root/testdata/sf0.001")
    val p = plan(q)
    assert(!p.contains("CartesianProduct"), s"cartesian in q9:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"nested-loop in q9:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"dimension sides must broadcast in q9:\n$p")
  }

  test("sql_q21: EXISTS/NOT EXISTS compile to hash semi/anti joins") {
    // the NOT EXISTS (no OTHER supplier late) must become an anti
    // join keyed on l_orderkey with the non-equi residual as the join
    // condition — a nested-loop anti join re-scans lineitem per row
    val q = SparkEntry.queries("sql_q21")(spark, "/root/testdata/sf0.001")
    val p = plan(q)
    assert(!p.contains("CartesianProduct"), s"cartesian in q21:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"nested-loop semi/anti in q21:\n$p")
    val anti = "LeftAnti".r.findAllIn(p).size
    val semi = "LeftSemi".r.findAllIn(p).size
    assert(anti >= 1 && semi >= 1,
      s"expected keyed semi+anti joins in q21 (semi=$semi anti=$anti):\n$p")
  }

  test("window_range: partitioned RANGE frame never global-sorts") {
    // the value-based frame must ride ONE hash exchange on o_custkey
    // with an in-partition sort — a rangepartitioning exchange means
    // the window degenerated into a global sort
    val q = SparkEntry.queries("window_range")(
      spark, "/root/testdata/sf0.001")
    val p = plan(q)
    assert(p.contains("Window"), s"no window operator:\n$p")
    assert(!p.contains("rangepartitioning"),
      s"RANGE frame global-sorted:\n$p")
    assert(p.contains("hashpartitioning"),
      s"expected a hash exchange on the partition key:\n$p")
  }

  test("sql_q19: the OR-of-conjunctions still extracts the equi-join") {
    // all three disjuncts repeat p_partkey = l_partkey; Catalyst must
    // lift it into the join key (CNF extraction) so the residual OR
    // evaluates post-probe — not a nested loop over part x lineitem
    val q = SparkEntry.queries("sql_q19")(spark, "/root/testdata/sf0.001")
    val p = plan(q)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"q19 lost its equi-key to the disjunction:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"),
      s"expected a keyed join in q19:\n$p")
  }

  test("text_bpe_pairs: k-heap top-k, partial-aggregated histogram") {
    // the pair census must plan TakeOrderedAndProject (per-partition
    // k-heaps), never a global Sort, and both groupBys must partial-
    // aggregate map-side so the Zipf head collapses before the exchange
    val q = SparkEntry.queries("text_bpe_pairs")(spark,
      "/root/testdata/sf0.001")
    val p = plan(q)
    assert(p.contains("TakeOrderedAndProject"),
      s"bpe pair top-k lost its k-heap:\n$p")
    assert(!p.replace("TakeOrderedAndProject", "").contains("Sort"),
      s"unexpected global sort in bpe pair census:\n$p")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"histogram lost map-side partial aggregation:\n$p")
  }

  test("bpeEncodeDocs: encoding is a pure projection, zero exchanges") {
    import spark.implicits._
    val docs = Seq((1L, "low lower lowest")).toDF("doc_id", "text")
    val merges = Array(graft.functions.Bpe.Merge(0, "l", "o", 3L))
    val p = plan(graft.pipeline.TextAnalysis.bpeEncodeDocs(
      docs, "doc_id", "text", merges))
    assert(!p.contains("Exchange"), s"bpe encode introduced a shuffle:\n$p")
  }
}
