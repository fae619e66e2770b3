package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One-JVM interleaved A/B for streaming checkpoint tuning: variants
  * run round-robin so host-IO drift hits every variant equally, and
  * the per-variant MIN is the honest steady-state comparison.
  *
  * Modes:
  *   join    — the stream-stream interval join (VERDICT r16 #6)
  *   anomaly — the flatMapGroupsWithState anomaly ring (VERDICT r17
  *             #5): state-partition count x no-data-batch grid. The
  *             ring uses GroupStateTimeout.NoTimeout and emits in the
  *             processing batch, so the trailing no-data batch
  *             finalizes nothing — disabling it is a pure candidate
  *             (the _evict variant's EventTimeTimeout DOES need it;
  *             that one is out of scope here). Drops are staged ONCE
  *             (median-ts split, one file per trigger) so the A/B
  *             times the stream, not the staging write.
  *
  * Usage: runMain graft.tools.StreamAB <sfDir> [rounds] [mode]
  */
object StreamAB {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val rounds = if (args.length > 1) args(1).toInt else 3
    val mode = if (args.length > 2) args(2) else "join"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    var seq = 0

    def joinOnce(parts: Int, noData: Boolean): Long = {
      seq += 1
      val qn = s"ab_join_$seq"
      spark.conf.set("spark.sql.shuffle.partitions", parts.toString)
      spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled",
        noData.toString)
      val drops = java.nio.file.Files.createTempDirectory("graft_ab")
      drops.toFile.deleteOnExit()
      val target = java.nio.file.Paths.get(s"$dir/events.parquet")
        .toAbsolutePath.normalize
      java.nio.file.Files.createSymbolicLink(
        drops.resolve("events_1.parquet"), target)
      import org.apache.spark.sql.types._
      val tsType = spark.read.parquet(target.toString).schema("ts").dataType
      val raw = spark.readStream.schema(StructType(Seq(
        StructField("event_id", LongType), StructField("ts", tsType),
        StructField("user_id", LongType),
        StructField("event_type", StringType),
        StructField("value", DoubleType),
        StructField("props", StringType)))).parquet(drops.toString)
      val ev =
        if (tsType == LongType)
          raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        else raw.withColumn("ts", col("ts").cast("timestamp"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("event_id").as("view_id"), col("user_id"), col("ts"))
      val joined = graft.streaming.EventStream.intervalJoin(
        clicks, views, windowMillis = 86400000L)
        .select(col("l.event_id").as("click_id"), col("r.view_id"),
          col("l.user_id").as("user_id"))
      val q = joined.writeStream.format("memory")
        .queryName(qn).outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val n = spark.table(qn).count()
      spark.catalog.dropTempView(qn)
      n
    }

    // anomaly mode: stage the median-split drops once (the cell
    // re-stages per run; here staging is timed separately so the grid
    // compares pure stream cost), then run the ring per variant.
    lazy val anomalyDrops: String = {
      val t0 = System.nanoTime()
      val drops = java.nio.file.Files.createTempDirectory("graft_ab_anom")
      drops.toFile.deleteOnExit()
      val raw = spark.read.parquet(s"$dir/events.parquet")
      val tsCol =
        if (raw.schema("ts").dataType == org.apache.spark.sql.types.LongType)
          timestamp_micros(expr("ts div 1000")) // match SparkEntry.normalizeTs exactly (ADVICE r18)
        else col("ts").cast("timestamp")
      val ev = raw.select(col("event_id"), tsCol.as("ts"),
        col("user_id"), col("value"))
      val Array(lo, hi) = ev.agg(unix_millis(min(col("ts"))),
        unix_millis(max(col("ts")))).head().toSeq.toArray
        .map(_.asInstanceOf[Long])
      val cut = lo + (hi - lo) / 2
      def onePart(df: DataFrame, name: String): Unit = {
        val tmp = java.nio.file.Files.createTempDirectory("graft_ab_part")
        df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
        val st = java.nio.file.Files.list(tmp)
        val part =
          try st.filter(_.getFileName.toString.endsWith(".parquet"))
            .findFirst()
          finally st.close()
        java.nio.file.Files.move(part.get(), drops.resolve(name))
      }
      onePart(ev.filter(unix_millis(col("ts")) < cut), "drop_0.parquet")
      onePart(ev.filter(unix_millis(col("ts")) >= cut), "drop_1.parquet")
      println(f"[ab] anomaly staging: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      drops.toString
    }

    def anomalyOnce(parts: Int, noData: Boolean): Long = {
      seq += 1
      val qn = s"ab_anom_$seq"
      spark.conf.set("spark.sql.shuffle.partitions", parts.toString)
      spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled",
        noData.toString)
      import org.apache.spark.sql.types._
      val ckpt = java.nio.file.Files.createTempDirectory("graft_ab_anom_ck")
      ckpt.toFile.deleteOnExit()
      val ev = spark.readStream
        .schema(StructType(Seq(
          StructField("event_id", LongType),
          StructField("ts", TimestampType),
          StructField("user_id", LongType),
          StructField("value", DoubleType))))
        .option("maxFilesPerTrigger", 1)
        .parquet(anomalyDrops)
      val flagged = graft.streaming.EventStream.anomalyStream(spark, ev)
      val q = flagged.writeStream.format("memory")
        .queryName(qn).outputMode("append")
        .option("checkpointLocation", ckpt.toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val n = spark.table(qn).count()
      spark.catalog.dropTempView(qn)
      n
    }

    // sessionwin mode (r18): the native session_window aggregation —
    // the #2 100x cell after its no-data-batch elision. One staged
    // drop file = one data batch, complete mode, memory sink; the
    // grid asks whether the state-partition count (fixed from
    // spark.sql.shuffle.partitions at first start) is the lever.
    lazy val sessionDrop: String = {
      val drops = java.nio.file.Files.createTempDirectory("graft_ab_sw")
      drops.toFile.deleteOnExit()
      val target = java.nio.file.Paths.get(s"$dir/events.parquet")
        .toAbsolutePath.normalize
      java.nio.file.Files.createSymbolicLink(
        drops.resolve("events_1.parquet"), target)
      drops.toString
    }

    def sessionWinOnce(parts: Int, noData: Boolean): Long = {
      seq += 1
      val qn = s"ab_sw_$seq"
      spark.conf.set("spark.sql.shuffle.partitions", parts.toString)
      spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled",
        noData.toString)
      import org.apache.spark.sql.types._
      val tsType = spark.read.parquet(s"$dir/events.parquet")
        .schema("ts").dataType
      val raw = spark.readStream.schema(StructType(Seq(
        StructField("event_id", LongType), StructField("ts", tsType),
        StructField("user_id", LongType),
        StructField("event_type", StringType),
        StructField("value", DoubleType),
        StructField("props", StringType)))).parquet(sessionDrop)
      val ev =
        if (tsType == LongType)
          raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        else raw.withColumn("ts", col("ts").cast("timestamp"))
      val sess = ev.withWatermark("ts", "2 hours")
        .groupBy(col("user_id"),
          session_window(col("ts"), "1800001 milliseconds"))
        .agg(count(lit(1)).as("n_events"))
      val q = sess.writeStream.format("memory")
        .queryName(qn).outputMode("complete")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val n = spark.table(qn).count()
      spark.catalog.dropTempView(qn)
      n
    }

    // sessionlog mode (r19, VERDICT r18 #3): the flatMapGroupsWithState
    // + EventTimeTimeout session log — the two heaviest untouched
    // stream cells at the 100x replica (~20 s each, run_ms/wall ≈ 1.2
    // at the pinned 8 partitions: parallelism starvation). Grid:
    // state-partition count x state-store provider (HDFS-backed vs
    // RocksDB + changelog checkpointing — both public Spark confs).
    // Here the boolean variant axis selects the PROVIDER (true =
    // RocksDB); drops are staged once (symlinked events + two flush
    // sentinels, exactly the cell's stagedEventsWithFlush shape).
    lazy val sessionLogDrops: String = {
      val drops = java.nio.file.Files.createTempDirectory("graft_ab_slog")
      drops.toFile.deleteOnExit()
      val target = java.nio.file.Paths.get(s"$dir/events.parquet")
        .toAbsolutePath.normalize
      java.nio.file.Files.createSymbolicLink(
        drops.resolve("events_1.parquet"), target)
      val base = spark.read.parquet(target.toString)
      val maxRow = base.orderBy(col("ts").desc).limit(1)
        .localCheckpoint(true)
      val gapMs = 1800000L
      val isLong =
        base.schema("ts").dataType == org.apache.spark.sql.types.LongType
      def flush(offsetMs: Long, name: String, mtimeMs: Long): Unit = {
        val shifted = (if (isLong)
          maxRow.withColumn("ts", col("ts") + lit(offsetMs * 1000000L))
        else maxRow.withColumn("ts",
          col("ts") + expr(s"INTERVAL $offsetMs MILLISECONDS")))
          .withColumn("user_id", lit(-424242L))
          .withColumn("event_id", lit(-1L))
        val tmp = java.nio.file.Files.createTempDirectory("graft_ab_fl")
        shifted.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
        val st = java.nio.file.Files.list(tmp)
        val part =
          try st.filter(_.getFileName.toString.endsWith(".parquet"))
            .findFirst()
          finally st.close()
        val dst = drops.resolve(name)
        java.nio.file.Files.move(part.get(), dst)
        java.nio.file.Files.setLastModifiedTime(dst,
          java.nio.file.attribute.FileTime.fromMillis(mtimeMs))
      }
      val now = System.currentTimeMillis()
      flush(gapMs + 3600000L, "flush1.parquet", now + 3600000L)
      flush(2 * (gapMs + 3600000L), "flush2.parquet", now + 7200000L)
      drops.toString
    }

    def sessionLogOnce(parts: Int, rocksdb: Boolean): Long = {
      seq += 1
      val qn = s"ab_slog_$seq"
      spark.conf.set("spark.sql.shuffle.partitions", parts.toString)
      val provKey = "spark.sql.streaming.stateStore.providerClass"
      val changelogKey = "spark.sql.streaming.stateStore.rocksdb." +
        "changelogCheckpointing.enabled"
      if (rocksdb) {
        spark.conf.set(provKey, "org.apache.spark.sql.execution." +
          "streaming.state.RocksDBStateStoreProvider")
        spark.conf.set(changelogKey, "true")
      } else {
        spark.conf.unset(provKey)
        spark.conf.unset(changelogKey)
      }
      import org.apache.spark.sql.types._
      val tsType = spark.read.parquet(s"$dir/events.parquet")
        .schema("ts").dataType
      val raw = spark.readStream.schema(StructType(Seq(
        StructField("event_id", LongType), StructField("ts", tsType),
        StructField("user_id", LongType),
        StructField("event_type", StringType),
        StructField("value", DoubleType),
        StructField("props", StringType))))
        .option("maxFilesPerTrigger", 1)
        .parquet(sessionLogDrops)
      val ev =
        if (tsType == LongType)
          raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        else raw.withColumn("ts", col("ts").cast("timestamp"))
      val log = graft.streaming.EventStream.sessionLogEvicting(spark, ev,
        gapMillis = 1800000L, watermark = "1 second")
      val q = log.writeStream.format("memory")
        .queryName(qn).outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val n = spark.table(qn).count()
      spark.catalog.dropTempView(qn)
      n
    }

    val variants =
      if (mode == "anomaly") Seq((8, true), (8, false), (4, false),
        (16, false), (32, false))
      else if (mode == "sessionwin") Seq((8, false), (16, false),
        (32, false))
      else if (mode == "sessionlog") Seq((8, false), (16, false),
        (32, false), (8, true), (32, true))
      else Seq((8, true), (4, true), (4, false), (2, false))
    val runOnce: (Int, Boolean) => Long =
      if (mode == "anomaly") anomalyOnce
      else if (mode == "sessionwin") sessionWinOnce
      else if (mode == "sessionlog") sessionLogOnce
      else joinOnce
    // warm one pass so codegen/JIT is off the books for everyone
    runOnce(8, true)
    val times = scala.collection.mutable.Map.empty[(Int, Boolean),
      List[Double]].withDefaultValue(Nil)
    var counts = Set.empty[Long]
    // the boolean axis is mode-dependent: no-data-batch elision for
    // join/anomaly/sessionwin, RocksDB provider for sessionlog
    val flag = if (mode == "sessionlog") "rocksdb" else "noData"
    for (_ <- 1 to rounds; v <- variants) {
      val t0 = System.nanoTime()
      counts += runOnce(v._1, v._2)
      val dt = (System.nanoTime() - t0) / 1e9
      times(v) = dt :: times(v)
      println(s"[ab] parts=${v._1} $flag=${v._2} -> ${f"$dt%.3f"} s")
      // per-run hygiene OUTSIDE the timed window (the bench's own
      // dropTempViews lesson): a leftover memory-sink table pins
      // millions of rows and bleeds GC into the NEXT variant's timing
      spark.catalog.clearCache()
      graft.Bench.dropTempViews(spark)
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
    }
    require(counts.size == 1, s"variants disagree on row count: $counts")
    println("[ab] === per-variant min / median over " + rounds + " rounds")
    variants.foreach { v =>
      val ts = times(v).sorted
      println(f"[ab] parts=${v._1}%2d $flag=${v._2}%5s  " +
        f"min=${ts.head}%.3f  med=${ts(ts.size / 2)}%.3f")
    }
    spark.stop()
  }
}
