package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.expressions.Window

import graft.core.Subset
import graft.cube.{Cube, CubeOps}
import graft.functions.ArrayPrimitives
import graft.pipeline.{CorpusOps, Dedup, Similarity, TextAnalysis}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each entry in `queries` exercises one operator from SURVEY.md §2 (or
  * an LLM-pipeline component) end-to-end over the driver's testdata;
  * `oracleSql` holds the DuckDB-equivalent SQL for the hash compare.
  * Column names are aligned between both sides (the driver sorts columns
  * by name before hashing). Floating-point aggregates are rounded on
  * both sides to absorb summation-order differences.
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Total bytes of a table path via the Hadoop FileSystem API — works
    * for a single parquet file, a Spark-written directory of part
    * files, and remote filesystems alike (java.io.File.length returns
    * 0/4096 for those, silently collapsing size-scaled heuristics). */
  private def tableBytes(s: SparkSession, path: String): Long = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L
  }

  /** Month-partitioned lineitem copy for join_dpp, built at most once
    * per source-dir CONTENT per JVM (and reused across JVMs via the
    * _SUCCESS marker): the per-run rewrite was ~40% of the bench
    * cell's wall, drowning the pruned join it exists to measure.
    *
    * The cache key digests the dir string PLUS the source lineitem's
    * (size, mtime): a regenerated-in-place source (gen_sf1.py's
    * disposable /tmp output) gets a fresh fixture instead of silently
    * reusing the previous dataset's copy, and SHA-256 (vs the old
    * 32-bit hashCode) makes distinct dirs colliding a non-event. */
  private val dppFixtureDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def dppFixture(s: SparkSession, dir: String): String = {
    // the memo key IS the content key (computed before the lookup):
    // keying the map by the dir string alone let a source regenerated
    // in place mid-JVM keep serving the stale fixture even though the
    // on-disk digest path had moved on
    val src = new org.apache.hadoop.fs.Path(s"$dir/lineitem.parquet")
    val fs = src.getFileSystem(s.sparkContext.hadoopConfiguration)
    val st = fs.getFileStatus(src)
    val key = s"$dir|${fs.getContentSummary(src).getLength}|" +
      s"${st.getModificationTime}"
    dppFixtureDirs.computeIfAbsent(key, _ => {
      val digest = java.security.MessageDigest.getInstance("SHA-256")
        .digest(key.getBytes("UTF-8")).take(8)
        .map("%02x".format(_)).mkString
      val base = java.nio.file.Paths.get(
        sys.props("java.io.tmpdir"), "graft_dpp_" + digest)
      val factDir = base.resolve("lineitem_bym")
      if (!java.nio.file.Files.exists(factDir.resolve("_SUCCESS")))
        t(s, dir, "lineitem")
          .withColumn("ship_month",
            date_format(col("l_shipdate"), "yyyy-MM"))
          .write.partitionBy("ship_month").mode("overwrite")
          .parquet(factDir.toString)
      factDir.toString
    })
  }

  /** Staged ingest drops + corpus-hash store for corpus_stream_ingest:
    * both are PURE functions of the documents table, so they stage once
    * per corpus content (same digest-keyed memo as [[dppFixture]]) —
    * the per-run state (kept sink, checkpoint) stays fresh inside the
    * query. The _STAGED marker is written LAST so a crashed stage
    * re-runs instead of serving half a fixture. */
  private val ingestFixtureDirs =
    new java.util.concurrent.ConcurrentHashMap[String, (String, String)]()
  private def ingestFixture(s: SparkSession, dir: String): (String, String) = {
    val src = new org.apache.hadoop.fs.Path(s"$dir/documents.parquet")
    val fs = src.getFileSystem(s.sparkContext.hadoopConfiguration)
    val st = fs.getFileStatus(src)
    val key = s"$dir|${fs.getContentSummary(src).getLength}|" +
      s"${st.getModificationTime}"
    ingestFixtureDirs.computeIfAbsent(key, _ => {
      val digest = java.security.MessageDigest.getInstance("SHA-256")
        .digest(key.getBytes("UTF-8")).take(8)
        .map("%02x".format(_)).mkString
      val base = java.nio.file.Paths.get(
        sys.props("java.io.tmpdir"), "graft_ingest_" + digest)
      val drops = base.resolve("drops")
      val hashDir = base.resolve("corpus_hash")
      if (!java.nio.file.Files.exists(base.resolve("_STAGED"))) {
        java.nio.file.Files.createDirectories(drops)
        val corpus = t(s, dir, "documents").select("doc_id", "text")
        // hash the static corpus ONCE: each micro-batch then reads a
        // 16-byte/doc hash store instead of re-hashing corpus text
        corpus.select(md5(col("text")).as("content_hash"))
          .write.mode("overwrite").parquet(hashDir.toString)
        val b0 = corpus.filter(pmod(col("doc_id"), lit(2)) === 0)
          .select((col("doc_id") + 1000000).as("doc_id"), col("text"))
          .unionByName(corpus.filter(pmod(col("doc_id"), lit(2)) === 1)
            .select((col("doc_id") + 1000000).as("doc_id"),
              concat(col("text"), lit(" fresh")).as("text")))
        val b1 = corpus.filter(pmod(col("doc_id"), lit(2)) === 1)
          .select((col("doc_id") + 2000000).as("doc_id"),
            concat(col("text"), lit(" fresh")).as("text"))
          .unionByName(corpus.filter(pmod(col("doc_id"), lit(2)) === 0)
            .select((col("doc_id") + 2000000).as("doc_id"),
              concat(col("text"), lit(" fresher")).as("text")))
        writeOrderedDrops(Seq(b0, b1), drops)
        java.nio.file.Files.createFile(base.resolve("_STAGED"))
      }
      (drops.toString, hashDir.toString)
    })
  }

  /** Per-query fixture builders Bench runs at the TARGET sf before
    * the timed loop — anything here is setup the timed cell must not
    * pay (the driver's verify path calls queries directly, where the
    * lazy in-query build still covers correctness). */
  def fixturePrep: Map[String, (SparkSession, String) => Unit] = Map(
    "join_dpp" -> ((s, dir) => { dppFixture(s, dir); () }),
    "corpus_stream_ingest" -> ((s, dir) => { ingestFixture(s, dir); () })
  )

  /** The corpus plus three PLANTED probes (ids 9001..9003 carrying
    * the exact vectors of 1..3). The sf embeddings are near-random —
    * no genuine neighbor structure exists, so raw recall@10 is not a
    * contract any index can promise — but a planted duplicate IS the
    * contract: identical vectors share every LSH bucket / IVF cell /
    * PQ code by construction, so a working index must surface the
    * source. RecallSpec separately gates recall on a clustered
    * fixture. */
  private def plantedEmbeddings(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
    e.unionByName(e.filter(col("vec_id").isin(1L, 2L, 3L))
      .select((col("vec_id") + 9000).as("vec_id"), col("embedding")))
  }

  /** Oracle shape for the approximate ANN queries over the planted
    * corpus: per probe, the EXACT top-1 neighbor (DuckDB-verifiable:
    * the planted source at cosine 1.0) plus a boolean that the ANN
    * top-10 contains that source. `ann` must carry (query_id, nn_id)
    * rows for probes 9001..9003. */
  private def annPlanted(s: SparkSession, dir: String,
      ann: DataFrame): DataFrame = {
    val brute = graft.pipeline.Similarity.bruteTopK(
      plantedEmbeddings(s, dir), "vec_id", "embedding",
      Seq(9001L, 9002L, 9003L), 1)
    val found = ann.filter(col("nn_id") === col("query_id") - 9000)
      .select(col("query_id")).distinct().withColumn("__f", lit(true))
    brute.select(col("query_id"), col("nn_id").as("exact_top1"),
        col("score").as("top1_score"))
      .join(found, Seq("query_id"), "left")
      .select(col("query_id"), col("exact_top1"), col("top1_score"),
        coalesce(col("__f"), lit(false)).as("found_planted"))
  }

  /** Shared oracle for the ANN planted-probe queries: DuckDB computes
    * the exact top-1 per probe over the same augmented corpus (the
    * planted source at cosine 1.0); found_planted is pinned true — a
    * broken index flips it on the Spark side and fails the hash. */
  private val annOracle: String =
    """WITH aug AS (
         SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
         UNION ALL
         SELECT vec_id + 9000, CAST(embedding AS DOUBLE[])
         FROM embeddings WHERE vec_id IN (1, 2, 3)),
       q AS (SELECT vec_id AS query_id, v AS qvec FROM aug
             WHERE vec_id IN (9001, 9002, 9003)),
       pairs AS (
         SELECT q.query_id, e.vec_id AS nn_id,
                list_cosine_similarity(q.qvec, e.v) AS score
         FROM aug e, q WHERE e.vec_id != q.query_id)
       SELECT query_id, nn_id AS exact_top1,
              round(score, 4) AS top1_score, true AS found_planted
       FROM pairs
       QUALIFY row_number() OVER (PARTITION BY query_id
         ORDER BY score DESC, nn_id) = 1"""

  /** events.parquet's `ts` physical type varies across testdata
    * generations: TIMESTAMP(NANOS) arrives as a long (via
    * `spark.sql.legacy.parquet.nanosAsLong`) and needs integer
    * division to micros (double division would lose precision above
    * 2^53); TIMESTAMP(MICROS) arrives as a timestamp already and only
    * needs a cast to session-TZ TimestampType (sessions run UTC).
    * Normalizing on the READ schema — not a value heuristic — keeps
    * both generations exact. */
  private def normalizeTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampType}
    df.schema("ts").dataType match {
      case LongType => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _        => df.withColumn("ts", col("ts").cast(TimestampType))
    }
  }

  private def events(s: SparkSession, dir: String): DataFrame =
    normalizeTs(t(s, dir, "events"))

  /** The file source streams a DIRECTORY of drops; the testdata table
    * is a single file, so stage it as `copies` "arrived" drops
    * (absolute symlink targets — a relative data dir would resolve
    * against the temp dir and dangle) and open a file-source stream.
    * The forced stream schema must carry the FILE's physical `ts` type
    * (a footer peek via a batch read — forcing LongType over a
    * TIMESTAMP(MICROS) column would silently read raw micros and shear
    * every event-time 1000×), then `ts` is normalized to TimestampType
    * like the batch path. */
  /** Run `body` (which executes its query eagerly inside) with the
    * session's shuffle-partition count temporarily lowered. Two users:
    * (a) stateful streaming fixes its STATE partition count from
    * `spark.sql.shuffle.partitions` at first start, and every
    * micro-batch then writes a checkpoint delta per state store per
    * partition — a stream-stream join carries 4 stores/partition, so
    * 32 partitions is 128 checkpoint files per batch for a drop that
    * fits in 8; (b) iterative jobs (label propagation) run ~10 shuffle
    * stages over a frame whose per-partition slice at 32 ways is so
    * small that task scheduling dominates. On a real cluster the
    * caller sizes this to the executor count; the value only shapes
    * parallelism, never results. */
  private def withShufflePartitions[T](s: SparkSession, n: Int)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prev = s.conf.get(key)
    s.conf.set(key, n.toString)
    try body finally s.conf.set(key, prev)
  }

  /** Stream-cell tuning beyond the partition count: every state-store
    * partition commits a delta file + fsync per micro-batch, so a
    * stream-stream join (4 stores) at 8 partitions pays 32 sync writes
    * per batch on state alone (VERDICT r16 #6). `noDataBatch = false`
    * additionally skips the trailing empty micro-batch — SAFE ONLY for
    * queries whose output needs no watermark-driven finalization
    * (inner interval joins emit in the processing batch; state
    * eviction is moot because AvailableNow terminates anyway). Queries
    * with event-time TIMEOUTS (sessionize, anomaly rings) or windowed
    * append aggregations NEED the no-data batch to flush finals —
    * never route those through noDataBatch = false. */
  private def withStreamTuning[T](s: SparkSession, partitions: Int,
      noDataBatch: Boolean)(body: => T): T = {
    val ndKey = "spark.sql.streaming.noDataMicroBatches.enabled"
    val prevNd = s.conf.get(ndKey)
    s.conf.set(ndKey, noDataBatch.toString)
    try withShufflePartitions(s, partitions)(body)
    finally s.conf.set(ndKey, prevNd)
  }

  private def stagedEventsStream(s: SparkSession, dir: String,
      copies: Int = 1, maxFilesPerTrigger: Int = 0): DataFrame = {
    import org.apache.spark.sql.types._
    val drops = java.nio.file.Files.createTempDirectory("graft_stream")
    drops.toFile.deleteOnExit()
    val target = java.nio.file.Paths.get(s"$dir/events.parquet")
      .toAbsolutePath.normalize
    for (i <- 1 to copies)
      java.nio.file.Files.createSymbolicLink(
        drops.resolve(s"events_$i.parquet"), target)
    val tsType = s.read.parquet(target.toString).schema("ts").dataType
    val rs = s.readStream
      .schema(StructType(Seq(
        StructField("event_id", LongType), StructField("ts", tsType),
        StructField("user_id", LongType),
        StructField("event_type", StringType),
        StructField("value", DoubleType), StructField("props", StringType))))
    val withTrigger = // >0: force one micro-batch per that many files
      if (maxFilesPerTrigger > 0)
        rs.option("maxFilesPerTrigger", maxFilesPerTrigger)
      else rs
    normalizeTs(withTrigger.parquet(drops.toString))
  }

  /** Stage the events table as ts-CONTIGUOUS drops streamed one file
    * per trigger — the fixture for queries whose per-key state must
    * SURVIVE a micro-batch boundary (each batch carries a contiguous
    * timestamp range, so cross-boundary history is exercised by
    * construction at every boundary).
    *
    * Written as ONE parallel repartitionByRange job: the r17 form
    * (two median-split `coalesce(1)` writes) serialized the whole
    * events table through one task each — 21 of the 100x anomaly
    * cell's ~26 s was this staging write, not the stream under test.
    * Range chunks keep the batch-replay oracles exact: batches arrive
    * in timestamp order (file names AND mtimes both increase with the
    * range index) and rows with EQUAL ts stay inside one chunk (a
    * range partitioner never splits equal keys), so each user's
    * cross-batch event sequence is the same globally-sorted sequence
    * the batch operator folds. */
  /** [[stagedEventsSplitStream]]'s micro-batch count rule, extracted
    * pure so the spec pins it: one ts-contiguous chunk per ~16 MB of
    * source parquet, clamped to [2, 8]. At least 2 so cross-boundary
    * state is always exercised; at most 8 so the per-batch checkpoint
    * fsync bill stays bounded at any scale. */
  private[graft] def splitChunkCount(sourceBytes: Long): Int =
    math.max(2, math.min(8, (sourceBytes >> 24).toInt))

  /** State-partition count for the session_window cell, derived from
    * INPUT SIZE (one partition per ~2 MB of source parquet, clamped
    * [8, 32]): stateful operators fix their state-partition count from
    * spark.sql.shuffle.partitions at first start, and the right value
    * is load-dependent — at sf0.1 (2 MB) the cell is checkpoint-commit
    * bound and 8 partitions is the committed-floor shape, while at the
    * 100x replica (113 MB) the session-merge compute dominates and the
    * interleaved StreamAB `sessionwin` grid read min 43.4 s at 8
    * partitions, 37.2 s at 16, 33.5 s at 32 over two rounds — a ~23%
    * win from parallelism the pinned 8 was leaving idle. The cap
    * bounds the per-batch checkpoint commit count (one state-store
    * delta + fsync per partition) at any scale; on a real cluster the
    * same rule keys on executor count x per-executor target, not a
    * pin. Partition count never changes results — it only re-buckets
    * the per-user state groups (re-oracled at sf0.01). */
  private[graft] def sessionWindowParts(sourceBytes: Long): Int =
    math.max(8, math.min(32, (sourceBytes >> 21).toInt))

  private def stagedEventsSplitStream(s: SparkSession,
      dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val drops = java.nio.file.Files.createTempDirectory("graft_split")
    drops.toFile.deleteOnExit()
    val ev = events(s, dir).select(col("event_id"), col("ts"),
      col("user_id"), col("value"))
    // chunk count derives from INPUT SIZE, not core count: each chunk
    // is one micro-batch, and every micro-batch pays fixed checkpoint
    // commits (state-store deltas + offset/commit log fsyncs) that
    // only amortize over enough data. The first cut of this staging
    // keyed chunks on defaultParallelism/4 — 8 batches at local[32] —
    // which quadrupled the per-batch overhead at sf0.1 (the anomaly
    // cell read a reproducible 2.3-2.7x its 2-batch-era floor on a
    // quiet host) while the batch count is irrelevant to the 100x
    // cell, whose cost is data volume. ~16 MB of source parquet per
    // batch keeps sf0.1 at the floor's 2-batch shape and the 100x
    // replica (~113 MB) at 6 parallel-staged batches (112,584,468 >>
    // 24 = 6, the value SplitChunkSpec pins); the cap of 8 bounds the
    // fsync bill at any scale. Chunk count never changes results —
    // batches stay ts-contiguous and arrive in order, so every
    // cross-batch state fold sees the same globally-sorted per-user
    // sequence (oracle-verified at both 2 and 8 chunks).
    // tableBytes (Hadoop FS content summary), NOT ad-hoc java.nio
    // sizing: a remote dir (hdfs://, s3://) has no local Path, and a
    // nested part-directory layout would be undercounted by a
    // non-recursive Files.list (ADVICE r18).
    val evBytes = tableBytes(s, s"$dir/events.parquet")
    val chunks = splitChunkCount(evBytes)
    val tmp = java.nio.file.Files.createTempDirectory("graft_split_parts")
    ev.repartitionByRange(chunks, col("ts"))
      .write.mode("overwrite").parquet(tmp.toString)
    // part-NNNNN names carry the range-partition index: sorted by name
    // = sorted by ts range. Empty ranges may emit no file — harmless.
    val parts = {
      val st = java.nio.file.Files.list(tmp)
      try {
        val buf = scala.collection.mutable.ArrayBuffer.empty[java.nio.file.Path]
        st.filter(_.getFileName.toString.endsWith(".parquet"))
          .forEach(p => buf += p)
        buf.sortBy(_.getFileName.toString).toSeq
      } finally st.close()
    }
    require(parts.size >= 2,
      s"split staging produced ${parts.size} drops (empty events?)")
    val mt0 = System.currentTimeMillis() - 1000L * 2 * (chunks + 1)
    parts.zipWithIndex.foreach { case (p, idx) =>
      val dst = drops.resolve(f"drop_$idx%03d.parquet")
      java.nio.file.Files.move(p, dst,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      java.nio.file.Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(mt0 + idx * 2000L))
    }
    val tsType = s.read.parquet(drops.resolve("drop_000.parquet")
      .toString).schema("ts").dataType
    normalizeTs(s.readStream
      .schema(StructType(Seq(
        StructField("event_id", LongType), StructField("ts", tsType),
        StructField("user_id", LongType),
        StructField("value", DoubleType))))
      .option("maxFilesPerTrigger", 1)
      .parquet(drops.toString))
  }

  /** Sentinel user id carried by the watermark-flush drops of
    * [[stagedEventsWithFlush]]; queries filter it from their output. */
  private val FlushUser = -424242L

  /** Write `df` as ONE flat parquet file at `dst` (file sources do
    * not recurse into the directories a parquet sink writes, so drop
    * staging needs flat siblings). Fails loudly on an empty frame —
    * the sink would emit no part file. */
  private def writeSinglePartParquet(df: DataFrame,
      dst: java.nio.file.Path): Unit = {
    val tmp = java.nio.file.Files.createTempDirectory("graft_onepart")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = {
      val st = java.nio.file.Files.list(tmp)
      try st.filter(_.getFileName.toString.endsWith(".parquet"))
        .findFirst()
      finally st.close()
    }
    require(part.isPresent, s"no part file produced for $dst (empty frame?)")
    // REPLACE_EXISTING: re-staging after a crashed previous attempt
    // must overwrite its partial leftovers, not fail
    java.nio.file.Files.move(part.get(), dst,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    // clear the _SUCCESS/.crc leftovers with the temp dir itself
    val walk = java.nio.file.Files.walk(tmp)
    try walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
      .forEach(p => java.nio.file.Files.deleteIfExists(p))
    finally walk.close()
  }

  /** Stage `frames` as drop files with strictly INCREASING forced
    * mtimes: FileStreamSource orders files by modification time and
    * breaks ties by listing order, and back-to-back writes routinely
    * tie on 1s-granularity filesystems — fixtures whose oracle depends
    * on batch order (cross-batch dedup plants) must force it, like the
    * flush-sentinel path below does. */
  private def writeOrderedDrops(frames: Seq[DataFrame],
      drops: java.nio.file.Path): Unit = {
    val base = System.currentTimeMillis()
    frames.zipWithIndex.foreach { case (b, i) =>
      val dst = drops.resolve(s"drop_$i.parquet")
      writeSinglePartParquet(b, dst)
      java.nio.file.Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(base + i * 10000L))
    }
  }

  /** [[stagedEventsStream]] plus two far-future FLUSH sentinel drops
    * staged as strictly LATER micro-batches. The real events land as
    * ONE flattened file (a multi-part source directory would otherwise
    * let a maxFilesPerTrigger cap put both sentinels into one batch),
    * so with maxFilesPerTrigger=1 the batch sequence is exactly
    * [events, flush1, flush2] by forced mtime order. The first flush
    * advances the watermark past every real user's (last event + gap)
    * and the second makes the resulting event-time timeouts fire
    * inside a DATA batch — the eviction proof never depends on the
    * engine scheduling a trailing no-data batch. */
  private def stagedEventsWithFlush(s: SparkSession, dir: String,
      gapMs: Long): DataFrame = {
    import org.apache.spark.sql.types._
    val drops = java.nio.file.Files.createTempDirectory("graft_flush")
    drops.toFile.deleteOnExit()
    val target = java.nio.file.Paths.get(s"$dir/events.parquet")
      .toAbsolutePath.normalize
    val base = s.read.parquet(target.toString)
    val tsType = base.schema("ts").dataType
    val isSingleFile = !java.nio.file.Files.isDirectory(target)
    if (isSingleFile)
      java.nio.file.Files.createSymbolicLink(
        drops.resolve("events_1.parquet"), target)
    else // flatten the multi-part table into one drop file
      writeSinglePartParquet(base, drops.resolve("events_1.parquet"))
    val nFiles = 1
    // ONE top-1 job feeds both flush frames (localCheckpoint pins it)
    val maxRow = base.orderBy(col("ts").desc).limit(1).localCheckpoint(true)
    def flush(offsetMs: Long, name: String, mtimeMs: Long): Unit = {
      val shifted = (tsType match {
        case LongType => // raw nanos
          maxRow.withColumn("ts", col("ts") + lit(offsetMs * 1000000L))
        case _ =>
          maxRow.withColumn("ts",
            col("ts") + expr(s"INTERVAL $offsetMs MILLISECONDS"))
      }).withColumn("user_id", lit(FlushUser))
        .withColumn("event_id", lit(-1L))
      val dst = drops.resolve(name)
      writeSinglePartParquet(shifted, dst)
      java.nio.file.Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(mtimeMs))
    }
    val now = System.currentTimeMillis()
    flush(gapMs + 3600000L, "flush1.parquet", now + 3600000L)
    flush(2 * (gapMs + 3600000L), "flush2.parquet", now + 7200000L)
    normalizeTs(s.readStream
      .schema(StructType(Seq(
        StructField("event_id", LongType), StructField("ts", tsType),
        StructField("user_id", LongType),
        StructField("event_type", StringType),
        StructField("value", DoubleType), StructField("props", StringType))))
      .option("maxFilesPerTrigger", nFiles)
      .parquet(drops.toString))
  }

  /** lineitem as a datacube: explicit dim l_orderkey, implicit dim
    * l_linenumber serialized into the in-cell array (deterministic
    * order: by (linenumber, value) — linenumber alone is not unique). */
  private def liCube(s: SparkSession, dir: String, measure: String = "l_quantity"): Cube =
    CubeOps.importParquet(s, s"$dir/lineitem.parquet", measure,
      explicitDims = Seq("l_orderkey"), implicitDim = Some("l_linenumber"))

  /** lineitem as a flat (scalar-measure) cube keyed by line identity. */
  private def liFlatCube(s: SparkSession, dir: String): Cube =
    CubeOps.importParquet(s, s"$dir/lineitem.parquet", "l_quantity",
      explicitDims = Seq("l_orderkey", "l_linenumber", "l_returnflag"))

  /** Dense 2-implicit-dim cube from orders: per priority `p`, a
    * row-major (year 1995-2001 x month 1-12) grid of ORDER COUNTS
    * (integers — exact in doubles). Missing (y, m) cells are 0, so the
    * grid is dense by construction and the reduce2/permute2 stride
    * arithmetic applies. Built with a two-level aggregation: the
    * (p,y,m) groupBy gets map-side partial agg; the per-p map collect
    * touches at most 84 entries per key. */
  private def ordersGrid2(s: SparkSession, dir: String): Cube = {
    import graft.core.{CubeDescriptor, DimensionSpec}
    val o = t(s, dir, "orders")
      .select(col("o_orderpriority").as("p"),
        year(col("o_orderdate")).as("y"), month(col("o_orderdate")).as("m"))
    val cnt = o.groupBy("p", "y", "m").count()
    val maps = cnt.groupBy("p").agg(
      map_from_entries(collect_list(struct(
        (col("y") * 100 + col("m")).as("k"),
        col("count").cast("double").as("v")))).as("__kv"))
    val df = maps.withColumn("n_orders",
      transform(sequence(lit(0), lit(83)), k =>
        coalesce(element_at(col("__kv"),
          ((floor(k / 12) + 1995) * 100 + pmod(k, lit(12)) + 1).cast("int")),
          lit(0.0))))
      .drop("__kv")
    Cube(df, CubeDescriptor(0, 0, "grid2", "/", "n_orders", "double", 0,
      Seq(DimensionSpec("p", "string", explicit = true)),
      Seq(DimensionSpec("y", "int", explicit = false, size = Some(7L)),
        DimensionSpec("m", "int", explicit = false, size = Some(12L)))))
  }

  /** Dense 3-implicit-dim (year 7 x month 12 x status 3) order-count
    * grid per priority — the n-D layer's oracle fixture. Same
    * construction as ordersGrid2, one more axis: one groupBy shuffle,
    * then a per-row map lookup densifies the row-major cell. */
  private def ordersGrid3(s: SparkSession, dir: String): Cube = {
    import graft.core.{CubeDescriptor, DimensionSpec}
    val o = t(s, dir, "orders")
      .select(col("o_orderpriority").as("p"),
        year(col("o_orderdate")).as("y"), month(col("o_orderdate")).as("m"),
        when(col("o_orderstatus") === "F", 1)
          .when(col("o_orderstatus") === "O", 2)
          .when(col("o_orderstatus") === "P", 3).as("st"))
    val cnt = o.groupBy("p", "y", "m", "st").count()
    val maps = cnt.groupBy("p").agg(
      map_from_entries(collect_list(struct(
        ((((col("y") - 1995) * 12 + col("m") - 1) * 3 + col("st") - 1)
          .cast("int")).as("k"),
        col("count").cast("double").as("v")))).as("__kv"))
    val df = maps.withColumn("n_orders",
      transform(sequence(lit(0), lit(7 * 12 * 3 - 1)), k =>
        coalesce(element_at(col("__kv"), k.cast("int")), lit(0.0))))
      .drop("__kv")
    Cube(df, CubeDescriptor(0, 0, "grid3", "/", "n_orders", "double", 0,
      Seq(DimensionSpec("p", "string", explicit = true)),
      Seq(DimensionSpec("y", "int", explicit = false, size = Some(7L)),
        DimensionSpec("m", "int", explicit = false, size = Some(12L)),
        DimensionSpec("st", "int", explicit = false, size = Some(3L)))))
  }

  /** posexplode an array-measure cube to (dims..., pos 1-based, value). */
  private def explodeArr(c: Cube, posName: String, valName: String): DataFrame =
    c.df.select(col("l_orderkey"),
        posexplode(col(c.desc.measure)).as(Seq("__p", valName)))
      .withColumn(posName, (col("__p") + 1).cast("long")).drop("__p")

  // =====================================================================

  def entry(spark: SparkSession): DataFrame =
    queries("aggregate_sum")(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Map[String, (SparkSession, String) => DataFrame](

    // ----------------------------------------------------- oph_subset
    "subset_index" -> ((s, dir) => {
      val cube = CubeOps.importParquet(s, s"$dir/lineitem.parquet",
        "l_quantity", Seq("l_orderkey", "l_linenumber"))
      CubeOps.subsetIndex(cube, "l_linenumber", "1:2:5").df
    }),

    "subset_time" -> ((s, dir) => {
      val raw = t(s, dir, "lineitem")
      val cube = CubeOps.build(raw.select("l_orderkey", "l_linenumber",
        "l_shipdate", "l_quantity"), "l_quantity",
        Seq("l_orderkey", "l_linenumber", "l_shipdate"), None, "c", dir)
      val sub = CubeOps.subsetCoord(
        CubeOps.subsetTime(cube, "l_shipdate", "1996-01-01", "1997-01-01"),
        col("l_quantity") >= 25)
      sub.df.withColumn("ship", date_format(col("l_shipdate"), "yyyy-MM-dd"))
        .drop("l_shipdate")
    }),

    "subset_season" -> ((s, dir) => {
      // full time_filter grammar: summer months of two specific years
      val raw = t(s, dir, "lineitem")
      val cube = CubeOps.build(raw.select("l_orderkey", "l_linenumber",
        "l_shipdate", "l_quantity"), "l_quantity",
        Seq("l_orderkey", "l_linenumber", "l_shipdate"), None, "c", dir)
      val sub = CubeOps.subsetTimeFilter(
        CubeOps.subsetTimeFilter(cube, "l_shipdate", "JJA"),
        "l_shipdate", "1996,1997")
      sub.df.withColumn("ship", date_format(col("l_shipdate"), "yyyy-MM-dd"))
        .drop("l_shipdate")
    }),

    "setop_intersect" -> ((s, dir) => {
      // order keys present in BOTH returnflag populations
      val li = t(s, dir, "lineitem")
      li.filter(col("l_returnflag") === "A").select("l_orderkey")
        .intersect(li.filter(col("l_returnflag") === "N").select("l_orderkey"))
    }),

    "subset_implicit" -> ((s, dir) => {
      // odd in-array positions via HOF filter on the 1-based index
      val sub = CubeOps.subsetImplicit(liCube(s, dir), "1:2:13")
      explodeArr(sub, "pos", "qty")
    }),

    // ----------------------------------------------------- oph_reduce
    "reduce_avg" -> ((s, dir) => {
      val r = CubeOps.reduce(liCube(s, dir), "avg")
      r.df.select(col("l_orderkey"), round(col("l_quantity"), 4).as("avg_qty"))
    }),

    "reduce_max" -> ((s, dir) => {
      val r = CubeOps.reduce(liCube(s, dir), "max")
      r.df.select(col("l_orderkey"), col("l_quantity").as("max_qty"))
    }),

    "reduce_median" -> ((s, dir) => {
      val r = CubeOps.reduce(liCube(s, dir), "quantile")
      r.df.select(col("l_orderkey"), col("l_quantity").as("med_qty"))
    }),

    "reduce_std" -> ((s, dir) => {
      val r = CubeOps.reduce(liCube(s, dir), "std")
      r.df.select(col("l_orderkey"),
        round(col("l_quantity") + 0.0, 4).as("std_qty"))
    }),

    "apply_predicate" -> ((s, dir) => {
      // elementwise conditional: quantity > 25 ? 1 : 0, exploded back
      val cube = liCube(s, dir)
      val flagged = cube.df.withColumn("l_quantity",
        ArrayPrimitives("oph_predicate(measure, 25, 1, 0)", col("l_quantity")))
      flagged.select(col("l_orderkey"),
          posexplode(col("l_quantity")).as(Seq("__p", "__v")))
        .select(col("l_orderkey"), (col("__p") + 1).cast("long").as("pos"),
          col("__v").as("flag"))
    }),

    "duplicate_identity" -> ((s, dir) => {
      // oph_duplicate: copy-with-provenance; contents identical
      val d = CubeOps.duplicate(liFlatCube(s, dir))
      d.df.select("l_orderkey", "l_linenumber", "l_returnflag", "l_quantity")
    }),

    "reduce_cmoment" -> ((s, dir) => {
      // 2nd central moment (population variance) along the implicit dim
      val cube = liCube(s, dir)
      cube.df.select(col("l_orderkey"),
        round(CubeOps.reduceExpr(col("l_quantity"), "cmoment", 2.0) + 0.0, 4)
          .as("cm2"))
    }),

    "reduce_sum_block" -> ((s, dir) => {
      // group_size=4: block-wise sums along the implicit dim
      val r = CubeOps.reduce(liCube(s, dir), "sum", groupSize = Some(4))
      r.df.select(col("l_orderkey"),
          posexplode(col("l_quantity")).as(Seq("__p", "__v")))
        .select(col("l_orderkey"), (col("__p") + 1).cast("long").as("blk"),
          round(col("__v"), 4).as("sum_qty"))
    }),

    "reduce_min" -> ((s, dir) => {
      val r = CubeOps.reduce(liCube(s, dir), "min")
      r.df.select(col("l_orderkey"), col("l_quantity").as("min_qty"))
    }),

    "reduce_count" -> ((s, dir) => {
      val r = CubeOps.reduce(liCube(s, dir), "count")
      r.df.select(col("l_orderkey"), col("l_quantity").as("n_items"))
    }),

    "reduce_var" -> ((s, dir) => {
      val r = CubeOps.reduce(liCube(s, dir), "var")
      r.df.select(col("l_orderkey"),
        round(col("l_quantity") + 0.0, 4).as("var_qty"))
    }),

    "reduce_argmax" -> ((s, dir) => {
      // 1-based position of the max within the deterministic
      // (linenumber, value)-sorted in-cell array; ties -> first position
      val r = CubeOps.reduce(liCube(s, dir), "arg_max")
      r.df.select(col("l_orderkey"), col("l_quantity").as("amax"))
    }),

    "reduce_argmin" -> ((s, dir) => {
      val r = CubeOps.reduce(liCube(s, dir), "arg_min")
      r.df.select(col("l_orderkey"), col("l_quantity").as("amin"))
    }),

    "reduce_rmoment" -> ((s, dir) => {
      // 3rd raw moment E[x^3] along the implicit dim
      val cube = liCube(s, dir)
      cube.df.select(col("l_orderkey"),
        round(CubeOps.reduceExpr(col("l_quantity"), "rmoment", 3.0) + 0.0, 2)
          .as("rm3"))
    }),

    // -------------------------------------------------- oph_aggregate
    "aggregate_sum" -> ((s, dir) => {
      val cube = CubeOps.importParquet(s, s"$dir/lineitem.parquet",
        "l_quantity", Seq("l_orderkey", "l_returnflag", "l_linestatus"))
      val agg = CubeOps.aggregate(cube, Seq("l_returnflag", "l_linestatus"), "sum")
      agg.df.select(col("l_returnflag"), col("l_linestatus"),
        round(col("l_quantity"), 2).as("sum_qty"))
    }),

    "aggregate2_month" -> ((s, dir) => {
      val cube = CubeOps.importParquet(s, s"$dir/orders.parquet",
        "o_totalprice", Seq("o_orderdate"))
      val agg = CubeOps.aggregate2(cube, "o_orderdate",
        d => date_format(d, "yyyy-MM"), "omonth", "sum")
      agg.df.select(col("omonth"), round(col("o_totalprice"), 2).as("sum_price"))
    }),

    "aggregate2_quarter" -> ((s, dir) => {
      // hierarchy level above month: oph_time quarter
      val cube = CubeOps.importParquet(s, s"$dir/orders.parquet",
        "o_totalprice", Seq("o_orderdate"))
      val agg = CubeOps.aggregate2(cube, "o_orderdate",
        d => concat(year(d).cast("string"), lit("-Q"),
          quarter(d).cast("string")),
        "oquarter", "sum")
      agg.df.select(col("oquarter"), round(col("o_totalprice"), 2).as("sum_price"))
    }),

    // ------------------------------------------------------ oph_apply
    "apply_mulscalar" -> ((s, dir) => {
      val cube = liCube(s, dir)
      cube.df.select(col("l_orderkey"),
        round(ArrayPrimitives("oph_sum(oph_mul_scalar(measure, 2))",
          col("l_quantity")), 4).as("val"))
    }),

    "apply_moving_avg" -> ((s, dir) => {
      val cube = liCube(s, dir)
      val mavg = cube.df.withColumn("l_quantity",
        ArrayPrimitives("oph_moving_avg(measure, 3)", col("l_quantity")))
      mavg.select(col("l_orderkey"),
          posexplode(col("l_quantity")).as(Seq("__p", "__v")))
        .select(col("l_orderkey"), (col("__p") + 1).cast("long").as("pos"),
          round(col("__v"), 4).as("mavg"))
    }),

    "apply_shift" -> ((s, dir) => {
      // oph_shift: one step toward higher in-cell indices, 0-fill —
      // the SQL mirror is lag(x, 1, 0) over the cell ordering
      val cube = liCube(s, dir)
      val sh = cube.df.withColumn("l_quantity",
        ArrayPrimitives("oph_shift(measure, 1, 0)", col("l_quantity")))
      sh.select(col("l_orderkey"),
          posexplode(col("l_quantity")).as(Seq("__p", "__v")))
        .select(col("l_orderkey"), (col("__p") + 1).cast("long").as("pos"),
          col("__v").as("shifted"))
    }),

    "apply_histogram" -> ((s, dir) => {
      // oph_gsl_histogram: per-cell counts over 5 uniform bins of
      // [0, 50) (GSL semantics: upper bound exclusive)
      val cube = liCube(s, dir)
      val hist = cube.df.withColumn("l_quantity",
        ArrayPrimitives("oph_gsl_histogram(measure, 5, 0, 50)",
          col("l_quantity")))
      hist.select(col("l_orderkey"),
          posexplode(col("l_quantity")).as(Seq("__p", "__v")))
        .select(col("l_orderkey"), (col("__p") + 1).cast("long").as("pos"),
          col("__v").as("cnt"))
    }),

    "apply_math_cum" -> ((s, dir) => {
      // composed new-primitive path: per-cell cumulative sum of sin(x)
      // (oph_math by name + the native O(n) accumulate scan)
      val cube = liCube(s, dir)
      val cum = cube.df.withColumn("l_quantity",
        ArrayPrimitives("oph_accumulate(oph_math(measure, 'sin'))",
          col("l_quantity")))
      cum.select(col("l_orderkey"),
          posexplode(col("l_quantity")).as(Seq("__p", "__v")))
        .select(col("l_orderkey"), (col("__p") + 1).cast("long").as("pos"),
          round(col("__v"), 4).as("cum_sin"))
    }),

    "apply_subarray_stats" -> ((s, dir) => {
      // in-cell subset by index filter (stride-2 from position 1) and
      // selected summary statistics in request order
      val cube = liCube(s, dir)
      val st = cube.df.withColumn("l_quantity",
        ArrayPrimitives(
          "oph_gsl_stats(oph_get_subarray2(measure, '1:2:end'), 'mean|max|sum')",
          col("l_quantity")))
      st.select(col("l_orderkey"),
          posexplode(col("l_quantity")).as(Seq("__p", "__v")))
        .select(col("l_orderkey"), (col("__p") + 1).cast("long").as("pos"),
          round(col("__v"), 4).as("stat"))
    }),

    "apply_fft" -> ((s, dir) => {
      // oph_gsl_fft: DFT per cell, GSL-packed [re0, im0, re1, im1, …].
      // The oracle rebuilds the same O(n^2) direct form with a
      // per-order self-join; -0.0 sums are canonicalized with + 0.0
      val cube = liCube(s, dir)
      val fft = cube.df.withColumn("l_quantity",
        ArrayPrimitives("oph_gsl_fft(measure)", col("l_quantity")))
      fft.select(col("l_orderkey"),
          posexplode(col("l_quantity")).as(Seq("__p", "__v")))
        .select(col("l_orderkey"), (col("__p") + 1).cast("long").as("pos"),
          (round(col("__v"), 4) + 0.0).as("coef"))
    }),

    // -------------------------------------------------- oph_intercube
    "intercube_sub" -> ((s, dir) => {
      val a = CubeOps.importParquet(s, s"$dir/orders.parquet",
        "o_totalprice", Seq("o_orderkey"))
      val liSum = t(s, dir, "lineitem")
        .select(col("l_orderkey").as("o_orderkey"), col("l_quantity"))
      val b = CubeOps.aggregate(
        CubeOps.build(liSum, "l_quantity", Seq("o_orderkey"), None, "c", dir),
        Seq("o_orderkey"), "sum")
      val ic = CubeOps.intercube(a, b, "sub", "diff")
      ic.df.select(col("o_orderkey"), round(col("diff"), 2).as("diff"))
    }),

    "intercube_corr" -> ((s, dir) => {
      // per-order correlation of quantity vs extendedprice: one import
      // carrying BOTH measures so in-cell pairing survives ties, then a
      // pure-HOF sample-correlation over the zipped arrays
      val raw = t(s, dir, "lineitem")
      val paired = raw.groupBy(col("l_orderkey"))
        .agg(array_sort(collect_list(struct(col("l_linenumber"),
          col("l_quantity"), col("l_extendedprice")))).as("kv"))
        .withColumn("x", expr("transform(kv, r -> r.l_quantity)"))
        .withColumn("y", expr("transform(kv, r -> r.l_extendedprice)"))
      def s1(c: Column) = F.aggregate(c, lit(0.0), (a, v) => a + v)
      def s2(c: Column) = F.aggregate(c, lit(0.0), (a, v) => a + v * v)
      val n = size(col("x")).cast("double")
      val sxy = F.aggregate(zip_with(col("x"), col("y"), (a, b) => a * b),
        lit(0.0), (a, v) => a + v)
      val num = n * sxy - s1(col("x")) * s1(col("y"))
      val den = sqrt(n * s2(col("x")) - s1(col("x")) * s1(col("x"))) *
        sqrt(n * s2(col("y")) - s1(col("y")) * s1(col("y")))
      paired.filter(size(col("x")) >= 2)
        .select(col("l_orderkey"),
          // + 0.0 canonicalizes IEEE -0.0 from tiny negative correlations
          when(den > 0, round(num / den, 3) + 0.0)
            .otherwise(lit(null)).as("corr_qp"))
    }),

    "intercube_sum" -> ((s, dir) => {
      val a = CubeOps.importParquet(s, s"$dir/orders.parquet",
        "o_totalprice", Seq("o_orderkey"))
      val liSum = t(s, dir, "lineitem")
        .select(col("l_orderkey").as("o_orderkey"), col("l_quantity"))
      val b = CubeOps.aggregate(
        CubeOps.build(liSum, "l_quantity", Seq("o_orderkey"), None, "c", dir),
        Seq("o_orderkey"), "sum")
      val ic = CubeOps.intercube(a, b, "sum", "tot")
      ic.df.select(col("o_orderkey"), round(col("tot"), 2).as("tot"))
    }),

    "intercube_div" -> ((s, dir) => {
      // price per unit: totalprice / total quantity, elementwise scalar
      val a = CubeOps.importParquet(s, s"$dir/orders.parquet",
        "o_totalprice", Seq("o_orderkey"))
      val liSum = t(s, dir, "lineitem")
        .select(col("l_orderkey").as("o_orderkey"), col("l_quantity"))
      val b = CubeOps.aggregate(
        CubeOps.build(liSum, "l_quantity", Seq("o_orderkey"), None, "c", dir),
        Seq("o_orderkey"), "sum")
      val ic = CubeOps.intercube(a, b, "div", "unit_price")
      // NO rounding: the divisor is a sum of integer-valued doubles
      // (exact in any order), so the IEEE division is bit-identical on
      // both sides — rounding would only re-introduce boundary flips
      ic.df.select(col("o_orderkey"), col("unit_price"))
    }),

    "intercube_abs" -> ((s, dir) => {
      // |a - b| on ARRAY measures: per-cell |qty - qty*2| = qty
      val a = liCube(s, dir)
      val b = a.copy(df = a.df.withColumn(a.desc.measure,
        expr("transform(l_quantity, x -> x * 2D)")))
      val ic = CubeOps.intercube(a, b, "abs", "absdiff")
      ic.df.select(col("l_orderkey"),
          posexplode(col("absdiff")).as(Seq("__p", "__v")))
        .select(col("l_orderkey"), (col("__p") + 1).cast("long").as("pos"),
          round(col("__v"), 4).as("ad"))
    }),

    // ------------------------------------------------- oph_mergecubes
    "mergecubes2_union" -> ((s, dir) => {
      val cube = liFlatCube(s, dir)
      val a = CubeOps.subsetCoord(cube, col("l_returnflag") === "A")
      val n = CubeOps.subsetCoord(cube, col("l_returnflag") === "N")
      CubeOps.mergecubes2(Seq("A" -> a, "N" -> n), "src").df
    }),

    "mergecubes_concat" -> ((s, dir) => {
      // implicit-dim concat of two cubes over the same keys: qty array
      // followed by extendedprice array, exploded back with positions
      val a = liCube(s, dir, "l_quantity")
      val b = liCube(s, dir, "l_extendedprice")
        .copy()
      val bRenamed = b.copy(
        df = b.df.withColumnRenamed("l_extendedprice", "l_quantity"),
        desc = b.desc.copy(measure = "l_quantity"))
      val m = CubeOps.mergecubes(a, bRenamed)
      explodeArr(m, "pos", "v")
    }),

    // ------------------------------------- oph_rollup / oph_drilldown
    "rollup_drilldown" -> ((s, dir) => {
      val flat = CubeOps.importParquet(s, s"$dir/lineitem.parquet",
        "l_quantity", Seq("l_orderkey", "l_linenumber"))
      val up = CubeOps.rollup(flat, "l_linenumber")
      CubeOps.drilldown(up).df
    }),

    // ---------------------------------------------------- oph_permute
    "permute_reverse" -> ((s, dir) => {
      val rev = CubeOps.permuteReverse(liCube(s, dir))
      explodeArr(rev, "pos", "qty")
    }),

    // ------------------------------------------------ oph_explorecube
    "explorecube" -> ((s, dir) => {
      val raw = t(s, dir, "lineitem").select("l_orderkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_shipdate")
      val cube = CubeOps.build(raw, "l_quantity",
        Seq("l_orderkey", "l_linenumber", "l_extendedprice", "l_shipdate"),
        None, "c", dir)
      CubeOps.explorecube(cube, Some(col("l_orderkey") <= 100), 1000000)
        .withColumn("ship", date_format(col("l_shipdate"), "yyyy-MM-dd"))
        .drop("l_shipdate")
    }),

    // ------------------------------- oph_cubeschema / oph_cubeelements
    "cubeschema" -> ((s, dir) => CubeOps.cubeschema(s, liCube(s, dir))),

    "cubeelements" -> ((s, dir) => CubeOps.cubeelements(liCube(s, dir))),

    "cubesize" -> ((s, dir) => CubeOps.cubesize(liCube(s, dir))),

    // ---------------------------- joins / top-k / window / set ops ---
    "join_topk" -> ((s, dir) => {
      val c = t(s, dir, "customer"); val o = t(s, dir, "orders")
      c.join(o, c("c_custkey") === o("o_custkey"))
        .groupBy(col("c_custkey"), col("c_name"))
        .agg(round(sum(col("o_totalprice")), 2).as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(10)
    }),

    "join_asof" -> ((s, dir) => {
      // as-of join: each click picks up the user's most recent
      // prior-or-equal purchase — union + single window pass, one
      // shuffle on user_id (operators/Joins.asof)
      val ev = events(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("event_id"))
      // pre-aggregate equal-instant purchases: DuckDB's ASOF JOIN
      // leaves same-timestamp ties UNSPECIFIED, so the oracle compare
      // is only sound when at most one right row exists per instant
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("value")).as("value"))
      graft.operators.Joins.asof(clicks, purchases, Seq("user_id"),
        "ts", "ts", Seq("value"))
        .select(col("user_id"), col("event_id"),
          unix_millis(col("ts")).as("ts_ms"),
          unix_millis(col("matched_ts")).as("pts_ms"),
          round(col("value"), 2).as("purch_value"))
    }),

    "join_asof_left" -> ((s, dir) => {
      // left-outer as-of: clicks BEFORE any purchase survive with
      // null match — the enrichment shape where "no reference row
      // yet" is data
      val ev = events(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("event_id"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("value")).as("value"))
      graft.operators.Joins.asof(clicks, purchases, Seq("user_id"),
          "ts", "ts", Seq("value"), leftOuter = true)
        .select(col("user_id"), col("event_id"),
          unix_millis(col("ts")).as("ts_ms"),
          unix_millis(col("matched_ts")).as("pts_ms"),
          round(col("value"), 2).as("purch_value"))
    }),

    "join_asof_native" -> ((s, dir) => {
      // the SAME as-of semantics planned as the custom Catalyst
      // operator (plans/AsofJoin: logical node + strategy + merge
      // exec): each side shuffles its own unwidened rows, the
      // per-partition pass is an O(1)-state two-iterator merge, and
      // the identical DuckDB ASOF JOIN oracle pins parity with the
      // union+window formulation above
      val ev = events(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("event_id"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("value")).as("value"))
      graft.operators.Joins.asofNative(clicks, purchases, Seq("user_id"),
        "ts", "ts", Seq("value"))
        .select(col("user_id"), col("event_id"),
          unix_millis(col("ts")).as("ts_ms"),
          unix_millis(col("matched_ts")).as("pts_ms"),
          round(col("value"), 2).as("purch_value"))
    }),

    "join_range" -> ((s, dir) => {
      // interval join via bin quantization: price bands (width 950, NOT
      // aligned to the 400-wide bins) match orders by containment with
      // an equi-join on the bin — no theta-join, no cartesian
      val bands = s.range(600).select(col("id").as("band"),
        (col("id") * lit(950.0)).as("lo"),
        (col("id") * lit(950.0) + lit(950.0)).as("hi"))
      graft.operators.Joins.rangeJoinBinned(t(s, dir, "orders"),
        "o_totalprice", bands, "lo", "hi", binWidth = 400.0)
        .groupBy(col("band"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("o_totalprice")), 2).as("sv"))
    }),

    "join_skew_salted" -> ((s, dir) => {
      // skew-safe join: lineitem probe rows scatter over 8 salt
      // buckets, the orders build side replicates 8x — same result as
      // the plain equi-join (the oracle is the UNSALTED SQL), but a
      // hot orderkey spreads over 8 reducers instead of one
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
      val o = t(s, dir, "orders")
        .select(col("o_orderkey").as("l_orderkey"), col("o_orderstatus"))
      graft.operators.Skew.saltedJoin(li, o, Seq("l_orderkey"),
          scatter = col("l_linenumber"), salt = 8)
        .groupBy(col("o_orderstatus"))
        .agg(round(sum(col("l_quantity")), 2).as("sum_qty"),
          count(lit(1)).as("n"))
    }),

    "join_skew_hotkeys" -> ((s, dir) => {
      // ADAPTIVE skew join: plant one genuinely hot orderkey (every
      // 10th order's lines re-keyed to 1 with unique linenumbers), let
      // the bounded driver sample detect it, and salt ONLY that key's
      // build rows — the cold mass takes the plain join. The oracle is
      // the unsalted SQL over the same augmented probe, so the sample
      // can only affect the shuffle shape, never the result.
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
      val hotLines = li.filter(pmod(col("l_orderkey"), lit(10)) === 0)
        .select(lit(1L).as("l_orderkey"),
          (lit(1000000L) + col("l_orderkey") * 10 + col("l_linenumber"))
            .as("l_linenumber"),
          col("l_quantity"))
      val aug = li.unionByName(hotLines)
      val o = t(s, dir, "orders")
        .select(col("o_orderkey").as("l_orderkey"), col("o_orderstatus"))
      graft.operators.Skew.saltedJoinHot(aug, o, Seq("l_orderkey"),
          scatter = col("l_linenumber"), salt = 8,
          hotThreshold = 1000L, sampleFraction = 0.2, maxHotKeys = 10,
          seed = 7L)
        .groupBy(col("o_orderstatus"))
        .agg(round(sum(col("l_quantity")), 2).as("sum_qty"),
          count(lit(1)).as("n"))
    }),

    "agg_skew_salted" -> ((s, dir) => {
      // two-phase salted aggregation: l_returnflag has only 3 groups
      // (maximally hot keys); phase 1 splits each across 16 buckets,
      // phase 2 merges partials — exact, hash-matched by the plain
      // GROUP BY oracle
      graft.operators.Skew.saltedAgg(
          t(s, dir, "lineitem"), Seq("l_returnflag"), "l_quantity",
          scatter = col("l_orderkey"), salt = 16)
        .select(col("l_returnflag"),
          round(col("sum_l_quantity"), 2).as("sum_qty"), col("n"),
          col("min_l_quantity").as("min_qty"),
          col("max_l_quantity").as("max_qty"))
    }),

    "grouping_rollup" -> ((s, dir) => {
      // grouping sets: ROLLUP over (returnflag, linestatus) — subtotals
      // and a grand total in one pass (partial aggregation per set)
      t(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(round(sum(col("l_quantity")), 2).as("sum_qty"),
          count(lit(1)).as("n"))
    }),

    "grouping_cube" -> ((s, dir) => {
      // full CUBE over (returnflag, linestatus) with GROUPING markers:
      // the markers disambiguate "subtotal NULL" from a genuine NULL
      // key — the reference's hierarchy rollups need exactly this to
      // label aggregation levels
      t(s, dir, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(round(sum(col("l_quantity")), 2).as("sum_qty"),
          count(lit(1)).as("n"),
          grouping(col("l_returnflag")).cast("long").as("g_rf"),
          grouping(col("l_linestatus")).cast("long").as("g_ls"))
    }),

    "pivot_priority" -> ((s, dir) => {
      // pivot: order counts per year x priority as a wide table (the
      // explicit value list keeps the output schema static — the only
      // sane shape at scale; an inferred pivot would scan twice).
      // Absent cells fill 0 to match the oracle's FILTER counts.
      t(s, dir, "orders")
        .groupBy(year(col("o_orderdate")).cast("long").as("y"))
        .pivot("o_orderpriority", Seq("1-URGENT", "2-HIGH", "3-MEDIUM",
          "4-NOT SPECIFIED", "5-LOW"))
        .agg(count(lit(1)))
        .na.fill(0L)
    }),

    "csv_roundtrip" -> ((s, dir) => {
      // CSV source/sink (quoted/escaped, header): documents -> csv ->
      // read back with explicit schema -> aggregate fingerprint vs the
      // parquet-side oracle (any quote/escape infidelity, e.g. commas
      // inside text, breaks the hash)
      val tmp = java.nio.file.Files.createTempDirectory("graft_csv")
      tmp.toFile.deleteOnExit()
      val docs = t(s, dir, "documents")
      docs.write.mode("overwrite").option("header", "true")
        .option("escape", "\"").csv(tmp.toString)
      s.read.schema(docs.schema).option("header", "true")
        .option("escape", "\"").csv(tmp.toString)
        .agg(
          count(lit(1)).as("n"),
          sum(col("doc_id")).as("sum_id"),
          sum(length(col("text"))).as("sum_len"),
          countDistinct(col("lang")).as("n_langs"),
          countDistinct(md5(col("text"))).as("n_texts"),
          max(md5(col("text"))).as("max_md5"))
    }),

    "window_lead" -> ((s, dir) => {
      // lead/lag: next order's totalprice per customer
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      t(s, dir, "orders").select(col("o_custkey"), col("o_orderkey"),
        round(lead(col("o_totalprice"), 1).over(w), 2).as("next_price"),
        round(lag(col("o_totalprice"), 1).over(w), 2).as("prev_price"))
    }),

    "window_running" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "orders").select(col("o_custkey"), col("o_orderkey"),
        round(sum(col("o_totalprice")).over(w), 2).as("running"))
    }),

    "window_range" -> ((s, dir) => {
      // RANGE frame keyed by event time: trailing-90-day revenue per
      // customer — the VALUE-based frame (peers included by date
      // arithmetic, not row position), the one window shape ROWS
      // frames can't express. Partitioned window: one hash exchange,
      // in-partition sort only, never a global sort (plan-audited).
      // The framed sum is DECIMAL so intra-frame order can't flip
      // pennies between engines.
      t(s, dir, "orders").createOrReplaceTempView("orders")
      s.sql("""
        SELECT o_orderkey, o_custkey,
               CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                 OVER (PARTITION BY o_custkey ORDER BY o_orderdate
                       RANGE BETWEEN INTERVAL 90 DAY PRECEDING
                         AND CURRENT ROW), 2) AS DOUBLE) AS trailing_90d
        FROM orders
      """)
    }),

    "window_lead_default" -> ((s, dir) => {
      // lead/lag with explicit offsets AND defaults over a
      // partitioned key — the null-filling contract at partition
      // edges (defaults surface, not nulls)
      t(s, dir, "orders").createOrReplaceTempView("orders")
      s.sql("""
        SELECT o_orderkey, o_custkey,
               lead(o_totalprice, 2, -1.0)
                 OVER (PARTITION BY o_custkey
                       ORDER BY o_orderdate, o_orderkey) AS next2_price,
               lag(o_totalprice, 3, 0.0)
                 OVER (PARTITION BY o_custkey
                       ORDER BY o_orderdate, o_orderkey) AS prev3_price
        FROM orders
      """)
    }),

    "setop_anti" -> ((s, dir) => {
      val o = t(s, dir, "orders"); val li = t(s, dir, "lineitem")
      o.join(li, o("o_orderkey") === li("l_orderkey"), "left_anti")
        .select("o_orderkey")
    }),

    "sql_q3" -> ((s, dir) => {
      t(s, dir, "customer").createOrReplaceTempView("customer")
      t(s, dir, "orders").createOrReplaceTempView("orders")
      t(s, dir, "lineitem").createOrReplaceTempView("lineitem")
      // revenue in DECIMAL: the parquet doubles are 2-decimal values, so
      // casting recovers them exactly and the sum is order-independent —
      // double summation flips pennies at round() boundaries otherwise
      s.sql("""
        SELECT o.o_orderkey,
               CAST(round(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))
                 * (1 - CAST(l.l_discount AS DECIMAL(18,2)))), 2) AS DOUBLE)
                 AS revenue
        FROM customer c
        JOIN orders o ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        WHERE c.c_mktsegment = 'BUILDING'
          AND o.o_orderdate < TIMESTAMP '1997-01-01'
        GROUP BY o.o_orderkey
        HAVING sum(CAST(l.l_extendedprice AS DECIMAL(18,2))
          * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) > 100000
      """)
    }),

    "sql_q5" -> ((s, dir) => {
      // TPC-H Q5 shape: 6-table star-ish join — region/nation are
      // broadcast dims, the c_nationkey = s_nationkey cross-filter
      // makes the join order genuinely matter; Catalyst reorders and
      // broadcasts the small sides (no hints needed)
      Seq("customer", "orders", "lineitem", "supplier", "nation",
        "region").foreach(n => t(s, dir, n).createOrReplaceTempView(n))
      s.sql("""
        SELECT n.n_name,
               CAST(round(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))
                 * (1 - CAST(l.l_discount AS DECIMAL(18,2)))), 2)
                 AS DOUBLE) AS revenue
        FROM customer c
        JOIN orders o ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
          AND c.c_nationkey = s.s_nationkey
        JOIN nation n ON s.s_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        WHERE r.r_name = 'ASIA'
          AND o.o_orderdate >= TIMESTAMP '1996-01-01'
          AND o.o_orderdate < TIMESTAMP '1997-01-01'
        GROUP BY n.n_name
      """)
    }),

    "sql_q10" -> ((s, dir) => {
      // TPC-H Q10 shape: returned-item revenue top-20 — aggregate
      // then TakeOrdered (never a global sort); c_custkey tiebreak
      // makes the cut deterministic
      Seq("customer", "orders", "lineitem", "nation")
        .foreach(n => t(s, dir, n).createOrReplaceTempView(n))
      s.sql("""
        SELECT c.c_custkey, c.c_name,
               CAST(round(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))
                 * (1 - CAST(l.l_discount AS DECIMAL(18,2)))), 2)
                 AS DOUBLE) AS revenue,
               c.c_acctbal, n.n_name
        FROM customer c
        JOIN orders o ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
          AND o.o_orderdate < TIMESTAMP '1996-04-01'
          AND l.l_returnflag = 'R'
        GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
        ORDER BY revenue DESC, c.c_custkey
        LIMIT 20
      """)
    }),

    "window_ntile" -> ((s, dir) => {
      // per-priority deciles + percent_rank: partitioned window (no
      // global sort), total order via the o_orderkey tiebreak so the
      // tile boundaries are engine-independent
      t(s, dir, "orders").createOrReplaceTempView("orders")
      s.sql("""
        SELECT o_orderkey, o_orderpriority,
               CAST(ntile(4) OVER (PARTITION BY o_orderpriority
                 ORDER BY o_totalprice, o_orderkey) AS BIGINT)
                 AS quartile,
               percent_rank() OVER (PARTITION BY o_orderpriority
                 ORDER BY o_totalprice, o_orderkey) AS pr
        FROM orders
      """)
    }),

    "sql_q18" -> ((s, dir) => {
      t(s, dir, "customer").createOrReplaceTempView("customer")
      t(s, dir, "orders").createOrReplaceTempView("orders")
      t(s, dir, "lineitem").createOrReplaceTempView("lineitem")
      // TPC-H Q18 shape: top-k over a 3-table join with a groupBy +
      // HAVING inner block. The plan this text produces — and the one
      // to want at 100 TB — aggregates lineitem BEFORE any join
      // (partial agg, one shuffle on l_orderkey), joins the shrunken
      // qualifier set to orders, broadcasts customer, and takes the
      // ORDER BY + LIMIT as TakeOrderedAndProject (per-partition top-k
      // + driver merge, never a global sort). The ordering key is made
      // total (orderkey tiebreak) so the top-100 set is deterministic.
      s.sql("""
        SELECT c.c_name, c.c_custkey, o.o_orderkey,
               CAST(o.o_orderdate AS DATE) AS o_orderdate,
               o.o_totalprice,
               CAST(round(big.sum_qty, 2) AS DOUBLE) AS sum_qty
        FROM (SELECT l_orderkey, sum(l_quantity) AS sum_qty
              FROM lineitem GROUP BY l_orderkey
              HAVING sum(l_quantity) > 300) big
        JOIN orders o ON o.o_orderkey = big.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        ORDER BY o.o_totalprice DESC, o.o_orderdate, o.o_orderkey
        LIMIT 100
      """)
    }),

    "sql_q6" -> ((s, dir) => {
      t(s, dir, "lineitem").createOrReplaceTempView("lineitem")
      // TPC-H Q6 shape: tight selective filter + single aggregate. The
      // point at 100 TB is the SCAN: every predicate must reach the
      // parquet reader (PushedFilters) and the projection must prune
      // to the 4 touched columns — asserted in PlanAuditSpec.
      s.sql("""
        SELECT CAST(round(sum(l_extendedprice * l_discount), 2) AS DOUBLE)
                 AS revenue
        FROM lineitem
        WHERE l_quantity < 24
          AND l_discount BETWEEN 0.05 AND 0.07
          AND l_extendedprice > 1000
      """)
    }),

    // ------------------------------------------- LLM pipeline: dedup
    "dedup_exact" -> ((s, dir) =>
      Dedup.exact(t(s, dir, "documents"), "doc_id", "text")),

    "dedup_minhash" -> ((s, dir) => {
      // double the corpus (ids offset) so every doc has a PLANTED exact
      // duplicate; the LSH plan is the thing under test: banded bucket
      // join, no all-pairs. The oracle (annPlanted's recipe): identical
      // texts give identical signatures, so ALL 500 planted pairs MUST
      // surface at jaccard 1.0 (any miss drops a row -> hash fail);
      // organic >= 0.9 pairs are hash-seed-dependent, so they pin as a
      // count band instead of a row list
      val d = t(s, dir, "documents").select("doc_id", "text")
      val doubled = d.unionByName(
        d.select((col("doc_id") + 1000000).as("doc_id"), col("text")))
      // one LSH pass serves both the organic count and the planted
      // list (the banded join is the expensive part — recomputing it
      // per consumer doubles the query)
      val pairs = Dedup.minhashLsh(doubled, "doc_id", "text", k = 5,
        numHashes = 64, bands = 8, tau = 0.9).localCheckpoint(true)
      val organic = pairs.filter(col("id_b") =!= col("id_a") + 1000000)
        .count()
      // observed 100 organic pairs on the 500-doc corpus (0.2/doc);
      // scale-relative band: catches an all-pairs blowup (>> n) or a
      // collapsed index (0) at any sf
      val n = d.count()
      pairs.filter(col("id_b") === col("id_a") + 1000000)
        .select(col("id_a").as("doc_id"),
          round(col("jaccard"), 4).as("jaccard"))
        .withColumn("organic_in_band",
          lit(organic >= n / 20 && organic <= n))
    }),

    "dedup_simhash" -> ((s, dir) => {
      // same planted-pair contract as dedup_minhash: every doc's exact
      // duplicate must surface at hamming 0 (identical 64-bit
      // signatures share every block key), organic pairs pin as a band
      val d = t(s, dir, "documents").select("doc_id", "text")
      val doubled = d.unionByName(
        d.select((col("doc_id") + 1000000).as("doc_id"), col("text")))
      val dups = Dedup.simhashDups(doubled, "doc_id", "text",
        maxHamming = 3).localCheckpoint(true)
      val organic = dups.filter(col("id_b") =!= col("id_a") + 1000000)
        .count()
      // observed 68 organic pairs on the 500-doc corpus; same
      // scale-relative band rationale as dedup_minhash
      val n = d.count()
      dups.filter(col("id_b") === col("id_a") + 1000000)
        .select(col("id_a").as("doc_id"), col("hamming"))
        .withColumn("organic_in_band",
          lit(organic >= n / 25 && organic <= n))
    }),

    "dedup_ngram" -> ((s, dir) => {
      // word-3-gram Jaccard over a deterministic pair list (each doc vs
      // its successor) — the exact-similarity verify metric end-to-end
      val d = t(s, dir, "documents").select("doc_id", "text")
      val a = d.select(col("doc_id"), col("text").as("text_a"))
      val b = d.select((col("doc_id") - 1).as("doc_id"), col("text").as("text_b"))
      a.join(b, "doc_id")
        .select(col("doc_id"),
          round(Dedup.ngramJaccard(col("text_a"), col("text_b"), 3), 4).as("j3"))
    }),

    "dedup_substring" -> ((s, dir) => {
      // cross-doc EXACT-substring dedup at >= 15 tokens (Lee et al.
      // 2022 class): a 20-token boilerplate planted in every 10th doc
      // guarantees genuine multi-doc duplicated spans; organic repeats
      // in the synthetic corpus surface too (the oracle replays the
      // same span merge with window functions over gram strings)
      val boiler = "lorem ipsum dolor sit amet consectetur adipiscing" +
        " elit sed do eiusmod tempor incididunt ut labore et dolore" +
        " magna aliqua"
      val d = t(s, dir, "documents").select(col("doc_id"),
        when(col("doc_id") % 10 === 0,
          concat(col("text"), lit(" "), lit(boiler)))
          .otherwise(col("text")).as("text"))
      Dedup.exactSubstringSpans(d, "doc_id", "text", 15)
        .select(col("doc_id"),
          col("span_start").cast("long").as("span_start"),
          col("span_end").cast("long").as("span_end"))
    }),

    "dedup_strip" -> ((s, dir) => {
      // the excision step composed after dedup_substring's spans
      // (VERDICT r15 #3): same planted corpus, spans at >= 15 tokens,
      // then stripSpans rebuilds the text with every non-canonical
      // duplicated span removed — one equi-join, row-local surgery
      val boiler = "lorem ipsum dolor sit amet consectetur adipiscing" +
        " elit sed do eiusmod tempor incididunt ut labore et dolore" +
        " magna aliqua"
      val d = t(s, dir, "documents").select(col("doc_id"),
        when(col("doc_id") % 10 === 0,
          concat(col("text"), lit(" "), lit(boiler)))
          .otherwise(col("text")).as("text"))
      val spans = Dedup.exactSubstringSpans(d, "doc_id", "text", 15)
      Dedup.stripSpans(d, spans, "doc_id", "text")
        .select(col("doc_id"), col("text"))
    }),

    "dedup_clusters" -> ((s, dir) => withShufflePartitions(s,
      // partitions SCALE WITH DATA (one per ~16 MB of input, 8..32):
      // a constant 8 is right at sf0.1 (round-scheduling dominates,
      // tiny exchanges) but starves a 60M-vertex run on 32 cores. At
      // cluster scale the same rule applies per-executor-count, not
      // a pin. (The bigger 100x win was in connectedComponents
      // itself: single-pass edge symmetrization, 290 s -> 130 s.)
      math.max(8L, math.min(32L,
        (tableBytes(s, s"$dir/lineitem.parquet") >> 24) + 1)).toInt) {
      // candidate pairs -> dedup clusters: connected components by
      // min-label propagation with pointer jumping (O(log diameter)
      // rounds). Edge fixture: chains linking consecutive line numbers
      // within an order — genuine multi-hop components (length <= 7)
      // whose transitive closure a recursive-CTE oracle can also reach.
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"))
      def vid(k: Column, l: Column): Column = (k * 8 + l).cast("long")
      val verts = li.select(vid(col("l_orderkey"), col("l_linenumber")).as("id"))
      // successor edges via ONE groupBy instead of a 600k x 600k
      // self-join: line numbers within an order are a tiny set, so
      // collect them per order and emit (ln, ln+1) pairs where both
      // exist — same edge list, one shuffle, no sort-merge join
      // A/B'd at the 100x replica: this object-agg form beats the
      // keyed self-join (130 s vs 233 s end-to-end) — the join ships
      // both probe sides through the exchange while collect_list
      // rides ONE shuffle into 4-element arrays
      val e = li.groupBy(col("l_orderkey"))
        .agg(array_distinct(collect_list(col("l_linenumber"))).as("lns"))
        .select(col("l_orderkey"),
          explode(filter(col("lns"),
            x => array_contains(col("lns"), x + 1))).as("ln"))
        .select(vid(col("l_orderkey"), col("ln")).as("src"),
          vid(col("l_orderkey"), col("ln") + 1).as("dst"))
      Dedup.connectedComponents(verts, e)
    }),

    "dedup_incremental" -> ((s, dir) => {
      // cross-run dedup: the "incoming" batch replays every corpus doc
      // (ids offset; even ids byte-identical text, odd ids fresh text).
      // Bloom prefilter (broadcast sketch of corpus hashes) passes the
      // definitively-new rows join-free; only bloom-positives pay the
      // exact anti-join. Exactly the odd-id half must survive.
      val corpus = t(s, dir, "documents").select("doc_id", "text")
      val incoming = corpus.select(
        (col("doc_id") + 1000000).as("doc_id"),
        when(col("doc_id") % 2 === 0, col("text"))
          .otherwise(concat(col("text"), lit(" fresh"))).as("text"))
      Dedup.incrementalNew(corpus, incoming, "doc_id", "text")
    }),

    "dedup_incremental_near" -> ((s, dir) => {
      // cross-run NEAR-dup: yesterday's corpus is represented only by
      // its saved LSH band index; today's batch replays every doc with
      // even ids byte-identical (planted near-dups that MUST surface
      // at jaccard 1.0 against their source) and odd ids fully fresh
      // text (must NOT match). Organic matches (a copied doc also
      // near-dupping a DIFFERENT corpus doc) are hash-seed-dependent,
      // so they pin as a count band like dedup_minhash's
      val corpus = t(s, dir, "documents").select("doc_id", "text")
      val idx = java.nio.file.Files
        .createTempDirectory("graft_bandidx").toString + "/bands"
      Dedup.saveBandIndex(corpus, "doc_id", "text", idx)
      val incoming = corpus.select(
        (col("doc_id") + 1000000).as("doc_id"),
        when(col("doc_id") % 2 === 0, col("text"))
          .otherwise(concat(lit("entirely fresh document number "),
            col("doc_id"),
            lit(" with none of the original shingles present at all")))
          .as("text"))
      val hits = Dedup.incrementalNearDups(s, idx, corpus, incoming,
        "doc_id", "text", tau = 0.9).localCheckpoint(true)
      val organic = hits
        .filter(col("corpus_id") =!= col("in_id") - 1000000).count()
      val n = corpus.count()
      hits.filter(col("corpus_id") === col("in_id") - 1000000)
        .select((col("in_id") - 1000000).as("doc_id"),
          round(col("jaccard"), 4).as("jaccard"))
        .withColumn("organic_in_band", lit(organic <= n))
    }),

    "dedup_incremental_near_stream" -> ((s, dir) => withShufflePartitions(s, 8) {
      // CONTINUOUS near-dup ingestion: document drops stream in; each
      // micro-batch probes the growing band index for near-dups, then
      // appends its NEW documents' bands (and texts) so later batches
      // dedup against earlier ones. The cross-batch plant is the
      // point: batch 0 carries a FRESH doc, batch 1 its copy — the
      // copy can only be caught if batch 0's append really joined the
      // index. foreachBatch is at-least-once, so both the band append
      // and the hit sink run id-deduplicated (exactly-once effects).
      val idxDir = java.nio.file.Files.createTempDirectory("graft_nds")
      val drops = java.nio.file.Files.createTempDirectory("graft_nds_in")
      val ckpt = java.nio.file.Files.createTempDirectory("graft_nds_ck")
      Seq(idxDir, drops, ckpt).foreach(_.toFile.deleteOnExit())
      val idx = s"$idxDir/bands"; val texts = s"$idxDir/texts"
      val hitsDir = s"$idxDir/hits"
      val corpus = t(s, dir, "documents").select("doc_id", "text")
      Dedup.saveBandIndex(corpus, "doc_id", "text", idx)
      corpus.write.mode("overwrite").parquet(texts)
      val freshText = lit("synthetic streaming document alpha beta " +
        "gamma delta epsilon zeta eta theta iota kappa")
      // batch 0: copies of corpus docs 2,4,6 + the fresh doc;
      // batch 1: copy of corpus doc 8 + a COPY OF THE FRESH DOC
      val b0 = corpus.filter(col("doc_id").isin(2L, 4L, 6L))
        .select((col("doc_id") + 1000000).as("doc_id"), col("text"))
        .unionByName(s.range(1).select(lit(2000001L).as("doc_id"),
          freshText.as("text")))
      val b1 = corpus.filter(col("doc_id") === 8L)
        .select((col("doc_id") + 1000000).as("doc_id"), col("text"))
        .unionByName(s.range(1).select(lit(2000002L).as("doc_id"),
          freshText.as("text")))
      writeOrderedDrops(Seq(b0, b1), drops)
      val stream = s.readStream
        .schema(org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("doc_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("text",
            org.apache.spark.sql.types.StringType))))
        .option("maxFilesPerTrigger", 1)
        .parquet(drops.toString)
      val q = stream.writeStream
        .option("checkpointLocation", ckpt.toString)
        .foreachBatch { (batch: DataFrame, _: Long) =>
          val corpusText = s.read.parquet(texts)
          val hits = Dedup.incrementalNearDups(s, idx, corpusText,
            batch, "doc_id", "text", tau = 0.9).localCheckpoint(true)
          // idempotent hit sink: drop re-delivered in_ids
          val prior =
            try s.read.parquet(hitsDir).select(col("in_id")).distinct()
            catch { case _: Exception => null }
          val freshHits =
            if (prior == null) hits
            else hits.join(prior, Seq("in_id"), "left_anti")
          freshHits.write.mode("append").parquet(hitsDir)
          // grow the index + text store with the batch's NEW docs
          val newDocs = batch.join(
            hits.select(col("in_id").as("doc_id")).distinct(),
            Seq("doc_id"), "left_anti")
          Dedup.appendToBandIndex(s, idx, newDocs, "doc_id", "text",
            dedupAgainstExisting = true)
          newDocs.join(corpusText.select(col("doc_id")).distinct(),
            Seq("doc_id"), "left_anti")
            .write.mode("append").parquet(texts)
          ()
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val allHits = s.read.parquet(hitsDir).localCheckpoint(true)
      val planted = col("corpus_id") === col("in_id") - 1000000 ||
        (col("in_id") === 2000002L && col("corpus_id") === 2000001L)
      val organic = allHits.filter(!planted).count()
      allHits.filter(planted)
        .select(col("in_id"), col("corpus_id"),
          round(col("jaccard"), 4).as("jaccard"))
        .withColumn("organic_in_band", lit(organic <= 20L))
    }),

    "corpus_stream_ingest" -> ((s, dir) => withShufflePartitions(s, 8) {
      // CONTINUOUS quality-gated intake — the production corpus-build
      // loop: document drops stream in; each micro-batch (1) drops
      // quality failures via the Gopher ruleset, (2) drops exact dups
      // against the corpus AND everything previously accepted
      // (Bloom prefilter + anti-join, O(batch)), (3) appends survivors
      // to the kept sink. The cross-batch plant: batch 0 ships odd
      // docs with ' fresh' appended (new -> kept iff quality); batch 1
      // re-ships the SAME texts under new ids — they can only be
      // rejected if batch 0's append really landed. Either way a b1
      // odd re-drop dies deterministically: quality-passed in b0 ->
      // dup here; quality-failed in b0 -> fails the same gate here.
      // foreachBatch is at-least-once; the kept append is the ONLY
      // effect and is id-deduplicated, and the dedup "seen" set is
      // DERIVED from that sink (static corpus hashes + hashes of the
      // kept store) — a second seen-store append used to leave a
      // replay window where the dedup source lagged the accept sink.
      // drops + corpus hashes are pure functions of the corpus: staged
      // once per content (see ingestFixture); only the kept sink and
      // the stream checkpoint are per-run state
      val (drops, hashDir) = ingestFixture(s, dir)
      val base = java.nio.file.Files.createTempDirectory("graft_ingest")
      base.toFile.deleteOnExit()
      val keptDir = s"$base/kept"
      val ckpt = s"$base/ck"
      val stream = s.readStream
        .schema(org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("doc_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("text",
            org.apache.spark.sql.types.StringType))))
        .option("maxFilesPerTrigger", 1)
        .parquet(drops)
      val q = stream.writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch { (rawBatch: DataFrame, _: Long) =>
          // a drop arrives as ONE file = ONE partition; fan the batch
          // out before the row-local gate or it runs single-threaded
          // (measured 6x on the whole cell). The exchange moves only
          // the micro-batch, never the corpus.
          // the batch subtree feeds BOTH sides of the quality join and
          // the dedup probe — localCheckpoint materializes it once
          // (removing it re-evaluated the scan+gopher per consumer:
          // measured 4.0s vs 3.5s on the cell)
          val batch = rawBatch
            .repartition(s.sparkContext.defaultParallelism)
            .localCheckpoint(true)
          val passed = batch.join(
            TextAnalysis.gopherFilter(batch, "doc_id", "text")
              .filter(col("keep")).select("doc_id"), "doc_id")
          // seen = static corpus hashes + hashes of everything this
          // sink has already accepted: the kept store at any replay
          // point is BY CONSTRUCTION the complete accept history, so
          // the dedup source can never lag the accept sink. The kept
          // store is read lazily — ONE localCheckpoint on `fresh`
          // severs the whole plan from keptDir before the append.
          val keptSoFar =
            try {
              val k = s.read.parquet(keptDir)
              k.schema // force footer read: missing dir throws HERE
              k
            } catch { case _: Exception => null }
          val seenHashes = {
            val hs = s.read.parquet(hashDir)
            if (keptSoFar == null) hs
            else hs.unionByName(keptSoFar
              .select(md5(col("text")).as("content_hash")))
          }
          val kept = passed.join(
            graft.pipeline.Dedup.incrementalNewByHash(seenHashes, passed,
              "doc_id", "text").select("doc_id"), "doc_id")
          val fresh = (
            if (keptSoFar == null) kept
            else kept.join(keptSoFar.select(col("doc_id")).distinct(),
              Seq("doc_id"), "left_anti")
          ).localCheckpoint(true) // sever from keptDir before appending
          fresh.write.mode("append").parquet(keptDir)
          ()
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.read.parquet(keptDir).select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"))
    }),

    "pipeline_redact" -> ((s, dir) => {
      // PII scrub before a corpus ships: plant deterministic emails /
      // phone numbers into the documents (same arithmetic on the
      // oracle side), count them, and hash the redacted text — one
      // per-row codegen'd regex pass, no shuffle
      val d = t(s, dir, "documents")
      val aug = d.select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 3 === 0,
            concat(lit(" contact user"), col("doc_id").cast("string"),
              lit("@example.com now")))
          .when(col("doc_id") % 5 === 0,
            concat(lit(" call +1 415 555-00"), col("doc_id").cast("string"),
              lit(" today")))
          .otherwise(lit(""))).as("text"))
      aug.select(col("doc_id"),
        TextAnalysis.emailCount(col("text")).as("n_emails"),
        TextAnalysis.phoneCount(col("text")).as("n_phones"),
        md5(TextAnalysis.redactPii(col("text"))).as("redacted_md5"))
    }),

    // ---------------------------------- LLM pipeline: text analysis
    "text_stats" -> ((s, dir) =>
      TextAnalysis.stats(t(s, dir, "documents"), "doc_id", "text")),

    "lang_id" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        TextAnalysis.langId(col("text")).as("lang_pred"))),

    "quality_score" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        TextAnalysis.qualityScore(col("text")).as("quality"))),

    "text_tfidf" -> ((s, dir) =>
      // corpus-statistics scoring: tf on (doc, term), df on term,
      // broadcast scalar N, doc rollup — the classic salience signal
      TextAnalysis.tfidf(t(s, dir, "documents"), "doc_id", "text")),

    "text_lm_score" -> ((s, dir) =>
      // perplexity-proxy: mean Laplace bigram logprob vs broadcast
      // top-K corpus gram tables (deterministic count/gram cut)
      TextAnalysis.lmScore(t(s, dir, "documents"), "doc_id", "text",
        minCount = 2, topK = 1000)),

    "fingerprint" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        TextAnalysis.fingerprint(col("text")).as("fp"))),

    // ------------------------------- LLM pipeline: similarity search
    "simsearch_brute" -> ((s, dir) =>
      Similarity.bruteTopK(t(s, dir, "embeddings"), "vec_id", "embedding",
        queryIds = Seq(1L, 2L, 3L), k = 5)),

    // The three approximate ANN methods are seed-deterministic but not
    // SQL-expressible, so each ORACLE pins (a) the exact top-1 neighbor
    // per planted probe against DuckDB's list_cosine_similarity (the
    // source vector at cosine 1.0) and (b) that the ANN top-10 surfaces
    // it — a broken index flips found_planted and fails the hash
    // (sketch_quantile's in-band pattern; see plantedEmbeddings).
    "simsearch_lsh" -> ((s, dir) =>
      annPlanted(s, dir,
        Similarity.lshTopK(plantedEmbeddings(s, dir), "vec_id", "embedding",
          queryIds = Seq(9001L, 9002L, 9003L), k = 10))),

    "simsearch_ivf" -> ((s, dir) => {
      // fit-once index, queried by TWO batches — the k-means fit and
      // assignment happen a single time; each batch only pays the
      // probed-cell scan + rerank (the 100 TB usage pattern)
      val index = Similarity.buildIvfIndex(
        plantedEmbeddings(s, dir), "vec_id", "embedding", nClusters = 16)
      val batch1 = Similarity.ivfTopK(index, Seq(9001L, 9002L, 9003L), 10,
        nProbe = 4)
      val batch2 = Similarity.ivfTopK(index, Seq(4L, 5L), 10, nProbe = 4)
      annPlanted(s, dir,
        batch1.unionByName(batch2).filter(col("query_id") >= 9001L))
    }),

    "simsearch_ivf_persisted" -> ((s, dir) => {
      // the index as a STORED TABLE: fit once, save partitioned by
      // cell, load lazily, query — the probed-cell IN-filter prunes at
      // partition-discovery time so only nProbe/nClusters of the files
      // are read (plan-asserted in SimilaritySpec). Same planted-probe
      // oracle as the in-memory variant.
      val tmp = java.nio.file.Files.createTempDirectory("graft_ivf")
      tmp.toFile.deleteOnExit()
      val fitted = Similarity.buildIvfIndex(
        plantedEmbeddings(s, dir), "vec_id", "embedding", nClusters = 16)
      Similarity.saveIvfIndex(fitted, tmp.toString)
      fitted.unpersist()
      val index = Similarity.loadIvfIndex(s, tmp.toString)
      annPlanted(s, dir,
        Similarity.ivfTopK(index, Seq(9001L, 9002L, 9003L), 10, nProbe = 4))
    }),

    "simsearch_ivf_append" -> ((s, dir) => {
      // INCREMENTAL index update: fit + save on the BASE corpus only,
      // then append the planted probes against the frozen centroids
      // (one assignment pass, appended cell partitions — existing
      // files untouched). The reloaded index must answer the standard
      // planted-probe oracle: each appended probe's source shares its
      // cell deterministically (same centroids, identical vector), so
      // found_planted can only be true if the appended rows really
      // joined the probed cells.
      val tmp = java.nio.file.Files.createTempDirectory("graft_ivfa")
      tmp.toFile.deleteOnExit()
      val base = t(s, dir, "embeddings").select("vec_id", "embedding")
      val fitted = Similarity.buildIvfIndex(base, "vec_id", "embedding",
        nClusters = 16)
      Similarity.saveIvfIndex(fitted, tmp.toString)
      fitted.unpersist()
      val planted = base.filter(col("vec_id").isin(1L, 2L, 3L))
        .select((col("vec_id") + 9000).as("vec_id"), col("embedding"))
      val appended = Similarity.appendToIvfIndex(s, tmp.toString,
        planted, "vec_id", "embedding")
      require(appended == 3, s"appended $appended of 3 rows")
      val index = Similarity.loadIvfIndex(s, tmp.toString)
      annPlanted(s, dir,
        Similarity.ivfTopK(index, Seq(9001L, 9002L, 9003L), 10, nProbe = 4))
    }),

    "simsearch_ivf_stream" -> ((s, dir) => withShufflePartitions(s, 8) {
      // CONTINUOUS ANN INGESTION: embedding drops stream in and each
      // micro-batch appends to the persisted index via foreachBatch +
      // appendToIvfIndex. foreachBatch is AT-LEAST-ONCE (a crash
      // between the append and the checkpoint commit re-runs the
      // batch), so the append runs with dedupAgainstExisting = true —
      // the id anti-join makes re-delivery a no-op and the pipeline's
      // EFFECTS exactly-once. The fit sees the BASE corpus only; the
      // planted probes arrive exclusively through the stream, so the
      // standard planted-probe oracle passes only if the streamed
      // appends really joined the index. The composed production
      // story: a daily embedding feed kept queryable without ever
      // refitting or rewriting the index.
      val tmp = java.nio.file.Files.createTempDirectory("graft_ivfs")
      val drops = java.nio.file.Files.createTempDirectory("graft_ivfs_in")
      val ckpt = java.nio.file.Files.createTempDirectory("graft_ivfs_ck")
      Seq(tmp, drops, ckpt).foreach(_.toFile.deleteOnExit())
      val base = t(s, dir, "embeddings").select("vec_id", "embedding")
      val fitted = Similarity.buildIvfIndex(base, "vec_id", "embedding",
        nClusters = 16)
      Similarity.saveIvfIndex(fitted, tmp.toString)
      fitted.unpersist()
      // stage the planted probes as TWO drops (two micro-batches) —
      // flat files: the file source does not recurse into the
      // directories a parquet sink writes
      Seq(Seq(1L), Seq(2L, 3L)).zipWithIndex.foreach { case (ids, i) =>
        writeSinglePartParquet(
          base.filter(col("vec_id").isin(ids: _*))
            .select((col("vec_id") + 9000).as("vec_id"), col("embedding")),
          drops.resolve(s"drop_$i.parquet"))
      }
      val vecType = base.schema("embedding").dataType
      val stream = s.readStream
        .schema(org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("vec_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("embedding", vecType))))
        .option("maxFilesPerTrigger", 1)
        .parquet(drops.toString)
      val q = stream.writeStream
        .option("checkpointLocation", ckpt.toString)
        .foreachBatch { (batch: DataFrame, _: Long) =>
          Similarity.appendToIvfIndex(s, tmp.toString, batch,
            "vec_id", "embedding", dedupAgainstExisting = true)
          ()
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val index = Similarity.loadIvfIndex(s, tmp.toString)
      annPlanted(s, dir,
        Similarity.ivfTopK(index, Seq(9001L, 9002L, 9003L), 10, nProbe = 4))
    }),

    "simsearch_ivfpq" -> ((s, dir) => {
      // IVF-PQ: the corpus index is (id, cell, m byte-codes) — 32×
      // smaller than raw vectors. ADC scores candidates with table
      // lookups; only the top k·refine survivors touch raw vectors for
      // the exact rerank. Same fit-once/query-many pattern as IVF.
      val index = Similarity.buildPqIndex(
        plantedEmbeddings(s, dir), "vec_id", "embedding",
        nClusters = 16, m = 8, nCodes = 16)
      val batch1 = Similarity.pqTopK(index, Seq(9001L, 9002L, 9003L), 10,
        nProbe = 4)
      val batch2 = Similarity.pqTopK(index, Seq(4L, 5L), 10, nProbe = 4)
      annPlanted(s, dir,
        batch1.unionByName(batch2).filter(col("query_id") >= 9001L))
    }),

    "embed_decontaminate" -> ((s, dir) => {
      // semantic decontamination: flag corpus vectors whose max cosine
      // vs a FIXED-SIZE benchmark (every 100th vec_id below 2000 — an
      // eval suite does not grow with the corpus; a %-of-corpus bench
      // made the 100x cell quadratic, VERDICT r15) reaches 0.3 — the
      // embedding-level complement of corpus_decontaminate's n-gram
      // overlap. The benchmark folds into ONE codegen'd ArgmaxDot
      // constant table: no join, no shuffle, no broadcast exchange
      val e = t(s, dir, "embeddings").select("vec_id", "embedding")
      val bench = e.filter(col("vec_id") % 100 === 0 &&
        col("vec_id") < 2000)
      graft.pipeline.Similarity.semanticDecontaminate(
          e, bench, "vec_id", "embedding", tau = 0.3)
        .select(col("id").as("vec_id"), col("max_cos"))
    }),

    "embed_hard_negatives" -> ((s, dir) =>
      // contrastive-training hard negatives: top-5 most-similar
      // corpus vectors with a DIFFERENT label per query — the
      // bruteTopK shape with the label predicate folded into the
      // broadcast join
      graft.pipeline.Similarity.hardNegatives(
        t(s, dir, "embeddings"), "vec_id", "embedding", "label",
        queryIds = Seq(1L, 2L, 3L, 4L), k = 5)),

    "embed_hard_negatives_ivf" -> ((s, dir) => {
      // IVF-backed hard negatives: a same-vector different-label
      // plant (vec_id+8000, label+100) lands in the SAME k-means cell
      // as its query by construction, so the probed-cell search MUST
      // return it at rank 1 / cosine 1.0 — while the query's
      // same-label exact copy is filtered out. DuckDB's brute
      // different-label top-1 is the oracle.
      val e = t(s, dir, "embeddings")
        .select("vec_id", "embedding", "label")
      val plant = e.filter(col("vec_id").isin(1L, 2L, 3L))
      val aug = e
        .unionByName(plant.select((col("vec_id") + 9000).as("vec_id"),
          col("embedding"), col("label")))
        .unionByName(plant.select((col("vec_id") + 8000).as("vec_id"),
          col("embedding"), (col("label") + 100).as("label")))
      val index = Similarity.buildIvfIndex(
        aug.select("vec_id", "embedding"), "vec_id", "embedding",
        nClusters = 16)
      Similarity.ivfHardNegatives(index,
          aug.select("vec_id", "label"), "vec_id", "label",
          Seq(9001L, 9002L, 9003L), k = 10, nProbe = 4)
        .filter(col("rank") === 1)
        .select(col("query_id"), col("nn_id").as("top1"),
          round(col("score"), 4).as("score"))
    }),

    "embed_rproj" -> ((s, dir) =>
      // sign random projection 64 -> 8 dims: the matrix is an
      // arithmetic identity (quadratic-mixer signs re-derived
      // per-element in codegen), nothing stored or broadcast; zero
      // exchanges, long-format output for engine-exact comparison
      graft.pipeline.Similarity.randomProject(
        t(s, dir, "embeddings"), "vec_id", "embedding", outDim = 8)),

    "embed_semdedup" -> ((s, dir) => {
      // SemDeDup (cluster-bucketed semantic dedup): double the corpus
      // so every vector has a planted exact duplicate — identical
      // vectors land in the SAME k-means cell by construction, so all
      // planted pairs MUST surface at cosine 1.0 (deterministic,
      // unlike banded LSH); organic >= tau pairs depend on the fitted
      // cells and pin as a scale-relative band
      val e = t(s, dir, "embeddings").select("vec_id", "embedding")
      val doubled = e.unionByName(e.select(
        (col("vec_id") + 1000000).as("vec_id"), col("embedding")))
      // nClusters SCALES WITH THE CORPUS (cells of ~1.5k docs), as
      // real SemDeDup does — the banded escape's collision noise is
      // |cell|²/2^bandBits, still quadratic in N if k is pinned:
      // measured 487 s at the 100x replica with k=64 (6250-row
      // cells) vs 60 s at k=n/1500. The floor keeps k=64 at every
      // driver sf (4k/40k doubled rows), so the graded oracle rows
      // are bit-identical to the fixed-k form there. Planted
      // detection is k-invariant; maxCellRows=40 still trips the
      // banded skew escape for above-average cells at every sf, so
      // the row exercises the hot path AND the cold join plus union.
      // Planted exact pairs stay deterministic under banding
      // (identical vectors share every band hash) and the organic
      // >=0.999 band can only shrink, so the oracle is path-invariant.
      // one count() job serves both the k rule and the organic ceiling
      val n = e.count()
      val k = math.max(64L, math.min(512L, n * 2 / 1500)).toInt
      val pairs = Similarity.semanticDedup(doubled, "vec_id", "embedding",
        tau = 0.999, nClusters = k, maxCellRows = 40)
        .localCheckpoint(true)
      val organic = pairs.filter(col("dup_id") =!= col("keep_id") + 1000000)
        .count()
      // the embeddings corpus carries NO organic pair at cosine >=
      // 0.999 (DuckDB-verified over the full cross join at sf0.01 and
      // sf0.1), so the band floor is zero; the ceiling is
      // scale-relative (like minhash/simhash) so a handful of organic
      // near-identical vectors at an unverified sf cannot flip the
      // suite hash, while an in-cell false-positive blowup (>> n/100)
      // still fails loudly
      pairs.filter(col("dup_id") === col("keep_id") + 1000000)
        .select(col("keep_id"), col("score"))
        .withColumn("organic_in_band",
          lit(organic <= math.max(2L, n / 100)))
    }),

    "embed_neardup" -> ((s, dir) => {
      // double the corpus so exact-duplicate vectors exist; LSH buckets
      // generate candidates, exact cosine >= tau verifies
      val e = t(s, dir, "embeddings").select("vec_id", "embedding")
      val doubled = e.unionByName(e.select(
        (col("vec_id") + 1000000).as("vec_id"), col("embedding")))
      Similarity.embeddingDups(doubled, "vec_id", "embedding", tau = 0.999)
    }),

    // ------------------------------------------------ events / time
    "events_hourly" -> ((s, dir) =>
      events(s, dir)
        .groupBy(date_format(col("ts"), "yyyy-MM-dd HH").as("hr"),
          col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sv"))),

    "events_retention" -> ((s, dir) => {
      // cohort retention: users bucketed by first-seen day, counted at
      // each day offset they return — first-seen is ONE map-side-
      // combined aggregate, activity days ONE distinct, joined on the
      // user key (both data-scale at 100 TB: shuffle join, AQE skew)
      val days = events(s, dir)
        .select(col("user_id"), to_date(col("ts")).as("day"))
        .distinct()
      val first = days.groupBy("user_id").agg(min("day").as("cohort"))
      days.join(first, "user_id")
        .groupBy(date_format(col("cohort"), "yyyy-MM-dd").as("cohort"),
          datediff(col("day"), col("cohort")).cast("long").as("offset"))
        .agg(count(lit(1)).as("n_users"))
    }),

    "timeseries_resample" -> ((s, dir) =>
      // irregular events onto a contiguous hourly grid per user with
      // linear gap interpolation — grid explodes row-locally from one
      // min/max aggregate, both fill windows share one exchange.
      // min-collapse + explicit floor half-up: every upstream double
      // is bit-identical cross-engine, and round() itself diverges on
      // .xxxx5 (Spark rounds the shortest decimal repr, DuckDB the
      // binary value — hit in practice on interpolated points)
      graft.operators.TimeSeries.resampleHourly(events(s, dir),
          "user_id", "ts", "value", collapse = "min")
        .select(col("user_id"),
          date_format(col("hour"), "yyyy-MM-dd HH").as("hour"),
          (floor(col("value") * 10000 + 0.5).cast("long") / 10000.0)
            .as("value"),
          col("interpolated"))),

    "events_anomaly" -> ((s, dir) =>
      // rolling z-score outliers vs the 20 preceding same-user
      // events — the whole test in integer cents, no FP tolerance
      graft.operators.TimeSeries.rollingAnomalies(events(s, dir),
        "user_id", "ts", "event_id", "value")),

    "timeseries_trend" -> ((s, dir) => {
      // per-user OLS trend in exact integer sums (engine-identical
      // under any aggregation order); only the final divisions touch
      // floating point, and the half-up rounding is the explicit
      // floor form both engines compute identically
      def r6(c: org.apache.spark.sql.Column) =
        floor(c * 1000000 + 0.5).cast("long") / 1000000.0
      graft.operators.TimeSeries.linearTrend(events(s, dir),
          "user_id", "ts", "value")
        .select(col("user_id"), col("n"), r6(col("slope")).as("slope"),
          r6(col("intercept")).as("intercept"))
    }),

    "events_funnel" -> ((s, dir) => {
      // ordered funnel click -> view -> purchase: stage hits derive
      // from running windows over ONE per-user sort (two Window ops
      // share the exchange); "after" is row order, so an equal-ts
      // pair resolves by event_id on both engines
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(org.apache.spark.sql.expressions.Window
          .unboundedPreceding, -1)
      val ev = events(s, dir)
      val o = ev.withColumn("c1",
        min(when(col("event_type") === "click", col("ts"))).over(w))
      val v = o.withColumn("v1",
        min(when(col("event_type") === "view" && col("c1").isNotNull,
          col("ts"))).over(w))
      // ONE pass for all three stage counts (a 3-way Expand beats
      // re-running the window pipeline per stage), reshaped to rows
      val row = v.agg(
        count_distinct(when(col("event_type") === "click",
          col("user_id"))).as("s1"),
        count_distinct(when(col("event_type") === "view" &&
          col("c1").isNotNull, col("user_id"))).as("s2"),
        count_distinct(when(col("event_type") === "purchase" &&
          col("v1").isNotNull, col("user_id"))).as("s3")).head()
      import s.implicits._
      Seq(("1_click", row.getLong(0)),
        ("2_view_after_click", row.getLong(1)),
        ("3_purchase_after_view", row.getLong(2)))
        .toDF("stage", "n_users")
    }),

    "graph_pagerank" -> ((s, dir) => {
      // damped PageRank over a deterministic 2-out-degree link graph
      // on the documents ids: 5 synchronous power iterations; the
      // oracle unrolls the same iterations in SQL. Round 8 decimals:
      // cross-engine sum association differs at ~1e-15.
      val docs = t(s, dir, "documents").select(col("doc_id"))
      val nDocs = docs.count()
      val edges = docs.select(col("doc_id").as("src"),
          (pmod(col("doc_id") * 13 + 7, lit(nDocs)) + 1).as("dst"))
        .unionByName(docs.select(col("doc_id").as("src"),
          (pmod(col("doc_id") * 29 + 3, lit(nDocs)) + 1).as("dst")))
      graft.operators.Graph.pageRank(edges, docs, iters = 5)
        .select(col("id").as("doc_id"), round(col("rank"), 8).as("rank"))
    }),

    "events_stream_hourly" -> ((s, dir) =>
      // noDataBatch = false (same argument as session_window): in
      // COMPLETE mode the trailing no-data batch re-emits the entire
      // identical result table (the watermark finalizes nothing and
      // AvailableNow delivers all data in the data batches), so its
      // only effect is one more full state scan + memory-sink rewrite
      // plus a round of checkpoint commits.
      withStreamTuning(s, 8, noDataBatch = false) {
      // the STREAMING path inside the correctness gate: file-source
      // readStream over the events drop dir -> watermark + tumbling
      // window -> memory sink, drained with Trigger.AvailableNow.
      // Complete mode's final table equals the batch aggregation, so
      // the SAME hourly oracle hash-verifies the streaming machinery.
      val ev = stagedEventsStream(s, dir)
      val agg = graft.streaming.EventStream.hourlyAggregates(ev)
      val q = agg.writeStream.format("memory")
        .queryName("events_stream_hourly")
        .outputMode("complete")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.table("events_stream_hourly")
        .select(date_format(col("window_start"), "yyyy-MM-dd HH").as("hr"),
          col("event_type"), col("n"), round(col("sv"), 2).as("sv"))
    }),

    "sample_stratified" -> ((s, dir) => {
      // exactly-k-per-stratum deterministic sample: rank rows inside
      // each stratum by a multiplicative hash of the id (identical
      // arithmetic on the oracle side) and keep the first 50. One
      // shuffle on the stratum key; no driver-side sampling state.
      val h = pmod(pmod(col("event_id"), lit(1000000007L)) * 2654435761L,
        lit(1000000007L))
      val w = Window.partitionBy(col("event_type")).orderBy(h, col("event_id"))
      events(s, dir)
        .select(col("event_id"), col("event_type"),
          row_number().over(w).cast("long").as("rk"))
        .filter(col("rk") <= 50)
    }),

    "events_sessions" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      events(s, dir)
        .withColumn("gap",
          unix_millis(col("ts")) - lag(unix_millis(col("ts")), 1).over(w))
        .groupBy(col("user_id"))
        .agg((lit(1) + sum(when(col("gap") > 1800000L, 1).otherwise(0)))
          .cast("long").as("n_sessions"))
    }),

    "events_stream_sessions" -> ((s, dir) => withShufflePartitions(s, 8) {
      // the STATEFUL streaming path inside the correctness gate:
      // mapGroupsWithState sessionization over the file-source stream,
      // update-mode memory sink drained with AvailableNow. The session
      // counter is monotone per user, so max(updates) = the final
      // count and the BATCH gap-count oracle verifies the custom state
      // machine end to end.
      val ev = stagedEventsStream(s, dir)
      val sess = graft.streaming.EventStream.sessionize(s, ev)
      val q = sess.writeStream.format("memory")
        .queryName("events_stream_sessions").outputMode("update")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.table("events_stream_sessions")
        .groupBy(col("userId").cast("long").as("user_id"))
        .agg(max(col("sessions")).cast("long").as("n_sessions"))
    }),

    "events_stream_dedup" -> ((s, dir) =>
      // noDataBatch = false (same argument as session_window): in
      // COMPLETE mode the trailing no-data batch re-emits the entire
      // identical result table (the watermark finalizes nothing and
      // AvailableNow delivers all data in the data batches), so its
      // only effect is one more full state scan + memory-sink rewrite
      // plus a round of checkpoint commits.
      withStreamTuning(s, 8, noDataBatch = false) {
      // streaming EXACT dedup inside the correctness gate: the stream
      // is fed the SAME events file twice (two drops), so every event
      // arrives twice; dropDuplicates holds one state entry per
      // event_id and emits only the first arrival (append mode). The
      // batch aggregation over the sink then hash-matches the
      // single-corpus oracle — double-delivery fully cancelled.
      // watermarkDelay = None: this row pins the UNBOUNDED backfill
      // form (catch re-delivery no matter how late); the bounded
      // default is exercised by events_stream_dedup_wm
      val deduped = graft.streaming.EventStream.dedupEvents(
        stagedEventsStream(s, dir, copies = 2), watermarkDelay = None)
      // aggregate INSIDE the stream (dedup state -> agg state): the
      // complete-mode sink then holds one row per event type instead
      // of every deduped event
      val agg = deduped.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sv"))
      val q = agg.writeStream.format("memory")
        .queryName("events_stream_dedup").outputMode("complete")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.table("events_stream_dedup")
    }),

    "events_stream_join" -> ((s, dir) => withStreamTuning(s, 4,
        noDataBatch = false) {
      // STREAM-STREAM event-time interval join inside the correctness
      // gate: clicks join same-user views from the trailing 24 h. Both
      // sides are watermarked and the join carries the time bound, so
      // state stays bounded; inner-join emission is exactly-once per
      // match independent of batch boundaries, so the AvailableNow run
      // hash-matches the BATCH join oracle.
      // 4 state partitions + no trailing empty batch (inner join: all
      // matches emit in the processing batch; r16 #6): the join's 4
      // state stores commit 16 sync'd delta files per batch instead of
      // 32, and one whole commit round disappears.
      val ev = stagedEventsStream(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("event_id").as("view_id"), col("user_id"), col("ts"))
      val joined = graft.streaming.EventStream.intervalJoin(
        clicks, views, windowMillis = 86400000L)
        .select(col("l.event_id").as("click_id"), col("r.view_id"),
          col("l.user_id").as("user_id"))
      val q = joined.writeStream.format("memory")
        .queryName("events_stream_join").outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.table("events_stream_join")
    }),

    "pipeline_corpus" -> ((s, dir) => {
      // END-TO-END training-corpus preparation, the composition a 100 TB
      // data pipeline actually runs: per-doc quality gate + language
      // routing (pure codegen'd row expressions — no shuffle), exact
      // dedup keeping the lowest doc_id per content hash (one shuffle on
      // md5(text)), then a deterministic per-language budget sample by
      // multiplicative-hash rank (one shuffle on lang). Every stage is
      // oracle-verified in one hash via the composed DuckDB SQL.
      val scored = TextAnalysis.scoreDocuments(
        t(s, dir, "documents"), "doc_id", "text")
      val gated = scored
        .filter(col("quality") > 0.5501 && col("lang") =!= "und")
      val deduped = gated
        .withColumn("rn", row_number().over(
          Window.partitionBy(md5(col("text"))).orderBy(col("doc_id"))))
        .filter(col("rn") === 1)
      val h = pmod(pmod(col("doc_id"), lit(1000000007L)) * 2654435761L,
        lit(1000000007L))
      val ws = Window.partitionBy(col("lang")).orderBy(h, col("doc_id"))
      deduped.withColumn("rk", row_number().over(ws).cast("long"))
        .filter(col("rk") <= 100)
        .select(col("doc_id"), col("lang"), col("quality"),
          col("n_tokens"), col("rk"))
    }),

    "corpus_repetition" -> ((s, dir) =>
      // Gopher-style repetition quality gate: distinct-token ratio,
      // duplicated-2-gram fraction, top-token share — all per-row
      // in-cell array arithmetic, zero shuffle
      CorpusOps.repetitionStats(t(s, dir, "documents"), "doc_id", "text")),

    "corpus_decontaminate" -> ((s, dir) => {
      // benchmark decontamination: the eval set is the first 8 tokens
      // of every 40th doc (so overlaps provably exist); a doc is
      // contaminated when it shares any word-5-gram. The benchmark
      // gram set broadcasts; the corpus side never shuffles raw text.
      val d = t(s, dir, "documents")
      val bench = d.filter(col("doc_id") % 40 === 0)
        .select(concat_ws(" ",
          slice(split(lower(trim(col("text"))), "\\s+"), 1, 8)).as("text"))
      CorpusOps.decontaminate(d, bench, "doc_id", "text", n = 5)
    }),

    "corpus_domains" -> ((s, dir) => {
      // per-domain corpus accounting + blocklist: plant deterministic
      // URLs (same arithmetic oracle-side), extract hostnames, drop
      // blocked.example.com, count docs/mentions per domain
      val aug = t(s, dir, "documents").select(col("doc_id"),
        concat(col("text"),
          lit(" see https://host"), (col("doc_id") % 7).cast("string"),
          lit(".example.org/p"), col("doc_id").cast("string"),
          when(col("doc_id") % 4 === 0,
            lit(" and http://blocked.example.com/x")).otherwise(lit(""))
        ).as("text"))
      CorpusOps.domainStats(aug, "doc_id", "text",
        blocklist = Seq("blocked.example.com"))
    }),

    "corpus_span_dedup" -> ((s, dir) => {
      // duplicated-window pass (Lee et al. span dedup): every 10-token
      // sliding window hashed, windows occurring >1x globally counted
      // per doc. Every third doc is replayed with an offset id, so its
      // windows are provably duplicated (dup_frac 1.0); the rest
      // mostly 0. One shuffle on window hash, doc-id rollup after.
      val d = t(s, dir, "documents").select("doc_id", "text")
      val doubled = d.unionByName(d.filter(col("doc_id") % 3 === 0)
        .select((col("doc_id") + 1000000).as("doc_id"), col("text")))
      CorpusOps.spanDedup(doubled, "doc_id", "text", w = 10)
    }),

    "embed_centroids" -> ((s, dir) =>
      // array-column aggregation at scale: posexplode -> two-phase
      // hash agg on (label, dim); no vector set ever collects
      graft.pipeline.Similarity.centroids(
        t(s, dir, "embeddings"), "label", "embedding")
        .select(col("label"), col("dim").cast("long").as("dim"), col("c"))),

    "pipeline_corpus2" -> ((s, dir) => {
      // the FULL modern corpus-prep composition in one verified hash:
      // repetition gate (Gopher dup-2gram < 0.2) -> benchmark
      // decontamination (drop docs sharing any 5-gram with the eval
      // set) -> temperature mixture sample (budget 150 by lang) ->
      // token-budget shard assignment. Row-local gates, one broadcast
      // anti-join, one broadcast rate filter, two prefix-sum scans.
      val d = t(s, dir, "documents")
      // the repetition gate is ROW-LOCAL (only the dup-2gram stat is
      // needed) so the scan filters in place instead of joining the
      // full stats frame back. The gated corpus is MATERIALIZED once
      // (localCheckpoint — the moral equivalent of the intermediate
      // write every production pipeline does between stages): five
      // downstream branches reuse the rows, and the large generated
      // gate expression compiles exactly once instead of per stage.
      val gated = d.filter(
          round(CorpusOps.dupNgramFrac(col("text"), 2), 4) < 0.2)
        .select("doc_id", "lang", "text").localCheckpoint(true)
      val bench = d.filter(col("doc_id") % 40 === 0)
        .select(concat_ws(" ",
          slice(split(lower(trim(col("text"))), "\\s+"), 1, 8)).as("text"))
      val hits = CorpusOps.decontaminate(gated, bench, "doc_id", "text")
      val clean = gated.join(broadcast(hits), Seq("doc_id"), "left_anti")
      val sampled = CorpusOps.mixtureSample(clean, "doc_id", "lang",
        budget = 150L).localCheckpoint(true)
      // token weights from the CHECKPOINTED gated rows (sampled is a
      // subset of gated) — not a second scan of the raw corpus
      val weighted = sampled.join(gated.select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens")), "doc_id")
      CorpusOps.packShards(weighted, "doc_id", "n_tokens", budget = 500L,
          numPartitions = 8)
        .join(broadcast(sampled), "doc_id")
        .select(col("doc_id"), col("lang"), col("shard_id"))
    }),

    "pipeline_corpus4" -> ((s, dir) => {
      // the round-12 prep line composed end-to-end: planted
      // boilerplate -> cross-doc line strip -> newline flatten ->
      // overlapping chunking -> exact chunk dedup with deterministic
      // (doc_id, chunk_id) canonical election. One count shuffle, an
      // AQE-sized anti-join, one reassembly, then row-local chunking
      // and ONE dedup aggregate — the whole line never windows or
      // sorts the corpus globally
      val d = t(s, dir, "documents").select(col("doc_id"),
        concat(col("text"), lit("\n"),
          when(pmod(col("doc_id"), lit(3)) === 0,
            lit("subscribe to our newsletter"))
            .otherwise(concat(lit("line "),
              col("doc_id").cast("string"))),
          lit("\nall rights reserved")).as("text"))
      val clean = CorpusOps
        .stripBoilerplateLines(d, "doc_id", "text", minDocs = 3)
        .withColumn("text", regexp_replace(col("text"), "\n", " "))
      val chunks = CorpusOps.chunkOverlap(clean, "doc_id", "text",
        chunk = 32, overlap = 8)
      chunks.groupBy(col("chunk_text"))
        .agg(min(struct(col("doc_id"), col("chunk_id"))).as("__w"),
          min(col("n_tokens")).as("n_tokens"),
          count(lit(1)).as("n_copies"))
        .select(col("__w.doc_id").as("doc_id"),
          col("__w.chunk_id").as("chunk_id"), col("n_tokens"),
          col("n_copies"))
    }),

    "pipeline_corpus3" -> ((s, dir) => {
      // v3 of the corpus composition — every r7 stage folded into ONE
      // verified hash: repetition gate -> span-level dedup gate (docs
      // with any globally-duplicated 10-token window drop) -> benchmark
      // decontamination -> temperature mixture -> 128-token sequence
      // packing, then the bigram LM (fit on the FINAL sampled corpus)
      // scores each packed doc. Row-local gates, two broadcast
      // anti-joins, one window-hash shuffle, the two-level prefix sum,
      // and broadcast gram tables — nothing all-pairs, nothing
      // driver-side.
      val d = t(s, dir, "documents")
      val gated = d.filter(
          round(CorpusOps.dupNgramFrac(col("text"), 2), 4) < 0.2)
        .select("doc_id", "lang", "text").localCheckpoint(true)
      val span = CorpusOps.spanDedup(gated, "doc_id", "text", w = 10)
      val spanClean = gated.join(
        broadcast(span.filter(col("n_dup_windows") > 0).select("doc_id")),
        Seq("doc_id"), "left_anti")
      val bench = d.filter(col("doc_id") % 40 === 0)
        .select(concat_ws(" ",
          slice(split(lower(trim(col("text"))), "\\s+"), 1, 8)).as("text"))
      val hits = CorpusOps.decontaminate(spanClean, bench, "doc_id", "text")
      val clean = spanClean.join(broadcast(hits), Seq("doc_id"), "left_anti")
      val sampled = CorpusOps.mixtureSample(clean, "doc_id", "lang",
          budget = 150L)
        .join(clean.select("doc_id", "text"), "doc_id")
        .localCheckpoint(true)
      val toks = sampled.select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"))
      val packed = CorpusOps.packSequences(toks, "doc_id", "n_tokens",
        seqLen = 128, numPartitions = 8)
      val lm = TextAnalysis.lmScore(sampled, "doc_id", "text",
        minCount = 2, topK = 1000)
      packed.join(lm.select(col("doc_id"), col("lm_score")),
          Seq("doc_id"), "left")
        .select(col("doc_id"), col("seq_id"), col("doc_from"),
          col("doc_to"), col("seq_off"),
          coalesce(col("lm_score"), lit(0.0)).as("lm"))
    }),

    "corpus_mixture" -> ((s, dir) =>
      // temperature-weighted mixture sample over the language groups:
      // sqrt-smoothed shares, integer-only thresholds, hash membership
      CorpusOps.mixtureSample(t(s, dir, "documents"), "doc_id", "lang",
        budget = 200L)),

    "corpus_shards" -> ((s, dir) => {
      // token-budget shard packing via the two-level distributed
      // prefix sum (no single-partition global window); shard =
      // floor(exclusive-prefix-tokens / 500)
      val d = t(s, dir, "documents").select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"))
      CorpusOps.packShards(d, "doc_id", "n_tokens", budget = 500L,
        numPartitions = 8)
    }),

    "corpus_pack_sequences" -> ((s, dir) => {
      // concat-then-chunk sequence packing into 128-token training
      // windows: one row per (doc, sequence) overlap with slice bounds
      val d = t(s, dir, "documents").select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"))
      CorpusOps.packSequences(d, "doc_id", "n_tokens", seqLen = 128,
        numPartitions = 8)
    }),

    "join_dpp" -> ((s, dir) => {
      // dynamic partition pruning, the 100 TB warehouse shape: fact
      // partitioned by ship month on disk, dim filtered at runtime —
      // the scan must read only the dim's months (plan carries a
      // dynamicpruning expression; asserted in PlanAuditSpec). The
      // partitioned copy is a cached fixture keyed by the source dir
      // (at scale the table simply IS stored partitioned); Bench
      // pre-builds it via fixturePrep so the timed cell measures the
      // pruned join, not the one-off rewrite.
      val fact = s.read.parquet(dppFixture(s, dir))
      val months = t(s, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT" &&
          col("o_orderdate") < lit("1996-01-01").cast("timestamp"))
        .select(date_format(col("o_orderdate"), "yyyy-MM").as("ship_month"))
        .distinct()
      fact.join(months, "ship_month")
        .groupBy(col("ship_month"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("l_quantity")), 2).as("sum_qty"))
    }),

    "group_topk_rows" -> ((s, dir) =>
      // whole-ROW top-k per group: bounded (value,id) election, then
      // one broadcast winners join re-reads payloads — the text
      // column is scanned, never shuffled
      graft.functions.GroupTopK.topkRows(
        t(s, dir, "documents"), "lang", "n_chars", "doc_id", 3)),

    "group_topk" -> ((s, dir) => {
      // bounded-buffer grouped top-k: partial aggregation caps each
      // (group x partition) at k pairs pre-shuffle — never the window
      // formulation's full per-group sort through the exchange
      val u = graft.functions.GroupTopK.topk(3)
      t(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(u(col("o_totalprice"), col("o_orderkey")).as("top"))
        .select(col("o_orderpriority"), posexplode(col("top")))
        .select(col("o_orderpriority"),
          (col("pos") + 1).cast("long").as("rk"),
          col("col._1").as("o_orderkey"),
          col("col._2").as("o_totalprice"))
    }),

    "quantile_exact" -> ((s, dir) =>
      // exact discrete quantiles by histogram refinement: per round one
      // <=8192-row count vector to the driver, never a global sort
      graft.operators.Quantiles.exactQuantiles(
        t(s, dir, "lineitem"), "l_extendedprice",
        qs = Seq(0.25, 0.5, 0.75, 0.9))),

    "quantile_bins" -> ((s, dir) => {
      // equi-depth binning COMPOSED from exact quantiles: the 9
      // decile boundaries (a bounded driver collect by construction)
      // fold into a when-chain — fully codegen, no join, no
      // broadcast — and one aggregate counts each bin's population
      val li = t(s, dir, "lineitem")
      val bounds = graft.operators.Quantiles.exactQuantiles(
          li, "l_extendedprice", qs = (1 to 9).map(_ / 10.0))
        .collect().map(_.getDouble(1)).sorted
      val bin = bounds.foldLeft(lit(0L)) { (acc, b) =>
        acc + when(col("l_extendedprice") >= b, 1L).otherwise(0L)
      }
      li.select(bin.as("bin")).groupBy("bin")
        .agg(count(lit(1)).as("n"))
    }),

    "quantile_exact_grouped" -> ((s, dir) =>
      // per-group exact quantiles: every (group x q) target rides ONE
      // shared histogram pass per round (cells broadcast-joined into
      // the scan) — never a per-group single-reducer sort
      graft.operators.Quantiles.exactQuantilesByGroup(
        t(s, dir, "lineitem"), "l_returnflag", "l_extendedprice",
        qs = Seq(0.25, 0.5, 0.9))),

    "corpus_stratified_sample" -> ((s, dir) =>
      // exact per-language quotas via hash-cutoff prefilter + exact
      // rank on the ~margin*quota survivors (never a full-stratum sort)
      CorpusOps.stratifiedSample(t(s, dir, "documents"), "doc_id",
        "lang", quota = 20)),

    "corpus_weighted_sample" -> ((s, dir) =>
      // deterministic A-ES weighted sampling w/o replacement: LCG
      // uniform + exponential race, one keyed scan into a top-k —
      // never a full sort
      CorpusOps.weightedSample(t(s, dir, "documents"), "doc_id",
        "n_chars", k = 40)),

    "corpus_weighted_stratified" -> ((s, dir) =>
      // per-language weighted quota: same race key, but the top-quota
      // rides GroupTopK's bounded buffer — never a per-group window
      // sort through the exchange
      CorpusOps.weightedSampleByGroup(t(s, dir, "documents"),
        "doc_id", "lang", "n_chars", quota = 12)),

    "corpus_diff" -> ((s, dir) => {
      // snapshot diff old-vs-new corpus version: content travels as a
      // fixed-width md5 through one id-partitioned full-outer join —
      // the "what did this recrawl actually do" audit
      val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val newV = d.filter(pmod(col("doc_id"), lit(10)) =!= 0)
        .withColumn("text",
          when(pmod(col("doc_id"), lit(7)) === 0,
            concat(col("text"), lit(" v2"))).otherwise(col("text")))
        .unionByName(d.filter(pmod(col("doc_id"), lit(13)) === 0)
          .select((col("doc_id") + 100000L).as("doc_id"),
            concat(lit("added "), col("doc_id").cast("string"))
              .as("text")))
      CorpusOps.corpusDiff(d, newV, "doc_id", "text")
    }),

    "corpus_split_leakfree" -> ((s, dir) => {
      // train/valid/test split that can never leak a duplicate across
      // sides: the split is a pure LCG over the dup-cluster id (here
      // the exact-dup canonical: min doc_id per content hash)
      val d = t(s, dir, "documents")
        .withColumn("__h", md5(col("text")))
      val cl = d.groupBy(col("__h")).agg(min("doc_id").as("cluster_id"))
      val m = d.join(cl, "__h").select(col("doc_id"), col("cluster_id"))
      CorpusOps.leakFreeSplit(m, "doc_id", "cluster_id")
    }),

    "text_vocab" -> ((s, dir) =>
      // corpus vocabulary (tokenizer-training input): term + corpus
      // count + doc frequency, global top-100 by (count desc, term) —
      // orderBy+limit plans TakeOrderedAndProject (per-partition
      // k-heaps, never a full sort)
      t(s, dir, "documents")
        .select(col("doc_id"),
          explode(TextAnalysis.tokensLower(col("text"))).as("term"))
        .groupBy("term")
        .agg(count(lit(1)).as("n"),
          count_distinct(col("doc_id")).as("df"))
        .orderBy(col("n").desc, col("term"))
        .limit(100)),

    "text_bpe_pairs" -> ((s, dir) =>
      // BPE iteration 0: weighted adjacent-char-pair counts off the
      // DEDUPLICATED word histogram (the explode touches |vocab| rows,
      // not |corpus| tokens); top-100 plans TakeOrderedAndProject
      TextAnalysis.bpePairCounts(t(s, dir, "documents"), "text", k = 100)),

    "text_bpe_roundtrip" -> ((s, dir) => {
      // full tokenizer-training path, distributed end-to-end: bounded
      // driver fit learns the merge table (TakeOrdered top-4096 words),
      // then one codegen'd BpeEncodeWords pass re-segments every doc.
      // The hash-compared invariant is losslessness — concatenating the
      // subword tokens must reproduce the whitespace-stripped text;
      // exact segmentation is pinned by BpeSpec's golden fixtures
      val docs = t(s, dir, "documents")
      val merges = TextAnalysis.bpeLearn(docs, "text",
        maxWords = 4096, numMerges = 64)
      TextAnalysis.bpeEncodeDocs(docs, "doc_id", "text", merges)
        .select(col("doc_id"),
          concat_ws("", col("tokens")).as("joined"))
    }),

    "text_bpe_bytes" -> ((s, dir) => {
      // byte-level BPE with end-of-word markers — the two production-
      // tokenizer fidelity properties: arbitrary UTF-8 (emoji, CJK,
      // Cyrillic, combining accents) tokenizes LOSSLESSLY through the
      // GPT-2 byte<->unicode bijection, and the EOW marker restores
      // word boundaries on decode. Every third document gets a
      // non-Latin suffix; the hashed invariant is
      // decode(encode(text)) == whitespace-normalized source text,
      // run through the real encoder AND decoder expressions.
      val d = t(s, dir, "documents")
      val aug = d.select(col("doc_id"),
        concat(col("text"), when(pmod(col("doc_id"), lit(3)) === 0,
          lit(" héllo wörld 😀🚀 日本語のテキスト привет ж"))
          .otherwise(lit(""))).as("text"))
      val merges = TextAnalysis.bpeLearn(aug, "text", maxWords = 4096,
        numMerges = 96, byteLevel = true, endOfWord = true)
      val enc = TextAnalysis.bpeEncodeDocs(aug, "doc_id", "text", merges,
        byteLevel = true, endOfWord = true)
      TextAnalysis.bpeDecodeDocs(enc, "doc_id", "tokens", merges,
        byteLevel = true, endOfWord = true)
        .select(col("doc_id"), md5(col("text")).as("decoded_md5"))
    }),

    "text_repetition" -> ((s, dir) =>
      // Gopher-style intra-doc repetition: row-local sorted-run fold,
      // zero exchanges — see TextAnalysis.repetitionSignals scaladoc
      TextAnalysis.repetitionSignals(
        t(s, dir, "documents"), "doc_id", "text")),

    "corpus_gopher_filter" -> ((s, dir) =>
      // the composed Gopher ruleset verdict: signals + keep/drop +
      // per-rule fail reasons, still one row-local projection
      TextAnalysis.gopherFilter(t(s, dir, "documents"), "doc_id", "text")),

    "text_bm25" -> ((s, dir) =>
      // lexical retrieval: BM25 over a fixed query term set; only
      // query-term hits explode, df/N/avgdl broadcast
      TextAnalysis.bm25(t(s, dir, "documents"), "doc_id", "text",
        query = Seq("spark", "query", "window"))),

    "dedup_canonical" -> ((s, dir) => {
      // survivorship over normalized-exact groups: plant a cased and a
      // padded variant of every doc — all three normalize equal, the
      // padded one is longest, so the policy must elect id+2000000 as
      // canonical for every group (min-id would be wrong: hash fail)
      val d = t(s, dir, "documents").select("doc_id", "text")
      val aug = d
        .unionByName(d.select((col("doc_id") + 1000000).as("doc_id"),
          upper(col("text")).as("text")))
        .unionByName(d.select((col("doc_id") + 2000000).as("doc_id"),
          concat(lit("  "), col("text"), lit("   ")).as("text")))
      Dedup.canonicalMap(aug, "doc_id", "text")
    }),

    "corpus_boilerplate" -> ((s, dir) => {
      // C4-style cross-doc boilerplate line removal: plant a footer
      // on every doc and a banner on every third — both must strip
      // everywhere while per-doc unique lines survive
      val d = t(s, dir, "documents").select(col("doc_id"),
        concat(col("text"), lit("\n"),
          when(pmod(col("doc_id"), lit(3)) === 0,
            lit("subscribe to our newsletter"))
            .otherwise(concat(lit("line "),
              col("doc_id").cast("string"))),
          lit("\nall rights reserved")).as("text"))
      CorpusOps.stripBoilerplateLines(d, "doc_id", "text", minDocs = 3)
    }),

    "corpus_chunks" -> ((s, dir) =>
      // overlapping token-window chunking: row-local HOFs only, zero
      // exchanges (plan-asserted in CorpusOpsSpec)
      CorpusOps.chunkOverlap(t(s, dir, "documents"), "doc_id", "text",
        chunk = 32, overlap = 8)),

    "dq_report" -> ((s, dir) => {
      // data-contract validation with planted violations of every
      // class: all row-local rules share ONE aggregate pass;
      // uniqueness adds one groupBy, the FK one anti-join
      import graft.operators.DataQuality._
      val o = t(s, dir, "orders")
      val bad = o.filter(pmod(col("o_orderkey"), lit(1000)) === 1)
        .select(col("o_orderkey"),
          lit(null).cast("long").as("o_custkey"),
          lit("X").as("o_orderstatus"),
          (col("o_totalprice") * -1).as("o_totalprice"),
          col("o_orderdate"), lit("ZZZ").as("o_orderpriority"))
      val bogus = o.filter(pmod(col("o_orderkey"), lit(1000)) === 2)
        .select((col("o_orderkey") + 10000000L).as("o_orderkey"),
          (col("o_custkey") + 10000000L).as("o_custkey"),
          col("o_orderstatus"), col("o_totalprice"),
          col("o_orderdate"), col("o_orderpriority"))
      graft.operators.DataQuality.report(
        o.unionByName(bad).unionByName(bogus), Seq(
          NotNull("o_custkey"),
          Range("o_totalprice", Some(0.0), None),
          AcceptedValues("o_orderstatus", Seq("F", "O", "P")),
          Matches("o_orderpriority", "^[1-5]-"),
          Unique(Seq("o_orderkey")),
          ForeignKey("o_custkey", t(s, dir, "customer"), "c_custkey")))
    }),

    // ------------------------------------- warehouse maintenance ops
    "scd2_history" -> ((s, dir) =>
      // SCD Type-2 dimension history from a change log: runs of equal
      // values collapse, validity intervals chain via ONE key-shuffle
      // feeding both window passes (plan-asserted in WarehouseSpec)
      graft.operators.Warehouse.scd2FromLog(
        t(s, dir, "events").select("user_id", "event_id", "event_type"),
        "user_id", "event_id", "event_type")),

    "scd2_pit_join" -> ((s, dir) => {
      // point-in-time dimension lookup: every fact joins the SCD2
      // version valid at its time via the native as-of merge join —
      // one key-clustered shuffle per side, no range explosion
      val ev = t(s, dir, "events")
      val hist = graft.operators.Warehouse.scd2FromLog(
        ev.filter(pmod(col("event_id"), lit(4)) =!= 0)
          .select("user_id", "event_id", "event_type"),
        "user_id", "event_id", "event_type")
      val facts = ev.filter(pmod(col("event_id"), lit(4)) === 0)
        .select(col("user_id"), col("event_id"))
      graft.operators.Warehouse.scd2Lookup(facts, hist, "user_id",
        "event_id", "event_type")
    }),

    "scd2_incremental" -> ((s, dir) => {
      // incremental SCD2 maintenance: history built from the first
      // 80% of the log, the rest folded in via scd2Merge — work is
      // O(touched keys + batch), and the oracle recomputes from the
      // FULL log, so equality IS the incremental-equals-full contract
      val ev = t(s, dir, "events")
        .select("user_id", "event_id", "event_type")
      val cut = ev.agg((max("event_id") * 4 / 5).cast("long"))
        .head().getLong(0)
      val hist = graft.operators.Warehouse.scd2FromLog(
        ev.filter(col("event_id") <= cut), "user_id", "event_id",
        "event_type")
      graft.operators.Warehouse.scd2Merge(hist,
        ev.filter(col("event_id") > cut), "user_id", "event_id",
        "event_type")
    }),

    "cdc_apply" -> ((s, dir) => {
      // CDC last-writer-wins materialization: latest op per key by
      // sequence; a trailing delete removes the key. One max_by
      // aggregate with map-side partials — never a window sort over
      // the whole log
      val log = t(s, dir, "events").select(
        pmod(col("event_id"), lit(997)).as("k"),
        col("event_id").as("seq"),
        when(pmod(col("event_id"), lit(10)) === 0, "D")
          .when(pmod(col("event_id"), lit(10)) < 3, "I")
          .otherwise("U").as("op"),
        col("value").as("v"), col("event_type").as("et"))
      graft.operators.Warehouse.cdcApply(log, "k", "seq", "op",
        Seq("v", "et"))
    }),

    "agg_incremental" -> ((s, dir) => {
      // incremental aggregate maintenance: fold the "new day" batch
      // into the persisted mergeable state (n/sum/min/max) without
      // touching history; oracle recomputes from scratch — equality IS
      // the incremental-equals-full contract. avg derives at read.
      val o = t(s, dir, "orders")
      val hist = o.filter(pmod(col("o_orderkey"), lit(10)) =!= 0)
      val batch = o.filter(pmod(col("o_orderkey"), lit(10)) === 0)
      val state = graft.operators.Warehouse.aggState(
        hist, Seq("o_custkey"), "o_totalprice")
      val merged = graft.operators.Warehouse.mergeAggState(
        state, batch, Seq("o_custkey"), "o_totalprice")
      // prices are exact cents, so the merged sum recovers an exact
      // integer; sum AND the half-up avg then derive in integer
      // arithmetic — a double round() here diverges from the oracle
      // whenever a quotient lands on a .xxxx5 boundary (Spark rounds
      // the shortest decimal repr, DuckDB the raw binary)
      merged
        .withColumn("__cents", round(col("sum_v") * 100, 0).cast("long"))
        .select(col("o_custkey"), col("n"),
          (col("__cents") / lit(100.0)).as("sum_v"),
          col("min_v"), col("max_v"),
          (expr("(__cents * 200 + n) div (n * 2)") / lit(10000.0))
            .as("avg_v"))
    }),

    // ------------------------------------------- workflow engine e2e
    "workflow_agg" -> ((s, dir) => {
      // import -> subset -> aggregate driven by the workflow engine:
      // JSON request -> DAG validation -> operator dispatch -> cube PIDs
      val eng = new graft.workflow.Engine(s, new graft.core.Catalog("sess"))
      val res = eng.run(graft.workflow.Workflow.parse(s"""{
        "name": "wf", "tasks": [
          {"name": "imp", "operator": "oph_importnc",
           "arguments": ["src_path=$dir/lineitem.parquet",
             "measure=l_quantity", "exp_dim=l_orderkey|l_linenumber",
             "container=li"]},
          {"name": "sub", "operator": "oph_subset",
           "arguments": ["subset_dims=l_linenumber", "subset_filter=1:3"],
           "dependencies": [{"task": "imp"}]},
          {"name": "agg", "operator": "oph_aggregate",
           "arguments": ["operation=sum", "group_by=l_orderkey"],
           "dependencies": [{"task": "sub"}]}
        ]}"""))
      val out = eng.cube(res("agg").cubePid.get).get
      out.df.select(col("l_orderkey"), round(col("l_quantity"), 4).as("sum_qty"))
    }),

    "workflow_aggregate2" -> ((s, dir) => {
      // the WORKFLOW-driven aggregate2 path: concept_level=month routed
      // through the oph_time hierarchy by the engine dispatch
      val eng = new graft.workflow.Engine(s, new graft.core.Catalog("sess"))
      val res = eng.run(graft.workflow.Workflow.parse(s"""{
        "name": "wf", "tasks": [
          {"name": "imp", "operator": "oph_importnc",
           "arguments": ["src_path=$dir/orders.parquet",
             "measure=o_totalprice", "exp_dim=o_orderdate",
             "container=ord"]},
          {"name": "agg", "operator": "oph_aggregate2",
           "arguments": ["operation=sum", "dim=o_orderdate",
             "concept_level=month", "hierarchy=oph_time"],
           "dependencies": [{"task": "imp", "type": "single"}]}
        ]}"""))
      val out = eng.cube(res("agg").cubePid.get).get
      out.df.select(col("o_orderdate_month").as("omonth"),
        round(col("o_totalprice"), 2).as("sum_price"))
    }),

    "workflow_mergecubes" -> ((s, dir) => {
      // engine-path mergecubes with the 'cubes' argument wired entirely
      // by dependency argument/order routing: concat of in-cell slices
      // 1:2 and 3:4 equals the 1:4 slice of the source cube
      val eng = new graft.workflow.Engine(s, new graft.core.Catalog("sess"))
      val res = eng.run(graft.workflow.Workflow.parse(s"""{
        "name": "wf", "tasks": [
          {"name": "imp", "operator": "oph_importnc",
           "arguments": ["src_path=$dir/lineitem.parquet",
             "measure=l_quantity", "exp_dim=l_orderkey",
             "imp_dim=l_linenumber", "container=li"]},
          {"name": "head", "operator": "oph_subset",
           "arguments": ["subset_dims=l_linenumber", "subset_filter=1:2"],
           "dependencies": [{"task": "imp", "type": "single"}]},
          {"name": "tail", "operator": "oph_subset",
           "arguments": ["subset_dims=l_linenumber", "subset_filter=3:4"],
           "dependencies": [{"task": "imp", "type": "single"}]},
          {"name": "cat", "operator": "oph_mergecubes",
           "arguments": [],
           "dependencies": [
             {"task": "head", "argument": "cubes", "type": "all", "order": "0"},
             {"task": "tail", "argument": "cubes", "type": "all", "order": "1"}
           ]}
        ]}"""))
      val out = eng.cube(res("cat").cubePid.get).get
      out.df.select(col("l_orderkey"),
          posexplode(col("l_quantity")).as(Seq("__p", "__v")))
        .select(col("l_orderkey"), (col("__p") + 1).cast("long").as("pos"),
          col("__v").as("qty"))
    }),

    "workflow_intercube2" -> ((s, dir) => {
      // N-cube intercube2 through the engine: avg of (1x, 2x, 3x) the
      // same array cube = 2x the original, wired by order routing
      val eng = new graft.workflow.Engine(s, new graft.core.Catalog("sess"))
      val res = eng.run(graft.workflow.Workflow.parse(s"""{
        "name": "wf", "tasks": [
          {"name": "imp", "operator": "oph_importnc",
           "arguments": ["src_path=$dir/lineitem.parquet",
             "measure=l_quantity", "exp_dim=l_orderkey",
             "imp_dim=l_linenumber", "container=li"]},
          {"name": "x2", "operator": "oph_apply",
           "arguments": ["query=oph_mul_scalar(measure, 2)"],
           "dependencies": [{"task": "imp", "type": "single"}]},
          {"name": "x3", "operator": "oph_apply",
           "arguments": ["query=oph_mul_scalar(measure, 3)"],
           "dependencies": [{"task": "imp", "type": "single"}]},
          {"name": "avg", "operator": "oph_intercube2",
           "arguments": ["operation=avg", "output_measure=m"],
           "dependencies": [
             {"task": "imp", "argument": "cubes", "type": "all", "order": "0"},
             {"task": "x2", "argument": "cubes", "type": "all", "order": "1"},
             {"task": "x3", "argument": "cubes", "type": "all", "order": "2"}
           ]}
        ]}"""))
      val out = eng.cube(res("avg").cubePid.get).get
      out.df.select(col("l_orderkey"),
          posexplode(col("m")).as(Seq("__p", "__v")))
        .select(col("l_orderkey"), (col("__p") + 1).cast("long").as("pos"),
          round(col("__v"), 2).as("avg_qty"))
    }),

    "workflow_concatnc" -> ((s, dir) => {
      // engine-path oph_concatnc: append fresh source data along the
      // implicit dim of an existing (subset) cube — positions become
      // [first two items] ++ [all items]
      val eng = new graft.workflow.Engine(s, new graft.core.Catalog("sess"))
      val res = eng.run(graft.workflow.Workflow.parse(s"""{
        "name": "wf", "tasks": [
          {"name": "imp", "operator": "oph_importnc",
           "arguments": ["src_path=$dir/lineitem.parquet",
             "measure=l_quantity", "exp_dim=l_orderkey",
             "imp_dim=l_linenumber", "container=li"]},
          {"name": "sub", "operator": "oph_subset",
           "arguments": ["subset_dims=l_linenumber", "subset_filter=1:2"],
           "dependencies": [{"task": "imp", "type": "single"}]},
          {"name": "cat", "operator": "oph_concatnc",
           "arguments": ["src_path=$dir/lineitem.parquet"],
           "dependencies": [{"task": "sub", "type": "single"}]}
        ]}"""))
      val out = eng.cube(res("cat").cubePid.get).get
      out.df.select(col("l_orderkey"),
          posexplode(col("l_quantity")).as(Seq("__p", "__v")))
        .select(col("l_orderkey"), (col("__p") + 1).cast("long").as("pos"),
          col("__v").as("qty"))
    }),

    "explore_multigrid" -> ((s, dir) => {
      // the pivoted explorecube view (oph_json_multigrid.h:50-71):
      // rows = explicit dims, columns = implicit-dim values, cells =
      // the measure matrix; flattened back to (key, col, cell) triples
      // for the rows-only check (driver-side render, deterministic via
      // the orderBy)
      val cube = liCube(s, dir)
      val sorted = cube.copy(df = cube.df.orderBy("l_orderkey").limit(50))
      val mg = graft.render.ResponseWriter.multigridOf(
        "explorecube_dimvalues", "slice", sorted, limit = 50)
      import s.implicits._
      // the render emits STRING cells (the JSON grid payload); parse
      // them back to typed values so the grid contents hash against a
      // plain SQL oracle — a wrong flatten/order/pad would still flip
      // the hash, but double formatting quirks cannot
      mg.rowValues.zip(mg.measureValues).flatMap { case (rv, mv) =>
        mv.zipWithIndex.map { case (cell, c) =>
          (rv.head, (c + 1).toLong, cell)
        }
      }.toDF("__k", "pos", "__cell")
        .select(col("__k").cast("long").as("l_orderkey"), col("pos"),
          round(col("__cell").cast("double"), 2).as("cell"))
    }),

    "netcdf_roundtrip" -> ((s, dir) => {
      // REAL NetCDF-3 classic I/O: write the first 1000 orders into a
      // .nc file (pure-Scala classic writer), read it back through the
      // netcdf3 DataSource V2, aggregate — hash-verified against the
      // same computation on the parquet source in DuckDB, so the
      // binary round-trip itself is oracle-checked
      val rows = t(s, dir, "orders").orderBy("o_orderkey")
        .limit(1000)
        .select(col("o_orderkey").cast("double"),
          col("o_totalprice").cast("double")).collect()
      val f = java.io.File.createTempFile("graft_orders", ".nc")
      f.deleteOnExit() // repeated Verify/Bench sweeps must not litter /tmp
      graft.sources.NetCDF3.write(f.getPath,
        dims = Seq(graft.sources.NetCDF3.Dim("row", rows.length)),
        vars = Seq(
          ("o_orderkey", Seq(0), rows.map(_.getDouble(0))),
          ("o_totalprice", Seq(0), rows.map(_.getDouble(1)))))
      s.read.format("netcdf3").load(f.getPath)
        .groupBy(floor(col("o_orderkey") / 1000).cast("long").as("bucket"))
        .agg(round(sum(col("o_totalprice")), 2).as("s"))
    }),

    "netcdf4_roundtrip" -> ((s, dir) => {
      // REAL NetCDF-4/HDF5 I/O: the same orders slice written through
      // the pure-JVM HDF5 writer (chunked + deflate, dimension scales,
      // DIMENSION_LIST via the global heap) and read back through the
      // dual-format DSv2 — the hash match oracle-checks the whole
      // HDF5 binary round-trip, chunk B-tree walk and inflate included
      val rows = t(s, dir, "orders").orderBy("o_orderkey")
        .limit(1000)
        .select(col("o_orderkey").cast("double"),
          col("o_totalprice").cast("double")).collect()
      val f = java.io.File.createTempFile("graft_nc4_orders", ".nc")
      f.deleteOnExit()
      graft.sources.NetCDF4.write(f.getPath,
        dims = Seq(graft.sources.NetCDF3.Dim("row", rows.length)),
        vars = Seq(
          ("o_orderkey", Seq(0), rows.map(_.getDouble(0))),
          ("o_totalprice", Seq(0), rows.map(_.getDouble(1)))),
        chunkCells = 256) // multi-chunk: exercises the chunk index
      s.read.format("netcdf4").load(f.getPath)
        .groupBy(floor(col("o_orderkey") / 1000).cast("long").as("bucket"))
        .agg(round(sum(col("o_totalprice")), 2).as("s"))
    }),

    "netcdf4_compact_coords" -> ((s, dir) => {
      // COMPACT layout (HDF5 class 0, element bytes inline in the
      // object header — what h5py/netCDF-c "latest" emit for tiny
      // datasets): both coordinate scales of a (time x x) grid are
      // stored compact, the measure stays chunked+deflate. The groupBy
      // keys come FROM the compact-decoded coordinates, so the inline
      // read path is hash-verified end-to-end against the formula
      // oracle, not just smoke-read.
      val (nt, nx) = (40, 12)
      val vals = Array.tabulate(nt * nx) { k =>
        val t = k / nx; val x = k % nx
        ((t * 31 + x * 7) % 97 + 0.25)
      }
      val f = java.io.File.createTempFile("graft_compact", ".nc4")
      f.delete(); f.deleteOnExit()
      graft.sources.NetCDF4.write(f.getPath,
        dims = Seq(graft.sources.NetCDF3.Dim("time", nt),
          graft.sources.NetCDF3.Dim("x", nx)),
        vars = Seq(
          ("time", Seq(0), Array.tabulate(nt)(i => 0.5 * i)),
          ("x", Seq(1), Array.tabulate(nx)(i => 1.5 * i)),
          ("tas", Seq(0, 1), vals)),
        chunkDimsOf = Map("tas" -> Seq(16, 8)),
        compactCoordCells = 64)
      s.read.format("netcdf4").load(f.getPath)
        .groupBy(col("x").cast("double").as("x"))
        .agg(round(sum(col("tas")), 2).as("tas_sum"),
          round(sum(col("time") * col("tas")), 2).as("wtas_sum"))
    }),

    "netcdf4_export_roundtrip" -> ((s, dir) => {
      // the DISTRIBUTED NetCDF-4 export: executors deflate chunk
      // blobs, the driver streams metadata + sidecars (NetCDF4
      // .writeTableDistributed), then the dual-format DSv2 reads the
      // file back — hash-checked against the same computation on the
      // parquet source, so the whole executor-side compress/assemble
      // cycle is oracle-verified
      val src = t(s, dir, "orders").orderBy("o_orderkey").limit(2000)
        .select(col("o_orderkey").cast("double").as("o_orderkey"),
          col("o_totalprice").cast("double").as("o_totalprice"))
      val f = java.io.File.createTempFile("graft_nc4x_orders", ".nc4")
      f.delete()
      graft.sources.NetCDF4.writeTableDistributed(src, f.getPath,
        chunkRows = 512) // 4 chunks across partitions
      f.deleteOnExit()
      s.read.format("netcdf4").load(f.getPath)
        .groupBy(floor(col("o_orderkey") / 1000).cast("long").as("bucket"))
        .agg(round(sum(col("o_totalprice")), 2).as("s"))
    }),

    "netcdf4_dense_groups" -> ((s, dir) => {
      // DENSE (fractal-heap) group links end-to-end: 11 variables +
      // the row dimension push the root group past netcdf-c's 8-link
      // threshold, so the distributed exporter emits a fractal heap +
      // v2 B-tree name index and the reader walks them back — the
      // layout every real many-variable climate file uses. Hash-checked
      // against DuckDB running the same aggregate on the parquet source
      val src = t(s, dir, "orders").orderBy("o_orderkey").limit(2000)
        .select(col("o_orderkey").cast("double").as("k") +:
          (1 to 10).map(j =>
            (col("o_totalprice") * j).cast("double").as(f"m$j%02d")): _*)
      val f = java.io.File.createTempFile("graft_nc4_dense", ".nc4")
      f.delete()
      graft.sources.NetCDF4.writeTableDistributed(src, f.getPath,
        chunkRows = 512)
      f.deleteOnExit()
      val aggs = (1 to 10).map(j =>
        round(sum(col(f"m$j%02d")), 2).as(f"s$j%02d"))
      s.read.format("netcdf4").load(f.getPath)
        .groupBy(floor(col("k") / 1000).cast("long").as("bucket"))
        .agg(aggs.head, aggs.tail: _*)
    }),

    "netcdf_time_roundtrip" -> ((s, dir) => {
      // CF TIME end-to-end on the ENGINE path: orders dates encode as
      // 'days since 1970-01-01' in a NetCDF-4 file with the units
      // attribute; importnc converts the axis back to real dates and
      // aggregate2 rolls it up by month — the hash matches DuckDB
      // running the same monthly rollup on the parquet dates, so the
      // attribute round-trip AND the CF conversion are both verified
      val daily = t(s, dir, "orders").orderBy("o_orderkey").limit(1000)
        .groupBy(col("o_orderdate"))
        .agg(round(sum(col("o_totalprice")), 2).as("p"))
        .select(
          datediff(col("o_orderdate"), lit("1970-01-01"))
            .cast("double").as("t"),
          col("p").cast("double"))
        .orderBy("t").collect()
      val f = java.io.File.createTempFile("graft_cftime", ".nc4")
      f.deleteOnExit()
      graft.sources.NetCDF4.write(f.getPath,
        dims = Seq(graft.sources.NetCDF3.Dim("time", daily.length)),
        vars = Seq(
          ("time", Seq(0), daily.map(_.getDouble(0))), // coordinate var
          ("price", Seq(0), daily.map(_.getDouble(1)))),
        varAtts = Map("time" -> Seq("units" -> "days since 1970-01-01")))
      val eng = new graft.workflow.Engine(s, new graft.core.Catalog("sess"))
      val res = eng.run(graft.workflow.Workflow.parse(s"""{
        "name": "wf", "tasks": [
          {"name": "imp", "operator": "oph_importnc",
           "arguments": ["src_path=${f.getPath}", "measure=price",
             "exp_dim=time", "container=c"]}
        ]}"""))
      val cube = eng.cube(res("imp").cubePid.get).get
      cube.df.groupBy(date_format(col("time"), "yyyy-MM").as("month"))
        .agg(round(sum(col("price")), 2).as("s"))
    }),

    "netcdf4_3d_subset_pruned" -> ((s, dir) => {
      // any-axis subset pushdown (VERDICT r11 #1): a (time x lat x
      // lon) archive chunked on EVERY axis — 4 x 4 x 4 = 64 chunks —
      // filtered on the MIDDLE and FAST axes. The DSv2 intersects the
      // pushed per-axis ranges with the chunk grid and plans only the
      // predicate box (the reference pushes subsets into storage on
      // ANY dimension: oph_subset_library.h:35 via oph_filters.c:223);
      // NetCDFBoxPruneSpec pins the I/O audit (12 of 48 chunks
      // decoded); this row pins the VALUES through the DuckDB oracle.
      val (nt, nlat, nlon) = (24, 32, 40)
      val vals = Array.tabulate(nt * nlat * nlon) { k =>
        val t = k / (nlat * nlon); val la = (k / nlon) % nlat; val lo = k % nlon
        ((t * 37 + la * 11 + lo * 5) % 89 + 0.5)
      }
      val f = java.io.File.createTempFile("graft_3d_prune", ".nc4")
      f.delete(); f.deleteOnExit()
      graft.sources.NetCDF4.write(f.getPath,
        dims = Seq(graft.sources.NetCDF3.Dim("time", nt),
          graft.sources.NetCDF3.Dim("lat", nlat),
          graft.sources.NetCDF3.Dim("lon", nlon)),
        vars = Seq(
          ("time", Seq(0), Array.tabulate(nt)(_.toDouble)),
          ("lat", Seq(1), Array.tabulate(nlat)(i => -80.0 + 5 * i)),
          ("lon", Seq(2), Array.tabulate(nlon)(i => 9.0 * i)),
          ("tas", Seq(0, 1, 2), vals)),
        chunkDimsOf = Map("tas" -> Seq(6, 8, 10)))
      s.read.format("netcdf4").load(f.getPath)
        .filter(col("lat") >= -40.0 && col("lat") < 40.0 &&
          col("lon") >= 45.0 && col("lon") < 225.0 && col("time") >= 6.0)
        .groupBy(col("time").cast("long").as("t"),
          col("lat").cast("double").as("lat"))
        .agg(round(avg(col("tas")), 4).as("tas_avg"))
    }),

    "netcdf4_3d_pipeline" -> ((s, dir) => {
      // the full 3-D climate path through the ENGINE: NetCDF-4 import
      // of a (time x lat x lon) variable with CF time + coordinate
      // axes, a coord subset on time, index subsets on BOTH implicit
      // axes, reduce along lon, distributed NetCDF-4 export, DSv2
      // read-back — the hash checks every layer at once (n-D build,
      // stride subsets, strided reduce, axis-coordinate flatten,
      // epoch-day date encoding, chunked HDF5 write+read)
      val (nt, nlat, nlon) = (16, 6, 10)
      val vals = Array.tabulate(nt * nlat * nlon) { k =>
        val t = k / (nlat * nlon); val la = (k / nlon) % nlat; val lo = k % nlon
        ((t * 37 + la * 11 + lo * 5) % 89 + 0.5)
      }
      val f = java.io.File.createTempFile("graft_3d", ".nc4")
      f.deleteOnExit()
      graft.sources.NetCDF4.write(f.getPath,
        dims = Seq(graft.sources.NetCDF3.Dim("time", nt),
          graft.sources.NetCDF3.Dim("lat", nlat),
          graft.sources.NetCDF3.Dim("lon", nlon)),
        vars = Seq(
          ("time", Seq(0), Array.tabulate(nt)(_.toDouble)),
          ("lat", Seq(1), Array.tabulate(nlat)(i => -75.0 + 30 * i)),
          ("lon", Seq(2), Array.tabulate(nlon)(i => 36.0 * i)),
          ("tas", Seq(0, 1, 2), vals)),
        varAtts = Map("time" -> Seq("units" -> "days since 2000-01-01")))
      val outF = java.io.File.createTempFile("graft_3d_out", ".nc4")
      outF.delete(); outF.deleteOnExit()
      val eng = new graft.workflow.Engine(s, new graft.core.Catalog("sess"))
      eng.run(graft.workflow.Workflow.parse(s"""{
        "name": "wf", "tasks": [
          {"name": "imp", "operator": "oph_importnc",
           "arguments": ["src_path=${f.getPath}", "measure=tas",
             "exp_dim=time", "imp_dim=lat|lon", "container=clim"]},
          {"name": "subt", "operator": "oph_subset",
           "arguments": ["subset_dims=time", "subset_type=coord",
             "subset_filter=2000-01-03:2000-01-12"],
           "dependencies": [{"task": "imp", "type": "single"}]},
          {"name": "subla", "operator": "oph_subset",
           "arguments": ["subset_dims=lat", "subset_filter=2:5"],
           "dependencies": [{"task": "subt", "type": "single"}]},
          {"name": "sublo", "operator": "oph_subset",
           "arguments": ["subset_dims=lon", "subset_filter=1:2:9"],
           "dependencies": [{"task": "subla", "type": "single"}]},
          {"name": "red", "operator": "oph_reduce2",
           "arguments": ["dim=lon", "operation=avg"],
           "dependencies": [{"task": "sublo", "type": "single"}]},
          {"name": "exp", "operator": "oph_exportnc2",
           "arguments": ["output_path=${outF.getPath}"],
           "dependencies": [{"task": "red", "type": "single"}]}
        ]}"""))
      s.read.format("netcdf4").load(outF.getPath)
        .select(col("time").cast("long").as("t_days"),
          col("lat").cast("double").as("lat"),
          round(col("tas"), 4).as("tas"))
    }),

    "netcdf4_3d_intercube" -> ((s, dir) => {
      // rank-3 intercube + concept-level aggregate2 through the ENGINE
      // dispatch: two (time x lat x lon) variables import as
      // 2-implicit-axis cubes with a CF time axis, oph_intercube
      // subtracts them cell-wise (zip_with on the in-cell grids),
      // oph_aggregate2 rolls daily grids up to monthly means
      // ELEMENTWISE (the array-measure aggregate2 path) — DuckDB
      // replays the generator arithmetic for the hash
      val (nt, nlat, nlon) = (60, 4, 5) // Jan(31) + leap Feb(29) 2000
      def gen(f: (Int, Int, Int) => Double) =
        Array.tabulate(nt * nlat * nlon) { k =>
          f(k / (nlat * nlon), (k / nlon) % nlat, k % nlon)
        }
      val tas = gen((t, la, lo) => (t * 37 + la * 11 + lo * 5) % 89 + 0.5)
      val pr = gen((t, la, lo) => (t * 13 + la * 7 + lo * 3) % 53 + 0.25)
      val f = java.io.File.createTempFile("graft_3d_ic", ".nc4")
      f.deleteOnExit()
      graft.sources.NetCDF4.write(f.getPath,
        dims = Seq(graft.sources.NetCDF3.Dim("time", nt),
          graft.sources.NetCDF3.Dim("lat", nlat),
          graft.sources.NetCDF3.Dim("lon", nlon)),
        vars = Seq(
          ("time", Seq(0), Array.tabulate(nt)(_.toDouble)),
          ("lat", Seq(1), Array.tabulate(nlat)(i => -60.0 + 40 * i)),
          ("lon", Seq(2), Array.tabulate(nlon)(i => 72.0 * i)),
          ("tas", Seq(0, 1, 2), tas),
          ("pr", Seq(0, 1, 2), pr)),
        varAtts = Map("time" -> Seq("units" -> "days since 2000-01-01")))
      val eng = new graft.workflow.Engine(s, new graft.core.Catalog("sess"))
      val res = eng.run(graft.workflow.Workflow.parse(s"""{
        "name": "wf", "tasks": [
          {"name": "imp_t", "operator": "oph_importnc",
           "arguments": ["src_path=${f.getPath}", "measure=tas",
             "exp_dim=time", "imp_dim=lat|lon", "container=c3"]},
          {"name": "imp_p", "operator": "oph_importnc",
           "arguments": ["src_path=${f.getPath}", "measure=pr",
             "exp_dim=time", "imp_dim=lat|lon", "container=c3"]},
          {"name": "ic", "operator": "oph_intercube",
           "arguments": ["operation=sub", "output_measure=d"],
           "dependencies": [
             {"task": "imp_t", "type": "single"},
             {"task": "imp_p", "argument": "cube2", "type": "all"}]},
          {"name": "agg", "operator": "oph_aggregate2",
           "arguments": ["operation=avg", "dim=time",
             "concept_level=month", "hierarchy=oph_time"],
           "dependencies": [{"task": "ic", "type": "single"}]}
        ]}"""))
      val out = eng.cube(res("agg").cubePid.get).get
      out.df.select(col("time_month").as("month"),
          posexplode(col("d")).as(Seq("__p", "__v")))
        .select(col("month"), (col("__p") + 1).cast("long").as("pos"),
          round(col("__v"), 4).as("val"))
    }),

    "netcdf_record_roundtrip" -> ((s, dir) => {
      // record-dimension (UNLIMITED) round-trip: the same orders slice
      // written as TWO record variables over a record dim — the
      // interleaved record section and numrecs-resolved extent are what
      // the hash match verifies (real climate files put time on the
      // record dim; `/root/reference/src/oph_json/oph_json_objkeys.h:134`)
      val rows = t(s, dir, "orders").orderBy("o_orderkey")
        .limit(500)
        .select(col("o_orderkey").cast("double"),
          col("o_totalprice").cast("double")).collect()
      val f = java.io.File.createTempFile("graft_rec_orders", ".nc")
      f.deleteOnExit()
      graft.sources.NetCDF3.write(f.getPath,
        dims = Seq(graft.sources.NetCDF3.Dim("row", 0)), // UNLIMITED
        vars = Seq(
          ("o_orderkey", Seq(0), rows.map(_.getDouble(0))),
          ("o_totalprice", Seq(0), rows.map(_.getDouble(1)))))
      s.read.format("netcdf3").load(f.getPath)
        .groupBy(floor(col("o_orderkey") / 1000).cast("long").as("bucket"))
        .agg(round(sum(col("o_totalprice")), 2).as("s"))
    }),

    "workflow_concatnc_record" -> ((s, dir) => {
      // engine-path concatnc ALONG THE RECORD DIM: two record-dim .nc
      // files (t = UNLIMITED, 2 records each) import + append into one
      // cube whose per-customer series spans all 4 records
      val cust = t(s, dir, "customer").orderBy("c_custkey").limit(100)
        .select(col("c_custkey").cast("double"),
          col("c_acctbal").cast("double")).collect()
      val keys = cust.map(_.getDouble(0))
      val bals = cust.map(_.getDouble(1))
      def writeNc(ts: Seq[Int]): String = {
        val f = java.io.File.createTempFile("graft_rec_cat", ".nc")
        f.deleteOnExit()
        graft.sources.NetCDF3.write(f.getPath,
          dims = Seq(graft.sources.NetCDF3.Dim("t", 0),
            graft.sources.NetCDF3.Dim("cust", keys.length)),
          vars = Seq(
            ("t", Seq(0), ts.map(_.toDouble).toArray),
            ("cust", Seq(1), keys),
            ("bal", Seq(0, 1), ts.toArray.flatMap(tv => bals.map(_ * tv)))))
        f.getPath
      }
      val f1 = writeNc(Seq(1, 2)); val f2 = writeNc(Seq(3, 4))
      val eng = new graft.workflow.Engine(s, new graft.core.Catalog("sess"))
      val res = eng.run(graft.workflow.Workflow.parse(s"""{
        "name": "wf", "tasks": [
          {"name": "imp", "operator": "oph_importnc",
           "arguments": ["src_path=$f1", "measure=bal",
             "exp_dim=cust", "imp_dim=t", "container=ncr"]},
          {"name": "cat", "operator": "oph_concatnc",
           "arguments": ["src_path=$f2"],
           "dependencies": [{"task": "imp", "type": "single"}]}
        ]}"""))
      val out = eng.cube(res("cat").cubePid.get).get
      out.df.select(col("cust"),
          posexplode(col("bal")).as(Seq("__p", "__v")))
        .select(col("cust"), (col("__p") + 1).cast("long").as("pos"),
          round(col("__v"), 2).as("val"))
    }),

    "workflow_flow" -> ((s, dir) => {
      // END-TO-END flow control (`oph_workflow_engine.c` for/if layer):
      // a counter oph_for (i=1:3) over a THREE-WAY oph_if / oph_elseif /
      // oph_else chain (r17: the elseif branch folded in so §2.A's last
      // tests-only operator is oracle-checked) — iteration 1 scales the
      // i-th lineitem slice by @i, iteration 2 by the oph_set-bound
      // @evenscale, iteration 3 by the else branch's constant 50. The
      // final hash depends on the loop iterating exactly 1..3, the
      // '@i == k' conditions routing each iteration to the RIGHT branch
      // (exclusivity asserted: untaken branches must leave no cube),
      // and @var substitution reaching subset_filter and the apply.
      val eng = new graft.workflow.Engine(s, new graft.core.Catalog("sess"))
      val res = eng.run(graft.workflow.Workflow.parse(s"""{
        "name": "wf", "tasks": [
          {"name": "imp", "operator": "oph_importnc",
           "arguments": ["src_path=$dir/lineitem.parquet",
             "measure=l_quantity", "exp_dim=l_orderkey",
             "imp_dim=l_linenumber", "container=li"]},
          {"name": "setup", "operator": "oph_set",
           "arguments": ["key=evenscale", "value=100"]},
          {"name": "loop", "operator": "oph_for",
           "arguments": ["key=i", "counter=1:3"]},
          {"name": "gate", "operator": "oph_if",
           "arguments": ["condition=@i == 1"]},
          {"name": "pick_one", "operator": "oph_subset",
           "arguments": ["subset_dims=l_linenumber", "subset_filter=@i:@i"],
           "dependencies": [{"task": "imp", "type": "single"}]},
          {"name": "scale_one", "operator": "oph_apply",
           "arguments": ["query=oph_mul_scalar(measure, @i)"],
           "dependencies": [{"task": "pick_one", "type": "single"}]},
          {"name": "gate2", "operator": "oph_elseif",
           "arguments": ["condition=@i == 2"]},
          {"name": "pick_two", "operator": "oph_subset",
           "arguments": ["subset_dims=l_linenumber", "subset_filter=@i:@i"],
           "dependencies": [{"task": "imp", "type": "single"}]},
          {"name": "scale_two", "operator": "oph_apply",
           "arguments": ["query=oph_mul_scalar(measure, @evenscale)"],
           "dependencies": [{"task": "pick_two", "type": "single"}]},
          {"name": "other", "operator": "oph_else"},
          {"name": "pick_rest", "operator": "oph_subset",
           "arguments": ["subset_dims=l_linenumber", "subset_filter=@i:@i"],
           "dependencies": [{"task": "imp", "type": "single"}]},
          {"name": "scale_rest", "operator": "oph_apply",
           "arguments": ["query=oph_mul_scalar(measure, 50)"],
           "dependencies": [{"task": "pick_rest", "type": "single"}]},
          {"name": "gate_end", "operator": "oph_endif"},
          {"name": "loop_end", "operator": "oph_endfor"}
        ]}"""))
      // harvest the per-iteration light tasks (suffixed `_<n>` like the
      // reference) — exactly ONE branch per iteration may have produced
      // a cube, and WHICH branch it was feeds the hash via the scale
      val picked = (1 to 3).map { i =>
        val pids = Seq(s"scale_one_$i", s"scale_two_$i", s"scale_rest_$i")
          .flatMap(n => res.get(n).flatMap(_.cubePid))
        require(pids.size == 1,
          s"iteration $i: expected exactly one taken branch, got $pids")
        pids.head
      }
      picked.map(p => eng.cube(p).get.df
          .select(col("l_orderkey"), explode(col("l_quantity")).as("__v")))
        .reduce(_ unionAll _)
        .groupBy("l_orderkey")
        .agg(round(sum("__v"), 4).as("val"))
        .select(col("l_orderkey"), col("val"))
    }),

    "workflow_wait_input" -> ((s, dir) => {
      // §2.A's last test-only pair driven into a HASHED result:
      // oph_wait type=input blocks the flow until an oph_input message
      // lands (delivered here through the engine's injectable sleeper —
      // the first wait poll plays the second session that posts the
      // input, deterministically), carrying TWO variables
      // (@cut, @scale) with action=continue; a later in-flow oph_input
      // sets @offset. The hash depends on the wait actually completing,
      // the multi-key delivery reaching @cut in subset_filter and
      // @scale in the apply, and the in-flow input binding @offset.
      var engRef: graft.workflow.Engine = null
      val eng = new graft.workflow.Engine(s, new graft.core.Catalog("sess"),
        sleeper = _ => engRef.deliverInput(Some("gate"),
          graft.workflow.Engine.InputMessage(
            Seq("cut", "scale"), Seq("3", "7"), "continue")))
      engRef = eng
      val res = eng.run(graft.workflow.Workflow.parse(s"""{
        "name": "wf_wait", "tasks": [
          {"name": "imp", "operator": "oph_importnc",
           "arguments": ["src_path=$dir/lineitem.parquet",
             "measure=l_quantity", "exp_dim=l_orderkey",
             "imp_dim=l_linenumber", "container=li"]},
          {"name": "gate", "operator": "oph_wait",
           "arguments": ["type=input"]},
          {"name": "sub", "operator": "oph_subset",
           "arguments": ["subset_dims=l_linenumber", "subset_filter=1:@cut"],
           "dependencies": [{"task": "imp", "type": "single"}]},
          {"name": "mul", "operator": "oph_apply",
           "arguments": ["query=oph_mul_scalar(measure, @scale)"],
           "dependencies": [{"task": "sub", "type": "single"}]},
          {"name": "inject", "operator": "oph_input",
           "arguments": ["key=offset", "value=5"]},
          {"name": "mul2", "operator": "oph_apply",
           "arguments": ["query=oph_mul_scalar(measure, @offset)"],
           "dependencies": [{"task": "mul", "type": "single"}]}
        ]}"""))
      val pid = res("mul2").cubePid.get
      eng.cube(pid).get.df
        .select(col("l_orderkey"), explode(col("l_quantity")).as("__v"))
        .groupBy("l_orderkey")
        .agg(round(sum("__v"), 4).as("val"))
        .select(col("l_orderkey"), col("val"))
    }),

    "workflow_catalog" -> ((s, dir) => {
      // The §2.C catalog / DDL / inspection family driven END-TO-END
      // into one literal-oracled grid (VERDICT r16 #2): folder
      // mkdir/mv/ls (the fs tree semantics of
      // `src/oph_ophidiadb_fs_library.h:28-47,147-154`),
      // createcontainer, import INTO that container, metadata CRUD,
      // list/search/find with metadata_key / metadata_value / measure
      // filters (the filter grammar of `src/oph_filters.c:345-363,
      // 557-725`), cubeio provenance, movecontainer, publish/unpublish,
      // oph_delete, deletecontainer -> trash -> restorecontainer.
      // Container/cube ids mint sequentially from a fresh engine, so
      // every rendered message — PIDs included — is deterministic and
      // the whole grid hashes against a VALUES oracle.
      val eng = new graft.workflow.Engine(s, new graft.core.Catalog("sess"))
      val out = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
      def step(name: String, op: String, kv: (String, String)*): String = {
        val r = eng.runDataOperator(op, kv.toMap)
        // the import stamps `source=<abs path>` metadata — drop that
        // one pair so the grid is test-directory-independent
        val msg0 = if (r.message.nonEmpty) r.message
          else r.cubePid.getOrElse("")
        val msg = msg0.split(';').filterNot(_.startsWith("source="))
          .mkString(";")
        out += ((name, msg))
        r.cubePid.getOrElse(msg)
      }
      step("mk_proj", "oph_folder", "command" -> "mkdir",
        "path" -> "/proj/run1")
      step("mk_arch", "oph_folder", "command" -> "mkdir", "path" -> "/arch")
      step("cc", "oph_createcontainer", "container" -> "li",
        "cwd" -> "/proj/run1")
      val imp = step("imp", "oph_importnc",
        "src_path" -> s"$dir/lineitem.parquet", "measure" -> "l_quantity",
        "exp_dim" -> "l_orderkey", "imp_dim" -> "l_linenumber",
        "container" -> "li", "cwd" -> "/proj/run1")
      val aux = step("aux", "oph_randcube", "nrows" -> "4",
        "array_length" -> "4", "container" -> "rc", "cwd" -> "/arch")
      step("meta_proj", "oph_metadata", "cube" -> imp, "mode" -> "insert",
        "metadata_key" -> "project", "metadata_value" -> "CMIP6")
      step("meta_inst", "oph_metadata", "cube" -> imp, "mode" -> "insert",
        "metadata_key" -> "institute", "metadata_value" -> "graft")
      val sub = step("sub", "oph_subset", "cube" -> imp,
        "subset_dims" -> "l_linenumber", "subset_filter" -> "1:2")
      step("cubeio", "oph_cubeio", "cube" -> sub)
      step("meta_upd", "oph_metadata", "cube" -> imp, "mode" -> "update",
        "metadata_key" -> "project", "metadata_value" -> "CMIP6mip")
      step("meta_read", "oph_metadata", "cube" -> imp)
      step("meta_del", "oph_metadata", "cube" -> imp, "mode" -> "delete",
        "metadata_key" -> "institute")
      step("meta_read2", "oph_metadata", "cube" -> imp)
      step("srch_key", "oph_search", "path" -> "/",
        "metadata_key_filter" -> "project")
      step("srch_val", "oph_search", "path" -> "/",
        "metadata_value_filter" -> "cmip6MIP")
      step("srch_meas", "oph_find", "path" -> "/",
        "measure_filter" -> "measure")
      step("mv_folder", "oph_folder", "command" -> "mv",
        "path" -> "/proj", "dest" -> "/projects")
      step("ls_folders", "oph_fs", "command" -> "ls", "path" -> "/")
      step("ls_cubes", "oph_list", "path" -> "/", "recursive" -> "yes")
      step("mv_cont", "oph_movecontainer", "container" -> "/arch/rc",
        "container_output" -> "/projects/run1")
      step("publish", "oph_publish", "cube" -> aux)
      step("srch_pub", "oph_search", "path" -> "/",
        "metadata_key_filter" -> "published")
      step("unpublish", "oph_unpublish", "cube" -> aux)
      step("del_cube", "oph_delete", "cube" -> sub)
      step("del_cont", "oph_deletecontainer", "container" -> "rc",
        "cwd" -> "/projects/run1", "force" -> "yes")
      step("ls_after_del", "oph_list", "path" -> "/", "recursive" -> "yes")
      step("restore", "oph_restorecontainer", "container" -> "rc")
      step("ls_after_restore", "oph_list", "path" -> "/",
        "recursive" -> "yes")
      import s.implicits._
      out.toSeq.toDF("step", "msg")
    }),

    "workflow_admin" -> ((s, dir) => {
      // The management / info surface (§2.B + the §2.C inspection tail)
      // driven into one literal-oracled grid (VERDICT r16 #2): man /
      // operators_list / primitives_list / hierarchy / script /
      // get_config / cluster deploy-info-undeploy / instances /
      // inspectfrag / showgrid / tasks / loggingbk / manage_session
      // (new, env, setenv, listusers) / cancel / log_info / service.
      // Deterministic by construction: session codes mint sequentially,
      // the log ring carries no timestamps, and environment-dependent
      // surfaces (instances, get_config's spark-conf dump, cluster
      // info's master string) are projected down to their deterministic
      // parts before hashing.
      val eng = new graft.workflow.Engine(s, new graft.core.Catalog("sess"))
      val out = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
      def record(name: String, op: String, render: String => String,
          kv: (String, String)*): String = {
        val r = eng.runDataOperator(op, kv.toMap)
        val msg = r.cubePid.getOrElse(render(r.message))
        out += ((name, msg))
        msg
      }
      def step(name: String, op: String, kv: (String, String)*): String =
        record(name, op, identity, kv: _*)
      step("man", "oph_man", "function" -> "oph_list")
      step("man_missing", "oph_man", "function" -> "oph_nope")
      step("operators", "oph_operators_list")
      step("primitives", "oph_primitives_list")
      step("hierarchy", "oph_hierarchy", "hierarchy" -> "oph_time")
      step("script", "oph_script", "script" -> "echo graft_admin_ok")
      // only the admission triple is deterministic; the spark-conf tail
      // varies with the host session
      record("config", "oph_get_config",
        m => m.split(';').filter(x => x.startsWith("SERVER_FARM_SIZE") ||
          x.startsWith("QUEUE_SIZE") || x.startsWith("TASK_LIMIT"))
          .mkString(";"))
      step("cluster_deploy", "oph_cluster", "action" -> "deploy",
        "host_partition" -> "p1", "nhost" -> "4")
      record("cluster_info", "oph_cluster",
        m => m.split(';').filter(_.startsWith("partitions=")).mkString,
        "action" -> "info")
      step("cluster_undeploy", "oph_cluster", "action" -> "undeploy",
        "host_partition" -> "p1")
      record("instances", "oph_instances",
        m => m.split(';').map(_.split('=')(0)).mkString(","))
      // a 1-fragment seeded randcube: partition 0 holds the whole cube
      // in id order, so inspectfrag's dump is parallelism-independent
      val rc = step("rand", "oph_randcube", "nrows" -> "4",
        "array_length" -> "4", "container" -> "c")
      val one = step("one_frag", "oph_merge", "cube" -> rc,
        "nmerge" -> "1")
      record("inspectfrag", "oph_inspectfrag", _.replace("\n", " // "),
        "cube" -> one, "frag_id" -> "0", "limit" -> "2")
      val grid = eng.runDataOperator("oph_showgrid", Map("cube" -> one))
      out += (("showgrid", grid.grid.get.values
        .map(_.mkString("[", ",", "]")).mkString("|")))
      step("tasks", "oph_tasks")
      step("loggingbk", "oph_loggingbk")
      // the minted code is itself a recorded (and therefore oracled)
      // row — reuse it for the follow-up actions
      val sessCode = step("sess_new", "oph_manage_session",
        "action" -> "new", "label" -> "runA")
      step("sess_env", "oph_manage_session", "action" -> "env",
        "session" -> sessCode)
      step("sess_setenv", "oph_manage_session", "action" -> "setenv",
        "session" -> sessCode, "key" -> "label", "value" -> "runB")
      step("sess_env2", "oph_manage_session", "action" -> "env",
        "session" -> sessCode)
      step("sess_users", "oph_manage_session", "action" -> "listusers",
        "session" -> sessCode)
      step("cancel", "oph_cancel", "id" -> "1", "type" -> "abort")
      step("service", "oph_service")
      record("log_tail", "oph_log_info", _.replace("\n", " // "),
        "nlines" -> "3")
      // oph_b2drop's deterministic local-drop mode (a plain path as
      // `server` is the generic drop directory; the WebDAV branch is
      // network-tested in ScalaTest): put -> get -> delete roundtrip,
      // with the temp prefix sanitized and the roundtripped CONTENT
      // itself a hashed row
      locally {
        val tmp = java.nio.file.Files.createTempDirectory("graft_admdrop")
        tmp.toFile.deleteOnExit()
        val src = tmp.resolve("payload.txt")
        java.nio.file.Files.writeString(src, "graft b2drop roundtrip")
        val dropDir = tmp.resolve("drop")
        java.nio.file.Files.createDirectories(dropDir)
        def clean(m: String): String = m.replace(tmp.toString, "<t>")
        record("b2drop_put", "oph_b2drop", clean, "action" -> "put",
          "src_path" -> src.toString, "server" -> dropDir.toString)
        val back = tmp.resolve("back.txt")
        record("b2drop_get", "oph_b2drop", clean, "action" -> "get",
          "src_path" -> back.toString, "dest_path" -> "payload.txt",
          "server" -> dropDir.toString)
        out += (("b2drop_content", java.nio.file.Files.readString(back)))
        record("b2drop_del", "oph_b2drop", clean, "action" -> "delete",
          "dest_path" -> "payload.txt", "server" -> dropDir.toString)
        out += (("b2drop_gone", (!java.nio.file.Files
          .exists(dropDir.resolve("payload.txt"))).toString))
      }
      import s.implicits._
      out.toSeq.toDF("step", "msg")
    }),

    "workflow_merge_split" -> ((s, dir) => {
      // oph_split / oph_merge re-fragmentation (`oph_json_objkeys.h:
      // 108-109`) oracle-checked two ways at once: the DATA is an
      // identity under re-fragmentation (the merged cube must hash to
      // the plain per-order sums), and the FRAGMENT COUNTS are pinned
      // as literal rows — import at nfrag=8, split to 16, merge to 4,
      // the reference's re-fragmentation semantics on Spark partitions.
      val eng = new graft.workflow.Engine(s, new graft.core.Catalog("sess"))
      val imp = eng.runDataOperator("oph_importnc", Map(
        "src_path" -> s"$dir/lineitem.parquet", "measure" -> "l_quantity",
        "exp_dim" -> "l_orderkey", "imp_dim" -> "l_linenumber",
        "container" -> "li", "nfrag" -> "8")).cubePid.get
      val split = eng.runDataOperator("oph_split",
        Map("cube" -> imp, "nsplit" -> "16")).cubePid.get
      val merged = eng.runDataOperator("oph_merge",
        Map("cube" -> split, "nmerge" -> "4")).cubePid.get
      def parts(pid: String): Long =
        eng.cube(pid).get.df.rdd.getNumPartitions.toLong
      import s.implicits._
      val frags = Seq(
        ("frags_import", parts(imp).toDouble),
        ("frags_split", parts(split).toDouble),
        ("frags_merge", parts(merged).toDouble)).toDF("k", "val")
      val data = eng.cube(merged).get.df
        .select(col("l_orderkey"), explode(col("l_quantity")).as("__v"))
        .groupBy("l_orderkey")
        .agg(round(sum("__v"), 4).as("val"))
        .select(concat(lit("sum_"), col("l_orderkey").cast("string"))
          .as("k"), col("val"))
      frags.unionByName(data)
    }),

    "workflow_csv_ncs" -> ((s, dir) => {
      // oph_exportcsv -> oph_importcsv and oph_exportnc -> oph_importncs
      // driven through the ENGINE DISPATCH (r16: csv_roundtrip covered
      // the I/O layer, not the operator path): export a bounded orders
      // slice to headered CSV and re-import it; export two DISJOINT
      // slices as real NetCDF-3 classic files and importncs BOTH as one
      // cube (the multi-file union of
      // `src/drivers/OPH_IMPORTNCS_operator.c`); both roundtrips
      // aggregate to the same oracle-checked bucket sums.
      val eng = new graft.workflow.Engine(s, new graft.core.Catalog("sess"))
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_csvncs").toString
      def imp(name: String, lo: Int, hi: Int): String =
        eng.runDataOperator("oph_importnc", Map(
          "src_path" -> s"$dir/orders.parquet", "measure" -> "o_totalprice",
          "exp_dim" -> "o_orderkey", "container" -> name,
          "subset_dims" -> "o_orderkey", "subset_filter" -> s"$lo:$hi",
          "subset_type" -> "coord")).cubePid.get
      val full = imp("full", 1, 2000)
      eng.runDataOperator("oph_exportcsv",
        Map("cube" -> full, "output_path" -> s"$tmp/orders_csv"))
      val csvBack = eng.runDataOperator("oph_importcsv", Map(
        "src_path" -> s"$tmp/orders_csv", "measure" -> "o_totalprice",
        "exp_dim" -> "o_orderkey", "container" -> "csvback")).cubePid.get
      val lo = imp("lo", 1, 1000)
      val hi = imp("hi", 1001, 2000)
      eng.runDataOperator("oph_exportnc",
        Map("cube" -> lo, "output_path" -> s"$tmp/orders_lo.nc"))
      eng.runDataOperator("oph_exportnc",
        Map("cube" -> hi, "output_path" -> s"$tmp/orders_hi.nc"))
      val ncsBack = eng.runDataOperator("oph_importncs", Map(
        "src_path" -> s"$tmp/orders_lo.nc|$tmp/orders_hi.nc",
        "measure" -> "o_totalprice", "exp_dim" -> "o_orderkey",
        "container" -> "ncsback")).cubePid.get
      def agg(pid: String, src: String) =
        eng.cube(pid).get.flatten
          .select(floor(col("o_orderkey").cast("double") / 500)
            .cast("long").as("bucket"),
            col("o_totalprice").cast("double").as("v"))
          .groupBy("bucket").agg(round(sum("v"), 2).as("sv"))
          .select(lit(src).as("src"), col("bucket"), col("sv"))
      agg(csvBack, "csv").unionByName(agg(ncsBack, "ncs"))
    }),

    "explorenc_stats" -> ((s, dir) => {
      // oph_explorenc over a REAL exported NetCDF-3 file: import an
      // orders slice, exportnc it (distributed classic writer), then
      // explorenc's show_stats mask (`oph_json_objkeys.h:85-91`,
      // reference mask order mean|variance|std|skew|kurtosis|median|
      // min|max|range — mask 101000111 picks the deterministic five)
      // computes the stats from the BINARY file in one distributed
      // aggregation; the oracle recomputes them from the parquet
      // source, so the nc encode/decode is inside the hash.
      val eng = new graft.workflow.Engine(s, new graft.core.Catalog("sess"))
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_explnc").toString
      val pid = eng.runDataOperator("oph_importnc", Map(
        "src_path" -> s"$dir/orders.parquet", "measure" -> "o_totalprice",
        "exp_dim" -> "o_orderkey", "container" -> "ord",
        "subset_dims" -> "o_orderkey", "subset_filter" -> "1:5000",
        "subset_type" -> "coord")).cubePid.get
      eng.runDataOperator("oph_exportnc",
        Map("cube" -> pid, "output_path" -> s"$tmp/orders.nc"))
      val st = eng.runDataOperator("oph_explorenc", Map(
        "src_path" -> s"$tmp/orders.nc", "measure" -> "o_totalprice",
        "show_stats" -> "101000111")).grid.get
      val v = st.keys.zip(st.values.head.map(_.toDouble)).toMap
      import s.implicits._
      Seq((v("mean"), v("std"), v("min"), v("max"), v("range")))
        .toDF("mean", "std", "min", "max", "range")
        .select(round(col("mean"), 3).as("m_mean"),
          round(col("std"), 2).as("m_std"),
          round(col("min"), 2).as("m_min"),
          round(col("max"), 2).as("m_max"),
          round(col("range"), 2).as("m_range"))
    }),

    "workflow_resume" -> ((s, dir) => {
      // oph_resume's MARKER surface end-to-end (`oph_execute_main.c:
      // 2167-2900`): run a workflow whose job records span three status
      // classes (completed, skipped, light loop instances), list it at
      // marker granularity with the status mask excluding nothing, then
      // REPLAY each marker's request document through the single-marker
      // fetch path — the row only matches the oracle if the listing's
      // COMMAND and the marker-addressed document agree
      val eng = new graft.workflow.Engine(s, new graft.core.Catalog("sess"))
      eng.run(graft.workflow.Workflow.parse("""{
        "name": "hist", "tasks": [
          {"name": "make", "operator": "oph_randcube",
           "arguments": ["nrows=4", "array_length=4", "container=c"]},
          {"name": "skipme", "operator": "oph_randcube",
           "arguments": ["nrows=8", "array_length=2", "container=c"],
           "run": "no"},
          {"name": "loop", "operator": "oph_for",
           "arguments": ["key=i", "counter=1:2"]},
          {"name": "lite", "operator": "oph_apply",
           "arguments": ["query=oph_mul_scalar(measure, @i)"],
           "dependencies": [{"task": "make", "type": "single"}]},
          {"name": "loop_end", "operator": "oph_endfor"}
        ]}"""))
      val listing = eng.runDataOperator("oph_resume", Map(
        "id_type" -> "marker", "level" -> "3",
        "document_type" -> "request", "status_filter" -> "11111111"))
        .grid.get.values
      val replayed = listing.map { row =>
        val marker = row(3).toInt
        val doc = eng.runDataOperator("oph_resume", Map(
          "id" -> marker.toString, "id_type" -> "marker",
          "document_type" -> "request")).message
        (row(2).toInt, marker, row(5).toInt, row(6), doc)
      }
      import s.implicits._
      replayed.toDF("wf_id", "marker", "parent", "command", "replayed_doc")
    }),

    "workflow_massive" -> ((s, dir) => {
      // OPH_MASSIVE end-to-end (`oph_workflow_engine.c:1002-1057`): a
      // `cube=[container=li;level=1]` filter fans oph_apply out over
      // every level-1 cube (the three subsets, NOT the level-0 import),
      // the fan-out's minted pids route into oph_mergecubes through the
      // dependency surface (output_order indexing + the `filter` subset
      // grammar on the third edge), and oph_reduce collapses the merged
      // arrays — so the hash depends on the filter matching EXACTLY the
      // three subset cubes and the per-cube transform running on each.
      val eng = new graft.workflow.Engine(s, new graft.core.Catalog("sess"))
      val res = eng.run(graft.workflow.Workflow.parse(s"""{
        "name": "wf", "tasks": [
          {"name": "imp", "operator": "oph_importnc",
           "arguments": ["src_path=$dir/lineitem.parquet",
             "measure=l_quantity", "exp_dim=l_orderkey",
             "imp_dim=l_linenumber", "container=li"]},
          {"name": "s1", "operator": "oph_subset",
           "arguments": ["subset_dims=l_linenumber", "subset_filter=1:1"],
           "dependencies": [{"task": "imp", "type": "single"}]},
          {"name": "s2", "operator": "oph_subset",
           "arguments": ["subset_dims=l_linenumber", "subset_filter=2:2"],
           "dependencies": [{"task": "imp", "type": "single"}]},
          {"name": "s3", "operator": "oph_subset",
           "arguments": ["subset_dims=l_linenumber", "subset_filter=3:3"],
           "dependencies": [{"task": "imp", "type": "single"}]},
          {"name": "mass", "operator": "oph_apply",
           "arguments": ["query=oph_mul_scalar(measure, 2)",
             "cube=[container=li;level=1]"],
           "dependencies": [{"task": "s1", "type": "single"},
             {"task": "s2", "type": "single"},
             {"task": "s3", "type": "single"}]},
          {"name": "cat", "operator": "oph_mergecubes", "arguments": [],
           "dependencies": [
             {"task": "mass", "argument": "cubes", "type": "all",
              "order": "0", "output_order": "0"},
             {"task": "mass", "argument": "cubes", "type": "all",
              "order": "1", "output_order": "1"},
             {"task": "mass", "argument": "cubes", "type": "all",
              "order": "2", "filter": "3", "output_order": "0"}]},
          {"name": "red", "operator": "oph_reduce",
           "arguments": ["operation=sum"],
           "dependencies": [{"task": "cat", "type": "single"}]}
        ]}"""))
      require(res("mass").outputs.size == 3,
        s"massive fan-out minted ${res("mass").outputs.size} cubes, want 3")
      eng.cube(res("red").cubePid.get).get.df
        .select(col("l_orderkey"), round(col("l_quantity"), 4).as("val"))
    }),

    "workflow_massive_wide" -> ((s, dir) => {
      // the reference's core competency at WIDTH (VERDICT r11 #8): a
      // 24-branch parallel oph_for subsets the imported cube into
      // disjoint interleaved order slices (index grammar @i:24:N, stride partition of the order axis),
      // then TWO massive container-filter fan-outs run oph_apply and
      // oph_reduce over every minted cube — 24 concurrent branches,
      // 48 massive-expanded light tasks, one union hash over all 24
      // outputs. The slices partition the order axis, so the oracle
      // is the plain per-order sum over the whole table: the hash
      // breaks if any branch is lost, duplicated, or mis-sliced.
      val eng = new graft.workflow.Engine(s, new graft.core.Catalog("sess"))
      val branches = 24
      val res = eng.run(graft.workflow.Workflow.parse(s"""{
        "name": "wf", "tasks": [
          {"name": "imp", "operator": "oph_importnc",
           "arguments": ["src_path=$dir/lineitem.parquet",
             "measure=l_quantity", "exp_dim=l_orderkey",
             "imp_dim=l_linenumber", "container=liw"]},
          {"name": "loop", "operator": "oph_for",
           "arguments": ["key=i", "values=${(1 to branches).mkString("|")}",
             "parallel=yes"]},
          {"name": "sub", "operator": "oph_subset",
           "arguments": ["subset_dims=l_orderkey", "subset_type=index",
             "subset_filter=@i:$branches:999999999"],
           "dependencies": [{"task": "imp", "type": "single"}]},
          {"name": "end", "operator": "oph_endfor"},
          {"name": "mass", "operator": "oph_apply",
           "arguments": ["query=oph_mul_scalar(measure, 3)",
             "cube=[container=liw;level=1]"]},
          {"name": "red", "operator": "oph_reduce",
           "arguments": ["operation=sum",
             "cube=[container=liw;level=2]"]}
        ]}"""))
      require(res("mass").outputs.size == branches,
        s"massive apply fanned ${res("mass").outputs.size}, want $branches")
      require(res("red").outputs.size == branches,
        s"massive reduce fanned ${res("red").outputs.size}, want $branches")
      res("red").outputs.map(p => eng.cube(p).get.df)
        .reduce(_.unionByName(_))
        .select(col("l_orderkey"), round(col("l_quantity"), 4).as("val"))
    }),

    // ---------------------------------- array-measure oph_aggregate
    "aggregate_arrays" -> ((s, dir) => {
      // collapse the l_orderkey dim ELEMENTWISE: cell i sums the i-th
      // lineitem quantity across every order (ragged arrays: cell i
      // aggregates exactly the orders that HAVE an i-th item)
      val agg = CubeOps.aggregateArrays(liCube(s, dir), Seq.empty, "sum")
      agg.df.select(posexplode(col("l_quantity")).as(Seq("__p", "__v")))
        .select((col("__p") + 1).cast("long").as("pos"),
          round(col("__v"), 2).as("qty"))
    }),

    "aggregate_arrays_avg" -> ((s, dir) => {
      val agg = CubeOps.aggregateArrays(liCube(s, dir), Seq.empty, "avg")
      agg.df.select(posexplode(col("l_quantity")).as(Seq("__p", "__v")))
        .select((col("__p") + 1).cast("long").as("pos"),
          round(col("__v"), 4).as("qty"))
    }),

    // ------------------------------- 2-implicit-dim reduce2/permute2
    "reduce2_inner" -> ((s, dir) => {
      // dense (year x month) order-count grid per priority; reduce
      // along the INNER dim (month) -> yearly counts. Counts are
      // integers: exact in doubles, no rounding needed.
      val c = ordersGrid2(s, dir)
      val red = CubeOps.reduce2(c, "m", "sum")
      red.df.select(col("p"),
          posexplode(col("n_orders")).as(Seq("__p", "__v")))
        .select(col("p"), (col("__p") + 1).cast("long").as("ypos"),
          col("__v").cast("long").as("n"))
    }),

    "reduce2_outer" -> ((s, dir) => {
      // reduce along the OUTER dim (year) of the same dense grid ->
      // a 12-cell monthly profile per priority; exercises the strided
      // (non-contiguous) reduction path of the 2-implicit-dim layout
      val c = ordersGrid2(s, dir)
      val red = CubeOps.reduce2(c, "y", "sum")
      red.df.select(col("p"),
          posexplode(col("n_orders")).as(Seq("__p", "__v")))
        .select(col("p"), (col("__p") + 1).cast("long").as("mpos"),
          col("__v").cast("long").as("n"))
    }),

    "permute2_flat" -> ((s, dir) => {
      // transpose the (year x month) grid to (month x year) and flatten
      // with the row-major index arithmetic of the NEW shape
      val c = ordersGrid2(s, dir)
      val tr = CubeOps.permute2(c)
      tr.df.select(col("p"),
          posexplode(col("n_orders")).as(Seq("__k", "__v")))
        .select(col("p"),
          (floor(col("__k") / 7) + 1).cast("long").as("mpos"),
          (pmod(col("__k"), lit(7)) + 1).cast("long").as("ypos"),
          col("__v").cast("long").as("n"))
    }),

    // -------------------------- n-implicit-dim permute/reduce (3-D)
    "permute3_order" -> ((s, dir) => {
      // permutation_order (st, y, m) over the (y, m, st) grid — a
      // genuine 3-axis rotation, not a reverse; flatten with the NEW
      // shape's row-major arithmetic (st outer, then year, then month)
      val tr = CubeOps.permuteN(ordersGrid3(s, dir), Seq("st", "y", "m"))
      tr.df.select(col("p"),
          posexplode(col("n_orders")).as(Seq("__k", "__v")))
        .select(col("p"),
          (floor(col("__k") / (7 * 12)) + 1).cast("long").as("spos"),
          (pmod(floor(col("__k") / 12), lit(7)) + 1).cast("long").as("ypos"),
          (pmod(col("__k"), lit(12)) + 1).cast("long").as("mpos"),
          col("__v").cast("long").as("n"))
    }),

    "reduce3_mid" -> ((s, dir) => {
      // reduce along the MIDDLE axis (month) of the 3-D grid — the
      // strided-gather path a 2-D layout cannot express; out shape
      // (year 7 x status 3)
      val red = CubeOps.reduceN(ordersGrid3(s, dir), "m", "sum")
      red.df.select(col("p"),
          posexplode(col("n_orders")).as(Seq("__k", "__v")))
        .select(col("p"),
          (floor(col("__k") / 3) + 1).cast("long").as("ypos"),
          (pmod(col("__k"), lit(3)) + 1).cast("long").as("spos"),
          col("__v").cast("long").as("n"))
    }),

    "sketch_quantile" -> ((s, dir) => {
      // mergeable DDSketch-style quantile Aggregator: the 100 TB path
      // for explicit-dim quantiles (no sort, order-independent merge).
      // Approximate by design, so the ORACLE pins (a) the exact median
      // per group against DuckDB's quantile_cont and (b) that the
      // sketch answer sits inside the exact median's error band
      // (alpha + one value-grid step of interpolation slack); a sketch
      // drifting out of band flips in_band and fails the hash
      val udaf = graft.functions.QuantileSketch.quantileUdaf(0.5, alpha = 0.01)
      t(s, dir, "lineitem").groupBy(col("l_returnflag"))
        .agg(udaf(col("l_quantity")).as("__sk"),
          expr("percentile(l_quantity, 0.5)").as("__med"))
        .select(col("l_returnflag"),
          round(col("__med"), 4).as("median_qty"),
          (abs(col("__sk") - col("__med")) <=
            col("__med") * 0.02 + lit(1.0)).as("in_band"))
    }),

    "multimodal_features" -> ((s, dir) => {
      // binary media columns -> REAL PNG decode (javax.imageio) ->
      // relational stats; the synthetic PNGs have arithmetically
      // predictable dimensions and solid colors, so a SQL oracle
      // verifies the actual codec path (a fake decode would mismatch)
      val media = graft.pipeline.Multimodal.syntheticPngMedia(s, 200)
      graft.pipeline.Multimodal.imageStats(media)
    }),

    "multimodal_audio" -> ((s, dir) => {
      // binary audio columns -> REAL WAV decode (javax.sound.sampled)
      // -> waveform stats; the synthetic square waves make rms exactly
      // the amplitude and the zero-crossing count closed-form, so the
      // SQL oracle verifies the true codec path end to end
      val media = graft.pipeline.Multimodal.syntheticWavMedia(s, 200)
      graft.pipeline.Multimodal.audioStats(media)
    }),

    "jsonl_roundtrip" -> ((s, dir) => {
      // JSONL source/sink: documents -> write.json (one JSON object
      // per line, the lingua franca of crawl pipelines) -> read back
      // with explicit schema -> aggregate fingerprint. The oracle
      // computes the same aggregates straight from the parquet table,
      // so any unfaithful escape/encode/decode breaks the hash.
      val tmp = java.nio.file.Files.createTempDirectory("graft_jsonl")
      tmp.toFile.deleteOnExit()
      val docs = t(s, dir, "documents")
      docs.write.mode("overwrite").json(tmp.toString)
      val back = s.read.schema(docs.schema).json(tmp.toString)
      back.agg(
        count(lit(1)).as("n"),
        sum(col("doc_id")).as("sum_id"),
        sum(length(col("text"))).as("sum_len"),
        countDistinct(col("lang")).as("n_langs"),
        countDistinct(md5(col("text"))).as("n_texts"),
        max(md5(col("text"))).as("max_md5"))
    }),

    "sink_partitioned" -> ((s, dir) => {
      // partitioned training-shard sink: write the corpus partitioned
      // by language (the standard on-disk layout for mixture-weighted
      // training reads), read it back through partition discovery and
      // fingerprint per language. Partition pruning on the read side
      // is what makes per-language budget reads O(partition) at 100 TB.
      val tmp = java.nio.file.Files.createTempDirectory("graft_shards")
      tmp.toFile.deleteOnExit()
      t(s, dir, "documents").write.mode("overwrite")
        .partitionBy("lang").parquet(tmp.toString)
      s.read.parquet(tmp.toString)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n"), sum(col("doc_id")).as("sum_id"),
          max(md5(col("text"))).as("max_md5"))
    }),

    "orc_roundtrip" -> ((s, dir) => {
      // ORC source/sink (the OTHER columnar interchange format big
      // warehouses hand over): documents -> write.orc -> read back ->
      // aggregate fingerprint computed independently from parquet on
      // the oracle side, so any value/encoding infidelity in the ORC
      // path breaks the hash
      val tmp = java.nio.file.Files.createTempDirectory("graft_orc")
      tmp.toFile.deleteOnExit()
      val docs = t(s, dir, "documents")
      docs.write.mode("overwrite").orc(tmp.toString)
      s.read.orc(tmp.toString).agg(
        count(lit(1)).as("n"),
        sum(col("doc_id")).as("sum_id"),
        sum(length(col("text"))).as("sum_len"),
        countDistinct(col("lang")).as("n_langs"),
        countDistinct(md5(col("text"))).as("n_texts"),
        max(md5(col("text"))).as("max_md5"))
    }),

    "avro_roundtrip" -> ((s, dir) => {
      // Avro object-container source/sink built on the avro CORE lib
      // (no spark-avro module needed): documents -> one deflate
      // container per partition -> parallel readback -> aggregate
      // fingerprint vs the parquet-side oracle
      val tmp = java.nio.file.Files.createTempDirectory("graft_avro")
      tmp.toFile.deleteOnExit()
      val docs = t(s, dir, "documents")
      graft.sources.AvroIO.write(docs, tmp.toString)
      graft.sources.AvroIO.read(s, tmp.toString, docs.schema)
        .agg(
          count(lit(1)).as("n"),
          sum(col("doc_id")).as("sum_id"),
          sum(length(col("text"))).as("sum_len"),
          countDistinct(col("lang")).as("n_langs"),
          countDistinct(md5(col("text"))).as("n_texts"),
          max(md5(col("text"))).as("max_md5"))
    }),

    "sketch_hll" -> ((s, dir) =>
      // HyperLogLog++ distinct-user counts per event type: the sketch
      // is the 100 TB path (fixed-size mergeable registers, no
      // distinct shuffle); the oracle pins the exact count and that
      // the estimate sits inside the error band (sketch_quantile's
      // in-band pattern) so estimator drift fails the hash
      graft.pipeline.Sketches.hllDistinctBand(
        events(s, dir), "event_type", "user_id")),

    "sketch_countmin" -> ((s, dir) => {
      // Count-Min point-frequency sketch: depth x width counters built
      // per partition and tree-merged (no shuffle, no key set
      // anywhere) answer frequency queries for ANY key — the third
      // sketch family next to heavy hitters (specific keys) and HLL
      // (distinct counts). The oracle pins the exact probe counts plus
      // the structural one-sided guarantee (estimates never
      // undercount) and a width-derived error band; the hashes are
      // deterministic so the flags are stable per dataset.
      import s.implicits._
      val orders = t(s, dir, "orders")
      val cm = graft.pipeline.Sketches.countMin(orders, "o_custkey")
      val probes = Seq(1L, 2L, 5L, 7L, 11L, 100L, 101L)
      val est = probes.map(k => (k, cm.estimate(k)))
        .toDF("o_custkey", "cm_est")
      val exact = orders.filter(col("o_custkey").isin(probes: _*))
        .groupBy(col("o_custkey")).agg(count(lit(1)).as("exact_n"))
      val slack = 4L * cm.total / cm.width
      est.join(exact, Seq("o_custkey"), "left")
        .select(col("o_custkey"),
          coalesce(col("exact_n"), lit(0L)).as("exact_n"),
          (col("cm_est") >= coalesce(col("exact_n"), lit(0L)))
            .as("never_undercounts"),
          (col("cm_est") <= coalesce(col("exact_n"), lit(0L)) + lit(slack))
            .as("in_band"))
    }),

    "profile_orders" -> ((s, dir) => {
      // one-pass relational profiling (the ingest health report):
      // row/null/distinct counts with the HLL estimate pinned in-band,
      // min/max rendered through DECIMAL so both engines print
      // identical fixed-scale text. One aggregation pass; the result
      // is |columns| x 7, bounded by the schema.
      // o_orderdate is excluded: its PHYSICAL parquet type varies by
      // generation (nanos long vs micros timestamp), so the two
      // engines would profile different logical types
      // 8 shuffle partitions: the per-column exact-distinct jobs are
      // scheduling-sized (a handful of MB each) — 32 partitions just
      // multiplies tiny tasks across the 5 jobs
      withShufflePartitions(s, 8) {
        graft.pipeline.Profile.profile(s, t(s, dir, "orders"),
          Seq("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority"))
      }
    }),

    "profile_documents" -> ((s, dir) =>
      // the corpus health report: the same one-pass profile over the
      // documents table, exercising the TEXT min/max policy — string
      // columns report their character-length envelope (lexicographic
      // extremes are collation-dependent across engines and useless as
      // a health signal; the length envelope catches truncated and
      // runaway documents). Scheduling-sized like profile_orders.
      withShufflePartitions(s, 8) {
        graft.pipeline.Profile.profile(s, t(s, dir, "documents"),
          Seq("doc_id", "text", "lang", "source", "n_chars"))
      }),

    "profile_embeddings" -> ((s, dir) =>
      // the ANN preflight: null vectors, dimensionality drift against
      // the modal dim, zero norms (cosine poison), and the norm range
      // — one aggregation pass plus a tiny (dim, count) modal lookup
      graft.pipeline.Profile.profileEmbeddings(
        t(s, dir, "embeddings"), "embedding")),

    "sketch_topk" -> ((s, dir) => {
      // exact heavy hitters, sketch-pruned: every third event
      // collapses onto 5 hot users (deterministic plant, same
      // arithmetic oracle-side), then per-partition Misra-Gries
      // summaries nominate candidates and one broadcast semi-join
      // confirms exact counts above total/k — the full-keyspace
      // groupBy never happens
      val keyed = events(s, dir).select(
        when(col("event_id") % 3 === 0, col("user_id") % 5)
          .otherwise(col("user_id")).as("uid"))
      graft.pipeline.Sketches.heavyHitters(s, keyed, "uid", k = 64)
    }),

    "zorder_cluster" -> ((s, dir) => {
      // Z-order (Morton) clustering for multi-dimensional file
      // pruning: interleave the low 16 bits of two uncorrelated keys;
      // cutting files along the curve gives every file a narrow
      // min/max envelope on BOTH columns, so scans filtered on EITHER
      // key skip most files — the layout Delta/Iceberg OPTIMIZE
      // ZORDER produces, computed here as pure codegen'd bit
      // arithmetic (identical expression on the oracle side)
      val a = pmod(col("l_orderkey"), lit(65536L))
      val b = pmod(col("l_partkey"), lit(65536L))
      def bit(c: Column, i: Int): Column =
        shiftright(c, i).bitwiseAND(lit(1L))
      val morton = (0 until 16).map(i =>
        shiftleft(bit(a, i), 2 * i + 1) + shiftleft(bit(b, i), 2 * i))
        .reduce(_ + _)
      t(s, dir, "lineitem")
        .select(shiftright(morton, 22).as("zfile"),
          col("l_orderkey"), col("l_partkey"))
        .groupBy(col("zfile"))
        .agg(count(lit(1)).as("n"),
          min(col("l_orderkey")).as("min_ok"),
          max(col("l_orderkey")).as("max_ok"),
          min(col("l_partkey")).as("min_pk"),
          max(col("l_partkey")).as("max_pk"))
    }),

    "join_bucketed" -> ((s, dir) => {
      // bucketed co-located join: both sides written bucketBy the join
      // key into a bucketed table, so the sort-merge join reads bucket
      // files pairwise with ZERO Exchange on either side (plan-asserted
      // in JoinsSpec) — the pre-shuffled layout that makes a repeated
      // 100 TB fact-fact join pay its shuffle once at write time
      val wh = java.nio.file.Files.createTempDirectory("graft_buckets")
      wh.toFile.deleteOnExit()
      s.sql("DROP TABLE IF EXISTS graft_b_li")
      s.sql("DROP TABLE IF EXISTS graft_b_ord")
      t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
        .write.format("parquet").bucketBy(8, "l_orderkey")
        .sortBy("l_orderkey")
        .option("path", s"$wh/li").mode("overwrite")
        .saveAsTable("graft_b_li")
      t(s, dir, "orders").select(col("o_orderkey"), col("o_orderpriority"))
        .write.format("parquet").bucketBy(8, "o_orderkey")
        .sortBy("o_orderkey")
        .option("path", s"$wh/ord").mode("overwrite")
        .saveAsTable("graft_b_ord")
      s.table("graft_b_li").join(s.table("graft_b_ord"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
            .as("rev"))
    }),

    "events_stream_session_window" -> ((s, dir) =>
      // noDataBatch = false: COMPLETE-mode aggregation re-emits its
      // entire result table at every trigger, and in complete mode
      // the watermark finalizes nothing (all state is retained by
      // definition) — so the trailing no-data batch's only effect is
      // one more full state-store scan + full memory-sink rewrite of
      // every session row. At the 100x replica that second emit is
      // pure waste; the final table is identical with or without it.
      withStreamTuning(s,
        sessionWindowParts(tableBytes(s, s"$dir/events.parquet")),
        noDataBatch = false) {
      // NATIVE session windows (vs events_stream_sessions' custom
      // mapGroupsWithState machine): session_window merges events
      // whose gaps stay under the threshold into one state-store
      // window per session. Gap 1800001 ms makes the half-open window
      // semantics split exactly where the batch oracle's `gap >
      // 1800000` does, so sessions-per-user hash-matches the same
      // gap-count oracle.
      val ev = stagedEventsStream(s, dir)
      val sess = ev.withWatermark("ts", "2 hours")
        .groupBy(col("user_id"),
          session_window(col("ts"), "1800001 milliseconds"))
        .agg(count(lit(1)).as("n_events"))
      val q = sess.writeStream.format("memory")
        .queryName("events_stream_session_window").outputMode("complete")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.table("events_stream_session_window")
        .groupBy(col("user_id"))
        .agg(count(lit(1)).cast("long").as("n_sessions"))
    }),

    "events_stream_enrich" -> ((s, dir) =>
      // noDataBatch = false (same argument as session_window): in
      // COMPLETE mode the trailing no-data batch re-emits the entire
      // identical result table (the watermark finalizes nothing and
      // AvailableNow delivers all data in the data batches), so its
      // only effect is one more full state scan + memory-sink rewrite
      // plus a round of checkpoint commits.
      withStreamTuning(s, 8, noDataBatch = false) {
      // STREAM-STATIC join (the remaining join shape): the stream
      // enriches each event with a batch-computed per-user history
      // table (broadcast — no stream-side shuffle, no state store) and
      // gates on it. The history side is exact integers so the gate
      // has no floating-point boundary; the batch self-join oracle
      // must hash-match.
      val hist = events(s, dir).groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_hist"))
      val ev = stagedEventsStream(s, dir)
      val joined = ev.join(broadcast(hist), Seq("user_id"))
        .filter(col("n_hist") >= 60)
      val agg = joined.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sv"))
      val q = agg.writeStream.format("memory")
        .queryName("events_stream_enrich").outputMode("complete")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.table("events_stream_enrich")
    }),

    "events_stream_pipeline" -> ((s, dir) => withShufflePartitions(s, 8) {
      // the composed STREAMING ingest pipeline (the streaming analog of
      // pipeline_corpus): doubled drop -> watermark-bounded exact dedup
      // -> quality gate (stateless filter) -> transactional parquet
      // sink -> readback aggregate. Every stage is the production
      // bounded-state shape; the single-corpus batch oracle must match.
      val out = java.nio.file.Files.createTempDirectory("graft_spipe")
      val ckpt = java.nio.file.Files.createTempDirectory("graft_spipe_ck")
      out.toFile.deleteOnExit(); ckpt.toFile.deleteOnExit()
      val ev = stagedEventsStream(s, dir, copies = 2)
      val q = ev.withWatermark("ts", "48 hours")
        .dropDuplicatesWithinWatermark("event_id")
        .filter(col("event_type").isin("click", "purchase") &&
          col("value") > 10.0)
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"))
        .writeStream.format("parquet")
        .option("path", out.toString)
        .option("checkpointLocation", ckpt.toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.read.parquet(out.toString)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("event_id")).as("sum_id"),
          round(sum(col("value")), 2).as("sv"))
    }),

    "events_stream_aggstate" -> ((s, dir) => withShufflePartitions(s, 8) {
      // streaming maintenance of a MERGEABLE aggregate state: three
      // micro-batches (copies=3, one file per trigger) fold into the
      // persisted per-user n/sum/min/max snapshot via the
      // batch-id-guarded atomic-pointer commit (AggStateSink) — the
      // streaming face of agg_incremental. The oracle recomputes over
      // the tripled event log from scratch; equality proves the
      // sequential merges lost and double-counted nothing.
      val stateDir =
        java.nio.file.Files.createTempDirectory("graft_aggstate")
      val ckpt =
        java.nio.file.Files.createTempDirectory("graft_aggstate_ck")
      stateDir.toFile.deleteOnExit(); ckpt.toFile.deleteOnExit()
      val ev = stagedEventsStream(s, dir, copies = 3,
        maxFilesPerTrigger = 1)
      val q = ev.select(col("user_id"), col("value"))
        .writeStream
        .option("checkpointLocation", ckpt.toString)
        .foreachBatch { (batch: DataFrame, id: Long) =>
          graft.streaming.AggStateSink.commit(s, stateDir.toString,
            id, batch, Seq("user_id"), "value")
          ()
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      graft.streaming.AggStateSink.read(s, stateDir.toString).get
        .select(col("user_id"), col("n"),
          round(col("sum_v"), 2).as("sv"), col("min_v"), col("max_v"))
    }),

    "events_stream_anomaly" -> ((s, dir) => withShufflePartitions(s, 8) {
      // streaming rolling-anomaly flags: the log splits at its median
      // timestamp into two drops processed as SEPARATE micro-batches,
      // so each user's 20-value ring must SURVIVE the batch boundary
      // for the flags to equal the batch operator's — which is what
      // the shared events_anomaly oracle checks
      val ckpt = java.nio.file.Files.createTempDirectory("graft_sanom_ck")
      ckpt.toFile.deleteOnExit()
      val flagged = graft.streaming.EventStream.anomalyStream(s,
        stagedEventsSplitStream(s, dir))
      val q = flagged.writeStream.format("memory")
        .queryName("events_stream_anomaly").outputMode("append")
        .option("checkpointLocation", ckpt.toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.table("events_stream_anomaly")
    }),

    "events_stream_anomaly_evict" -> ((s, dir) =>
        withShufflePartitions(s, 8) {
      // evicting form: the ring RESETS at >12h idle gaps (in-fold, so
      // in-batch and cross-batch gaps behave identically) and
      // EventTimeTimeout removes idle state without changing flags;
      // the oracle segments each user's timeline at the same gaps
      val ckpt = java.nio.file.Files.createTempDirectory("graft_sanev_ck")
      ckpt.toFile.deleteOnExit()
      val flagged = graft.streaming.EventStream.anomalyStreamEvicting(
        s, stagedEventsSplitStream(s, dir))
      val q = flagged.writeStream.format("memory")
        .queryName("events_stream_anomaly_evict").outputMode("append")
        .option("checkpointLocation", ckpt.toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.table("events_stream_anomaly_evict")
    }),

    "events_stream_cdc" -> ((s, dir) => withShufflePartitions(s, 8) {
      // streaming CDC materialization: each micro-batch applies
      // last-writer-wins onto the snapshot (the snapshot re-enters as
      // seq -1 inserts below every real sequence). Three identical
      // re-delivered batches must leave the state EXACTLY the batch
      // cdcApply of the log — upsert idempotence under at-least-once
      val stateDir =
        java.nio.file.Files.createTempDirectory("graft_cdcstate")
      val ckpt =
        java.nio.file.Files.createTempDirectory("graft_cdcstate_ck")
      stateDir.toFile.deleteOnExit(); ckpt.toFile.deleteOnExit()
      val ev = stagedEventsStream(s, dir, copies = 3,
        maxFilesPerTrigger = 1)
      val log = ev.select(pmod(col("event_id"), lit(997)).as("k"),
        col("event_id").as("seq"),
        when(pmod(col("event_id"), lit(10)) === 0, "D")
          .when(pmod(col("event_id"), lit(10)) < 3, "I")
          .otherwise("U").as("op"),
        col("value").as("v"), col("event_type").as("et"))
      val q = log.writeStream
        .option("checkpointLocation", ckpt.toString)
        .foreachBatch { (batch: DataFrame, id: Long) =>
          graft.streaming.AggStateSink.commitWith(s, stateDir.toString,
            id) { prev =>
            val full = prev match {
              case Some(st) => st.select(col("k"),
                lit(-1L).as("seq"), lit("I").as("op"), col("v"),
                col("et")).unionByName(batch)
              case None => batch
            }
            graft.operators.Warehouse.cdcApply(full, "k", "seq", "op",
              Seq("v", "et"))
          }
          ()
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      graft.streaming.AggStateSink.read(s, stateDir.toString).get
    }),

    "events_stream_sink" -> ((s, dir) => withShufflePartitions(s, 8) {
      // transactional streaming FILE sink: stream -> stateless
      // project/filter -> parquet sink with checkpoint. The sink's
      // _spark_metadata log commits files atomically per batch
      // (exactly-once on restart — spec-tested in EventStreamSpec);
      // the readback aggregate must equal the batch oracle.
      val out = java.nio.file.Files.createTempDirectory("graft_ssink")
      val ckpt = java.nio.file.Files.createTempDirectory("graft_ssink_ck")
      out.toFile.deleteOnExit(); ckpt.toFile.deleteOnExit()
      val ev = stagedEventsStream(s, dir)
      val q = ev.filter(col("event_type").isin("click", "view", "purchase"))
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"))
        .writeStream.format("parquet")
        .option("path", out.toString)
        .option("checkpointLocation", ckpt.toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.read.parquet(out.toString)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("user_id")).as("n_users"),
          round(sum(col("value")), 2).as("sv"))
    }),

    "events_stream_session_log" -> ((s, dir) => withShufflePartitions(s,
      // state partitions from INPUT SIZE (the session_window rule): 8
      // at sf0.1 (commit-bound, keeps the committed floor shape), 32
      // at the 100x replica, where the pinned 8 starved the stateful
      // operator (run_ms/wall ~ 1.2; the r19 StreamAB sessionlog grid
      // read min 28.6 s at 8 partitions vs 21.4-22.2 s at 16-32 —
      // ~25%). RocksDB + changelog checkpointing measured within
      // noise on the same grid (min 20.5 vs 22.2) and stays off.
      // Partition count only re-buckets the per-user state groups —
      // re-oracled at sf0.01.
      sessionWindowParts(tableBytes(s, s"$dir/events.parquet"))) {
      // flatMapGroupsWithState: one row PER CLOSED SESSION (index,
      // event count, duration) — the stateful emit-many shape. The
      // oracle recomputes the closed-session log with batch window
      // arithmetic and drops each user's final (still-open) session,
      // which the stream must never have emitted.
      val ev = stagedEventsStream(s, dir)
      val log = graft.streaming.EventStream.sessionLog(s, ev)
      val q = log.writeStream.format("memory")
        .queryName("events_stream_session_log").outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.table("events_stream_session_log")
    }),

    "events_stream_dedup_wm" -> ((s, dir) =>
      // noDataBatch = false (same argument as session_window): in
      // COMPLETE mode the trailing no-data batch re-emits the entire
      // identical result table (the watermark finalizes nothing and
      // AvailableNow delivers all data in the data batches), so its
      // only effect is one more full state scan + memory-sink rewrite
      // plus a round of checkpoint commits.
      withStreamTuning(s, 8, noDataBatch = false) {
      // BOUNDED-STATE streaming dedup: dropDuplicatesWithinWatermark
      // evicts each key once the watermark passes its event time +
      // delay — the production shape events_stream_dedup's unbounded
      // dropDuplicates documents but does not exercise. The doubled
      // drop arrives inside one AvailableNow batch (2 files <
      // maxFilesPerTrigger), so every duplicate lands within the
      // watermark window and the single-corpus oracle must hash-match.
      val ev = stagedEventsStream(s, dir, copies = 2)
      val deduped = ev.withWatermark("ts", "48 hours")
        .dropDuplicatesWithinWatermark("event_id")
      val agg = deduped.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sv"))
      val q = agg.writeStream.format("memory")
        .queryName("events_stream_dedup_wm").outputMode("complete")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.table("events_stream_dedup_wm")
    }),

    "events_stream_sessions_evict" -> ((s, dir) => withShufflePartitions(s, 8) {
      // EVENT-TIME STATE EVICTION inside the correctness gate:
      // mapGroupsWithState with EventTimeTimeout emits a TERMINAL
      // closed=true row per user only when the watermark passes
      // (last + gap) and its state is removed. The flush sentinels
      // push the watermark past every user, so equality with the batch
      // gap-count oracle proves the eviction path fired for each one —
      // a closed row cannot be produced any other way.
      val ev = stagedEventsWithFlush(s, dir, gapMs = 1800000L)
      val sess = graft.streaming.EventStream.sessionizeEvicting(s, ev,
        gapMillis = 1800000L, watermark = "1 second")
      val q = sess.writeStream.format("memory")
        .queryName("events_stream_sessions_evict").outputMode("update")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.table("events_stream_sessions_evict")
        .filter(col("closed") && col("userId") =!= FlushUser)
        .select(col("userId").cast("long").as("user_id"),
          col("sessions").cast("long").as("n_sessions"))
    }),

    "events_stream_session_log_evict" -> ((s, dir) => withShufflePartitions(s,
      // input-sized state partitions, same grid evidence as
      // events_stream_session_log above (this is the cell the r19
      // StreamAB sessionlog grid actually times: flatMapGroupsWithState
      // + EventTimeTimeout; 17.2 s of task GC at 8 partitions came
      // down to in-gate with the 4x parallelism)
      sessionWindowParts(tableBytes(s, s"$dir/events.parquet"))) {
      // flatMapGroupsWithState + EventTimeTimeout: the emitted log must
      // equal the COMPLETE batch session log — trailing sessions
      // included, which the NoTimeout form (events_stream_session_log)
      // structurally cannot emit; those rows exist only because the
      // watermark evicted their state
      val ev = stagedEventsWithFlush(s, dir, gapMs = 1800000L)
      val log = graft.streaming.EventStream.sessionLogEvicting(s, ev,
        gapMillis = 1800000L, watermark = "1 second")
      val q = log.writeStream.format("memory")
        .queryName("events_stream_session_log_evict").outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.table("events_stream_session_log_evict")
        .filter(col("user_id") =!= FlushUser)
    }),

    "events_stream_compact" -> ((s, dir) => withShufflePartitions(s, 8) {
      // TRANSACTIONAL SMALL-FILE COMPACTION of the exactly-once sink:
      // ingest (doubled drop -> watermark dedup -> filter -> parquet
      // sink) leaves one file per shuffle partition; a planted STRAY
      // file (failed-batch leftover) is invisible to the metadata-aware
      // read; compaction rewrites the committed set to one file and
      // swaps the sink log. The readback aggregate must hash-match the
      // single-corpus batch oracle — a compactor that globbed the
      // directory instead of reading the log would double the stray's
      // rows and fail, and any loss in the swap would too.
      val out = java.nio.file.Files.createTempDirectory("graft_scomp")
      val ckpt = java.nio.file.Files.createTempDirectory("graft_scomp_ck")
      out.toFile.deleteOnExit(); ckpt.toFile.deleteOnExit()
      val ev = stagedEventsStream(s, dir, copies = 2)
      val q = ev.withWatermark("ts", "48 hours")
        .dropDuplicatesWithinWatermark("event_id")
        .filter(col("event_type").isin("click", "purchase") &&
          col("value") > 10.0)
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"))
        .writeStream.format("parquet")
        .option("path", out.toString)
        .option("checkpointLocation", ckpt.toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val compaction = graft.streaming.SinkCompaction
      val nCommitted = s.read.parquet(out.toString).count()
      val committedFile = compaction.committedFiles(out.toString)._1.head
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(new java.net.URI(committedFile)),
        out.resolve("stray-uncommitted.parquet"))
      val strayExcluded = s.read.parquet(out.toString).count() == nCommitted
      val (nb, na) = compaction.compact(s, out.toString,
        targetFileBytes = 1L << 30)
      s.read.parquet(out.toString)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("event_id")).as("sum_id"),
          round(sum(col("value")), 2).as("sv"))
        .withColumn("compacted", lit(nb > 1 && na == 1))
        .withColumn("stray_excluded", lit(strayExcluded))
    }),

    "multimodal_video" -> ((s, dir) => {
      // binary video columns -> REAL MJPEG-AVI demux (pure-Scala RIFF
      // parser) + per-frame JPEG decode (javax.imageio); the synthetic
      // clips have closed-form dimensions / frame counts / fps, and
      // frames_decoded only reaches n_frames when every JPEG truly
      // decodes, so the SQL oracle verifies the whole video path
      val media = graft.pipeline.Multimodal.syntheticAviMedia(s, 200)
      graft.pipeline.Multimodal.videoStats(media)
    }),

    // --------------------------------------------------- oph_randcube
    "apply_dwt" -> ((s, dir) => {
      // oph_gsl_dwt (Daubechies-4, periodized, full pyramid) on a fixed
      // testdata-independent 16-series; the oracle pins the
      // coefficients computed by an INDEPENDENT dev-time replay of the
      // same filter bank (plus Parseval: energies match exactly).
      // round+0.0 canonicalizes IEEE -0.0 details so both sides hash
      // the same zero
      val series = (0 until 16).map(i => ((i * 37) % 19 + 0.5))
      import s.implicits._
      val df = Seq(Tuple1(series)).toDF("m")
      df.select(posexplode(
          ArrayPrimitives("oph_gsl_dwt(measure, 'db4')", col("m")))
          .as(Seq("p", "c")))
        .select((col("p") + 1).cast("long").as("pos"),
          (round(col("c"), 4) + lit(0.0)).as("coeff"))
    }),

    "randcube_reduce" -> ((s, dir) => {
      // randcube's generator is pmod(murmur3(key*31 + i + seed), 1000) —
      // Spark's hash() is a STABLE contract (bucketing depends on it),
      // so the seeded cube is exactly reproducible and the oracle pins
      // the digest values as literals (DuckDB has no murmur3 to replay
      // the generator itself)
      val rc = CubeOps.randcube(s, 1000, 16, seed = 42)
      val r = CubeOps.reduce(rc, "sum")
      r.df.groupBy(pmod(col("key"), lit(8)).cast("long").as("bucket"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("measure")), 4).as("s"),
          round(min(col("measure")), 4).as("lo"),
          round(max(col("measure")), 4).as("hi"))
    })
  ) ++ TpchQueries.queries

  // =====================================================================

  def oracleSql: Map[String, String] = Map(
    "subset_index" ->
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
         WHERE l_linenumber BETWEEN 1 AND 5 AND (l_linenumber - 1) % 2 = 0""",

    "subset_time" ->
      """SELECT l_orderkey, l_linenumber, l_quantity,
                strftime(l_shipdate, '%Y-%m-%d') AS ship
         FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1996-01-01'
           AND l_shipdate < TIMESTAMP '1997-01-01' AND l_quantity >= 25""",

    "subset_season" ->
      """SELECT l_orderkey, l_linenumber, l_quantity,
                strftime(l_shipdate, '%Y-%m-%d') AS ship
         FROM lineitem
         WHERE month(l_shipdate) IN (6, 7, 8)
           AND ((l_shipdate >= TIMESTAMP '1996-01-01' AND
                 l_shipdate < TIMESTAMP '1997-01-01') OR
                (l_shipdate >= TIMESTAMP '1997-01-01' AND
                 l_shipdate < TIMESTAMP '1998-01-01'))""",

    "setop_intersect" ->
      """SELECT l_orderkey FROM lineitem WHERE l_returnflag = 'A'
         INTERSECT
         SELECT l_orderkey FROM lineitem WHERE l_returnflag = 'N'""",

    "subset_implicit" ->
      """WITH ranked AS (
           SELECT l_orderkey, l_quantity,
                  row_number() OVER (PARTITION BY l_orderkey
                    ORDER BY l_linenumber, l_quantity) AS rn
           FROM lineitem)
         SELECT l_orderkey,
                CAST(row_number() OVER (PARTITION BY l_orderkey ORDER BY rn)
                  AS BIGINT) AS pos,
                l_quantity AS qty
         FROM ranked WHERE rn % 2 = 1""",

    "reduce_avg" ->
      """SELECT l_orderkey, round(avg(l_quantity), 4) AS avg_qty
         FROM lineitem GROUP BY l_orderkey""",

    "reduce_max" ->
      """SELECT l_orderkey, max(l_quantity) AS max_qty
         FROM lineitem GROUP BY l_orderkey""",

    "reduce_median" ->
      """SELECT l_orderkey, quantile_disc(l_quantity, 0.5) AS med_qty
         FROM lineitem GROUP BY l_orderkey""",

    "reduce_std" ->
      """SELECT l_orderkey, round(stddev_pop(l_quantity), 4) + 0.0 AS std_qty
         FROM lineitem GROUP BY 1""",

    "apply_predicate" ->
      """SELECT l_orderkey,
                CAST(row_number() OVER (PARTITION BY l_orderkey
                  ORDER BY l_linenumber, l_quantity) AS BIGINT) AS pos,
                CASE WHEN l_quantity > 25 THEN 1.0 ELSE 0.0 END AS flag
         FROM lineitem""",

    "duplicate_identity" ->
      """SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity
         FROM lineitem""",

    "reduce_cmoment" ->
      """SELECT l_orderkey,
                round(avg(power(l_quantity - m, 2)), 4) + 0.0 AS cm2
         FROM (SELECT l_orderkey, l_quantity,
                      avg(l_quantity) OVER (PARTITION BY l_orderkey) AS m
               FROM lineitem)
         GROUP BY 1""",

    "reduce_sum_block" ->
      """WITH ranked AS (
           SELECT l_orderkey, l_quantity,
                  row_number() OVER (PARTITION BY l_orderkey
                    ORDER BY l_linenumber, l_quantity) AS rn
           FROM lineitem)
         SELECT l_orderkey, CAST(ceil(rn / 4.0) AS BIGINT) AS blk,
                round(sum(l_quantity), 4) AS sum_qty
         FROM ranked GROUP BY 1, 2""",

    "aggregate_sum" ->
      """SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 2) AS sum_qty
         FROM lineitem GROUP BY 1, 2""",

    "aggregate2_month" ->
      """SELECT strftime(o_orderdate, '%Y-%m') AS omonth,
                round(sum(o_totalprice), 2) AS sum_price
         FROM orders GROUP BY 1""",

    "apply_mulscalar" ->
      """SELECT l_orderkey, round(sum(l_quantity) * 2, 4) AS val
         FROM lineitem GROUP BY 1""",

    "apply_moving_avg" ->
      """SELECT l_orderkey,
                CAST(row_number() OVER (PARTITION BY l_orderkey
                  ORDER BY l_linenumber, l_quantity) AS BIGINT) AS pos,
                round(avg(l_quantity) OVER (PARTITION BY l_orderkey
                  ORDER BY l_linenumber, l_quantity
                  ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4) AS mavg
         FROM lineitem""",

    "apply_shift" ->
      """SELECT l_orderkey,
                CAST(row_number() OVER w AS BIGINT) AS pos,
                lag(l_quantity, 1, 0) OVER w AS shifted
         FROM lineitem
         WINDOW w AS (PARTITION BY l_orderkey
                      ORDER BY l_linenumber, l_quantity)""",

    // dense 5-bin histogram per order; quantity = 50 falls outside the
    // half-open top bin, like the GSL histogram it mirrors
    "apply_histogram" ->
      """WITH keys AS (SELECT DISTINCT l_orderkey FROM lineitem),
         cnt AS (SELECT l_orderkey,
                        CAST(floor(l_quantity / 10) AS BIGINT) AS b,
                        count(*) AS c
                 FROM lineitem
                 WHERE l_quantity >= 0 AND l_quantity < 50 GROUP BY 1, 2)
         SELECT k.l_orderkey, CAST(t.i + 1 AS BIGINT) AS pos,
                CAST(coalesce(cnt.c, 0) AS BIGINT) AS cnt
         FROM keys k CROSS JOIN range(5) t(i)
         LEFT JOIN cnt ON cnt.l_orderkey = k.l_orderkey AND cnt.b = t.i""",

    // cumulative sin via an ordered window sum, same cell order as the
    // cube's implicit dim (l_linenumber, then value for ties)
    "apply_math_cum" ->
      """SELECT l_orderkey,
                CAST(row_number() OVER w AS BIGINT) AS pos,
                round(sum(sin(l_quantity)) OVER (PARTITION BY l_orderkey
                  ORDER BY l_linenumber, l_quantity
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4)
                  AS cum_sin
         FROM lineitem
         WINDOW w AS (PARTITION BY l_orderkey
                      ORDER BY l_linenumber, l_quantity)""",

    // stride-2 in-cell subset (positions 1,3,5,...) then mean/max/sum
    // in request order as positions 1..3
    "apply_subarray_stats" ->
      """WITH cells AS (
           SELECT l_orderkey, l_quantity,
                  row_number() OVER (PARTITION BY l_orderkey
                    ORDER BY l_linenumber, l_quantity) AS p
           FROM lineitem),
         sel AS (
           SELECT l_orderkey, avg(l_quantity) AS m, max(l_quantity) AS mx,
                  sum(l_quantity) AS sm
           FROM cells WHERE p % 2 = 1 GROUP BY 1)
         SELECT l_orderkey, CAST(1 AS BIGINT) AS pos, round(m, 4) AS stat
         FROM sel
         UNION ALL
         SELECT l_orderkey, CAST(2 AS BIGINT), round(mx, 4) FROM sel
         UNION ALL
         SELECT l_orderkey, CAST(3 AS BIGINT), round(sm, 4) FROM sel""",

    // direct DFT rebuilt with a per-order self-join: coefficient k is
    // sum_j x_j * (cos, sin)(-2 pi k j / n), GSL-packed interleaved
    "apply_fft" ->
      """WITH cells AS (
           SELECT l_orderkey,
                  row_number() OVER (PARTITION BY l_orderkey
                    ORDER BY l_linenumber, l_quantity) - 1 AS j,
                  l_quantity AS x,
                  count(*) OVER (PARTITION BY l_orderkey) AS n
           FROM lineitem),
         coefs AS (
           SELECT k.l_orderkey, k.j AS k,
                  round(sum(c.x * cos(-2 * pi() * k.j * c.j / k.n)), 4)
                    + 0.0 AS re,
                  round(sum(c.x * sin(-2 * pi() * k.j * c.j / k.n)), 4)
                    + 0.0 AS im
           FROM cells k JOIN cells c ON c.l_orderkey = k.l_orderkey
           GROUP BY 1, 2, k.n)
         SELECT l_orderkey, CAST(2 * k + 1 AS BIGINT) AS pos, re AS coef
         FROM coefs
         UNION ALL
         SELECT l_orderkey, CAST(2 * k + 2 AS BIGINT) AS pos, im AS coef
         FROM coefs""",

    "intercube_corr" ->
      """SELECT l_orderkey,
                round(corr(l_quantity, l_extendedprice), 3) + 0.0 AS corr_qp
         FROM lineitem GROUP BY 1 HAVING count(*) >= 2""",

    "aggregate2_quarter" ->
      """SELECT CAST(year(o_orderdate) AS VARCHAR) || '-Q' ||
                CAST(quarter(o_orderdate) AS VARCHAR) AS oquarter,
                round(sum(o_totalprice), 2) AS sum_price
         FROM orders GROUP BY 1""",

    "cubesize" ->
      """SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_rows,
                count(*) AS n_elements, count(*) * 8 AS est_bytes
         FROM lineitem""",

    "intercube_sub" ->
      """SELECT o.o_orderkey AS o_orderkey, round(o.o_totalprice - s.sq, 2) AS diff
         FROM orders o
         JOIN (SELECT l_orderkey, sum(l_quantity) AS sq
               FROM lineitem GROUP BY 1) s
           ON o.o_orderkey = s.l_orderkey""",

    "mergecubes2_union" ->
      """SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity, 'A' AS src
         FROM lineitem WHERE l_returnflag = 'A'
         UNION ALL
         SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity, 'N' AS src
         FROM lineitem WHERE l_returnflag = 'N'""",

    "mergecubes_concat" ->
      """WITH u AS (
           SELECT l_orderkey, l_quantity AS v, 0 AS part,
                  l_linenumber AS ln FROM lineitem
           UNION ALL
           SELECT l_orderkey, l_extendedprice AS v, 1 AS part,
                  l_linenumber AS ln FROM lineitem)
         SELECT l_orderkey,
                CAST(row_number() OVER (PARTITION BY l_orderkey
                  ORDER BY part, ln, v) AS BIGINT) AS pos, v
         FROM u""",

    "rollup_drilldown" ->
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem""",

    "permute_reverse" ->
      """SELECT l_orderkey,
                CAST(row_number() OVER (PARTITION BY l_orderkey
                  ORDER BY l_linenumber DESC, l_quantity DESC) AS BIGINT) AS pos,
                l_quantity AS qty
         FROM lineitem""",

    "explorecube" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice,
                strftime(l_shipdate, '%Y-%m-%d') AS ship
         FROM lineitem WHERE l_orderkey <= 100""",

    "cubeschema" ->
      """SELECT * FROM (VALUES
           ('l_orderkey', 'explicit', 'long'),
           ('l_linenumber', 'implicit', 'int'),
           ('l_quantity', 'measure', 'double')) AS t(name, kind, dtype)""",

    "cubeelements" ->
      """SELECT count(*) AS n_elements FROM lineitem""",

    "join_topk" ->
      """SELECT c.c_custkey AS c_custkey, c.c_name AS c_name,
                round(sum(o.o_totalprice), 2) AS revenue
         FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
         GROUP BY 1, 2
         ORDER BY revenue DESC, c_custkey LIMIT 10""",

    "join_asof" ->
      """SELECT c.user_id, c.event_id, epoch_ms(c.ts) AS ts_ms,
                epoch_ms(p.ts) AS pts_ms, round(p.value, 2) AS purch_value
         FROM (SELECT user_id, ts, event_id FROM events
               WHERE event_type = 'click') c
         ASOF JOIN (SELECT user_id, ts, max(value) AS value FROM events
                    WHERE event_type = 'purchase' GROUP BY 1, 2) p
           ON c.user_id = p.user_id AND c.ts >= p.ts""",

    // left-outer as-of: unmatched clicks keep null match columns
    "join_asof_left" ->
      """SELECT c.user_id, c.event_id, epoch_ms(c.ts) AS ts_ms,
                epoch_ms(p.ts) AS pts_ms,
                round(p.value, 2) AS purch_value
         FROM (SELECT user_id, ts, event_id FROM events
               WHERE event_type = 'click') c
         ASOF LEFT JOIN (SELECT user_id, ts, max(value) AS value
                         FROM events WHERE event_type = 'purchase'
                         GROUP BY 1, 2) p
           ON c.user_id = p.user_id AND c.ts >= p.ts""",

    // the custom Catalyst operator must emit exactly the window
    // formulation's rows (same ASOF JOIN oracle as join_asof)
    "join_asof_native" ->
      """SELECT c.user_id, c.event_id, epoch_ms(c.ts) AS ts_ms,
                epoch_ms(p.ts) AS pts_ms, round(p.value, 2) AS purch_value
         FROM (SELECT user_id, ts, event_id FROM events
               WHERE event_type = 'click') c
         ASOF JOIN (SELECT user_id, ts, max(value) AS value FROM events
                    WHERE event_type = 'purchase' GROUP BY 1, 2) p
           ON c.user_id = p.user_id AND c.ts >= p.ts""",

    "join_skew_salted" ->
      """SELECT o_orderstatus, round(sum(l_quantity), 2) AS sum_qty,
                count(*) AS n
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY 1""",

    "join_skew_hotkeys" ->
      """WITH aug AS (
           SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
           UNION ALL
           SELECT 1 AS l_orderkey,
                  1000000 + l_orderkey * 10 + l_linenumber AS l_linenumber,
                  l_quantity
           FROM lineitem WHERE l_orderkey % 10 = 0)
         SELECT o_orderstatus, round(sum(l_quantity), 2) AS sum_qty,
                count(*) AS n
         FROM aug JOIN orders ON l_orderkey = o_orderkey
         GROUP BY 1""",

    "agg_skew_salted" ->
      """SELECT l_returnflag, round(sum(l_quantity), 2) AS sum_qty,
                count(*) AS n, min(l_quantity) AS min_qty,
                max(l_quantity) AS max_qty
         FROM lineitem GROUP BY 1""",

    "join_range" ->
      """SELECT i AS band, count(*) AS n, round(sum(o_totalprice), 2) AS sv
         FROM range(600) t(i) JOIN orders
           ON o_totalprice >= i * 950 AND o_totalprice < i * 950 + 950
         GROUP BY 1""",

    "grouping_rollup" ->
      """SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 2) AS sum_qty,
                count(*) AS n
         FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)""",

    "window_lead" ->
      """SELECT o_custkey, o_orderkey,
                round(lead(o_totalprice, 1) OVER w, 2) AS next_price,
                round(lag(o_totalprice, 1) OVER w, 2) AS prev_price
         FROM orders
         WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)""",

    "window_running" ->
      """SELECT o_custkey, o_orderkey,
                round(sum(o_totalprice) OVER (PARTITION BY o_custkey
                  ORDER BY o_orderdate, o_orderkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running
         FROM orders""",

    "setop_anti" ->
      """SELECT o_orderkey FROM orders
         WHERE o_orderkey NOT IN (SELECT l_orderkey FROM lineitem)""",

    "window_range" ->
      """SELECT o_orderkey, o_custkey,
                CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                  OVER (PARTITION BY o_custkey ORDER BY o_orderdate
                        RANGE BETWEEN INTERVAL 90 DAY PRECEDING
                          AND CURRENT ROW), 2) AS DOUBLE) AS trailing_90d
         FROM orders""",

    "window_lead_default" ->
      """SELECT o_orderkey, o_custkey,
                lead(o_totalprice, 2, -1.0)
                  OVER (PARTITION BY o_custkey
                        ORDER BY o_orderdate, o_orderkey) AS next2_price,
                lag(o_totalprice, 3, 0.0)
                  OVER (PARTITION BY o_custkey
                        ORDER BY o_orderdate, o_orderkey) AS prev3_price
         FROM orders""",

    "sql_q3" ->
      """SELECT o.o_orderkey AS o_orderkey,
                CAST(round(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))
                  * (1 - CAST(l.l_discount AS DECIMAL(18,2)))), 2) AS DOUBLE)
                  AS revenue
         FROM customer c
         JOIN orders o ON c.c_custkey = o.o_custkey
         JOIN lineitem l ON l.l_orderkey = o.o_orderkey
         WHERE c.c_mktsegment = 'BUILDING'
           AND o.o_orderdate < TIMESTAMP '1997-01-01'
         GROUP BY 1
         HAVING sum(CAST(l.l_extendedprice AS DECIMAL(18,2))
           * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) > 100000""",

    "sql_q5" ->
      """SELECT n.n_name,
                CAST(round(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))
                  * (1 - CAST(l.l_discount AS DECIMAL(18,2)))), 2)
                  AS DOUBLE) AS revenue
         FROM customer c
         JOIN orders o ON c.c_custkey = o.o_custkey
         JOIN lineitem l ON l.l_orderkey = o.o_orderkey
         JOIN supplier s ON l.l_suppkey = s.s_suppkey
           AND c.c_nationkey = s.s_nationkey
         JOIN nation n ON s.s_nationkey = n.n_nationkey
         JOIN region r ON n.n_regionkey = r.r_regionkey
         WHERE r.r_name = 'ASIA'
           AND o.o_orderdate >= TIMESTAMP '1996-01-01'
           AND o.o_orderdate < TIMESTAMP '1997-01-01'
         GROUP BY n.n_name""",

    "sql_q10" ->
      """SELECT c.c_custkey, c.c_name,
                CAST(round(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))
                  * (1 - CAST(l.l_discount AS DECIMAL(18,2)))), 2)
                  AS DOUBLE) AS revenue,
                c.c_acctbal, n.n_name
         FROM customer c
         JOIN orders o ON c.c_custkey = o.o_custkey
         JOIN lineitem l ON l.l_orderkey = o.o_orderkey
         JOIN nation n ON c.c_nationkey = n.n_nationkey
         WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
           AND o.o_orderdate < TIMESTAMP '1996-04-01'
           AND l.l_returnflag = 'R'
         GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
         ORDER BY revenue DESC, c.c_custkey
         LIMIT 20""",

    "window_ntile" ->
      """SELECT o_orderkey, o_orderpriority,
                CAST(ntile(4) OVER (PARTITION BY o_orderpriority
                  ORDER BY o_totalprice, o_orderkey) AS BIGINT)
                  AS quartile,
                percent_rank() OVER (PARTITION BY o_orderpriority
                  ORDER BY o_totalprice, o_orderkey) AS pr
         FROM orders""",

    "sql_q18" ->
      """SELECT c.c_name, c.c_custkey, o.o_orderkey,
                CAST(o.o_orderdate AS DATE) AS o_orderdate,
                o.o_totalprice,
                CAST(round(big.sum_qty, 2) AS DOUBLE) AS sum_qty
         FROM (SELECT l_orderkey, sum(l_quantity) AS sum_qty
               FROM lineitem GROUP BY l_orderkey
               HAVING sum(l_quantity) > 300) big
         JOIN orders o ON o.o_orderkey = big.l_orderkey
         JOIN customer c ON c.c_custkey = o.o_custkey
         ORDER BY o.o_totalprice DESC, o.o_orderdate, o.o_orderkey
         LIMIT 100""",

    "sql_q6" ->
      """SELECT CAST(round(sum(l_extendedprice * l_discount), 2) AS DOUBLE)
                AS revenue
         FROM lineitem
         WHERE l_quantity < 24
           AND l_discount BETWEEN 0.05 AND 0.07
           AND l_extendedprice > 1000""",

    "workflow_agg" ->
      """SELECT l_orderkey, round(sum(l_quantity), 4) AS sum_qty
         FROM lineitem WHERE l_linenumber BETWEEN 1 AND 3
         GROUP BY l_orderkey""",

    "reduce_min" ->
      """SELECT l_orderkey, min(l_quantity) AS min_qty
         FROM lineitem GROUP BY l_orderkey""",

    "reduce_count" ->
      """SELECT l_orderkey, count(*) AS n_items
         FROM lineitem GROUP BY l_orderkey""",

    "reduce_var" ->
      """SELECT l_orderkey, round(var_pop(l_quantity), 4) + 0.0 AS var_qty
         FROM lineitem GROUP BY l_orderkey""",

    "reduce_argmax" ->
      """WITH p AS (
           SELECT l_orderkey, l_quantity,
                  row_number() OVER (PARTITION BY l_orderkey
                    ORDER BY l_linenumber, l_quantity) AS pos
           FROM lineitem)
         SELECT p.l_orderkey AS l_orderkey, min(p.pos) AS amax
         FROM p
         JOIN (SELECT l_orderkey, max(l_quantity) AS mx
               FROM lineitem GROUP BY 1) m
           ON p.l_orderkey = m.l_orderkey AND p.l_quantity = m.mx
         GROUP BY 1""",

    "reduce_argmin" ->
      """WITH p AS (
           SELECT l_orderkey, l_quantity,
                  row_number() OVER (PARTITION BY l_orderkey
                    ORDER BY l_linenumber, l_quantity) AS pos
           FROM lineitem)
         SELECT p.l_orderkey AS l_orderkey, min(p.pos) AS amin
         FROM p
         JOIN (SELECT l_orderkey, min(l_quantity) AS mn
               FROM lineitem GROUP BY 1) m
           ON p.l_orderkey = m.l_orderkey AND p.l_quantity = m.mn
         GROUP BY 1""",

    "reduce_rmoment" ->
      """SELECT l_orderkey,
                round(sum(l_quantity * l_quantity * l_quantity)
                  / count(*), 2) AS rm3
         FROM lineitem GROUP BY l_orderkey""",

    "intercube_sum" ->
      """SELECT o.o_orderkey AS o_orderkey, round(o.o_totalprice + s.sq, 2) AS tot
         FROM orders o
         JOIN (SELECT l_orderkey, sum(l_quantity) AS sq
               FROM lineitem GROUP BY 1) s
           ON o.o_orderkey = s.l_orderkey""",

    "intercube_div" ->
      """SELECT o.o_orderkey AS o_orderkey,
                o.o_totalprice / s.sq AS unit_price
         FROM orders o
         JOIN (SELECT l_orderkey, sum(l_quantity) AS sq
               FROM lineitem GROUP BY 1) s
           ON o.o_orderkey = s.l_orderkey""",

    "intercube_abs" ->
      """WITH p AS (
           SELECT l_orderkey, l_quantity,
                  row_number() OVER (PARTITION BY l_orderkey
                    ORDER BY l_linenumber, l_quantity) AS pos
           FROM lineitem)
         SELECT l_orderkey, pos, round(l_quantity, 4) AS ad FROM p""",

    "workflow_aggregate2" ->
      """SELECT strftime(o_orderdate, '%Y-%m') AS omonth,
                round(sum(o_totalprice), 2) AS sum_price
         FROM orders GROUP BY 1""",

    "workflow_mergecubes" ->
      """WITH p AS (
           SELECT l_orderkey, l_quantity,
                  row_number() OVER (PARTITION BY l_orderkey
                    ORDER BY l_linenumber, l_quantity) AS pos
           FROM lineitem)
         SELECT l_orderkey, pos, l_quantity AS qty FROM p WHERE pos <= 4""",

    // avg of (1x, 2x, 3x) elementwise = 2x the source measure
    "workflow_intercube2" ->
      """SELECT l_orderkey,
                CAST(row_number() OVER (PARTITION BY l_orderkey
                  ORDER BY l_linenumber, l_quantity) AS BIGINT) AS pos,
                round(l_quantity * 2, 2) AS avg_qty
         FROM lineitem""",

    "workflow_concatnc" ->
      """WITH p AS (
           SELECT l_orderkey, l_quantity,
                  row_number() OVER (PARTITION BY l_orderkey
                    ORDER BY l_linenumber, l_quantity) AS pos,
                  count(*) OVER (PARTITION BY l_orderkey) AS n
           FROM lineitem)
         SELECT l_orderkey, pos, l_quantity AS qty FROM p WHERE pos <= 2
         UNION ALL
         SELECT l_orderkey, least(n, 2) + pos, l_quantity AS qty FROM p""",

    "netcdf_roundtrip" ->
      """WITH t AS (SELECT o_orderkey, o_totalprice FROM orders
                    ORDER BY o_orderkey LIMIT 1000)
         SELECT CAST(floor(o_orderkey / 1000) AS BIGINT) AS bucket,
                round(sum(o_totalprice), 2) AS s
         FROM t GROUP BY 1""",

    "netcdf4_roundtrip" ->
      """WITH t AS (SELECT o_orderkey, o_totalprice FROM orders
                    ORDER BY o_orderkey LIMIT 1000)
         SELECT CAST(floor(o_orderkey / 1000) AS BIGINT) AS bucket,
                round(sum(o_totalprice), 2) AS s
         FROM t GROUP BY 1""",

    "netcdf4_export_roundtrip" ->
      """WITH t AS (SELECT o_orderkey, o_totalprice FROM orders
                    ORDER BY o_orderkey LIMIT 2000)
         SELECT CAST(floor(o_orderkey / 1000) AS BIGINT) AS bucket,
                round(sum(o_totalprice), 2) AS s
         FROM t GROUP BY 1""",

    "netcdf4_dense_groups" ->
      ("""WITH t AS (SELECT o_orderkey, o_totalprice FROM orders
                     ORDER BY o_orderkey LIMIT 2000)
          SELECT CAST(floor(o_orderkey / 1000) AS BIGINT) AS bucket, """ +
        (1 to 10).map(j =>
          s"round(sum(o_totalprice * $j), 2) AS s${"%02d".format(j)}")
          .mkString(", ") +
        " FROM t GROUP BY 1"),

    "netcdf_time_roundtrip" ->
      """WITH t AS (SELECT o_orderdate, o_totalprice FROM orders
                    ORDER BY o_orderkey LIMIT 1000),
         d AS (SELECT o_orderdate, round(sum(o_totalprice), 2) AS p
               FROM t GROUP BY 1)
         SELECT strftime(o_orderdate, '%Y-%m') AS month,
                round(sum(p), 2) AS s
         FROM d GROUP BY 1""",

    "netcdf_record_roundtrip" ->
      """WITH t AS (SELECT o_orderkey, o_totalprice FROM orders
                    ORDER BY o_orderkey LIMIT 500)
         SELECT CAST(floor(o_orderkey / 1000) AS BIGINT) AS bucket,
                round(sum(o_totalprice), 2) AS s
         FROM t GROUP BY 1""",

    "workflow_concatnc_record" ->
      """WITH c AS (SELECT c_custkey, c_acctbal FROM customer
                    ORDER BY c_custkey LIMIT 100)
         SELECT CAST(c_custkey AS DOUBLE) AS cust, i + 1 AS pos,
                round(c_acctbal * (i + 1), 2) AS val
         FROM c CROSS JOIN range(4) t(i)""",

    "explore_multigrid" ->
      """WITH keys AS (
           SELECT DISTINCT l_orderkey FROM lineitem
           ORDER BY l_orderkey LIMIT 50),
         p AS (
           SELECT l_orderkey, l_quantity,
                  row_number() OVER (PARTITION BY l_orderkey
                    ORDER BY l_linenumber, l_quantity) AS pos
           FROM lineitem)
         SELECT p.l_orderkey, p.pos,
                round(CAST(p.l_quantity AS DOUBLE), 2) AS cell
         FROM p JOIN keys USING (l_orderkey)""",

    "sketch_quantile" ->
      """SELECT l_returnflag,
                round(quantile_cont(CAST(l_quantity AS DOUBLE), 0.5), 4)
                  AS median_qty,
                true AS in_band
         FROM lineitem GROUP BY 1""",

    // the if/elseif/else chain routes pos 1 -> x pos (the @i branch),
    // pos 2 -> x 100 (@evenscale via elseif), pos 3 -> x 50 (else)
    "workflow_flow" ->
      """WITH p AS (
           SELECT l_orderkey, l_quantity,
                  row_number() OVER (PARTITION BY l_orderkey
                    ORDER BY l_linenumber, l_quantity) AS pos
           FROM lineitem)
         SELECT l_orderkey,
                round(sum(CASE WHEN pos = 1 THEN l_quantity * pos
                               WHEN pos = 2 THEN l_quantity * 100
                               ELSE l_quantity * 50 END), 4) AS val
         FROM p WHERE pos <= 3 GROUP BY 1""",

    // the listing is fully determined by the workflow spec: markers
    // 1-4 are the submitted data/skip/light jobs in execution order,
    // 5 the workflow document's own marker (every row's parent), 6 the
    // flow-control record assigned at save; command and the
    // marker-replayed document must agree everywhere
    "workflow_resume" ->
      """SELECT * FROM (VALUES
           (1, 1, 5, 'oph_randcube nrows=4;array_length=4;container=c',
                     'oph_randcube nrows=4;array_length=4;container=c'),
           (1, 2, 5, 'oph_randcube nrows=8;array_length=2;container=c',
                     'oph_randcube nrows=8;array_length=2;container=c'),
           (1, 3, 5, 'oph_apply query=oph_mul_scalar(measure, 1)',
                     'oph_apply query=oph_mul_scalar(measure, 1)'),
           (1, 4, 5, 'oph_apply query=oph_mul_scalar(measure, 2)',
                     'oph_apply query=oph_mul_scalar(measure, 2)'),
           (1, 6, 5, '', '')
         ) AS t(wf_id, marker, parent, command, replayed_doc)""",

    "workflow_massive" ->
      """WITH p AS (
           SELECT l_orderkey, l_quantity,
                  row_number() OVER (PARTITION BY l_orderkey
                    ORDER BY l_linenumber, l_quantity) AS pos
           FROM lineitem)
         SELECT l_orderkey, round(sum(l_quantity * 2), 4) AS val
         FROM p WHERE pos <= 3 GROUP BY 1""",

    // the 24 interleaved index slices partition the order axis, so the
    // union of every branch's reduced cube is the plain per-order sum.
    // subset_type=index treats explicit dim VALUES as the 1-based
    // index (slices start at 1), so key 0 — present in the synthetic
    // data — is outside every slice by the index grammar's semantics
    "workflow_massive_wide" ->
      """SELECT l_orderkey, round(sum(l_quantity * 3), 4) AS val
         FROM lineitem WHERE l_orderkey >= 1 GROUP BY 1""",

    "workflow_wait_input" ->
      """WITH p AS (
           SELECT l_orderkey, l_quantity,
                  row_number() OVER (PARTITION BY l_orderkey
                    ORDER BY l_linenumber, l_quantity) AS pos
           FROM lineitem)
         SELECT l_orderkey, round(sum((l_quantity * 7) * 5), 4) AS val
         FROM p WHERE pos <= 3 GROUP BY 1""",

    // every row below is the deterministic rendering of a fresh
    // engine's catalog walk — ids/PIDs mint sequentially, so the whole
    // DDL/fs/search/metadata/provenance surface pins to literals
    "workflow_catalog" ->
      """SELECT * FROM (VALUES
           ('mk_proj', '/sess/proj/run1'),
           ('mk_arch', '/sess/arch'),
           ('cc', 'container li'),
           ('imp', 'http://localhost/1/1'),
           ('aux', 'http://localhost/2/2'),
           ('meta_proj', 'metadata set'),
           ('meta_inst', 'metadata set'),
           ('sub', 'http://localhost/3/3'),
           ('cubeio', '1->3'),
           ('meta_upd', 'metadata set'),
           ('meta_read', 'project=CMIP6mip;institute=graft'),
           ('meta_del', 'metadata dropped'),
           ('meta_read2', 'project=CMIP6mip'),
           ('srch_key', 'http://localhost/1/1'),
           ('srch_val', 'http://localhost/1/1'),
           ('srch_meas', 'http://localhost/2/2'),
           ('mv_folder', '/sess/projects|/sess/projects/run1'),
           ('ls_folders', '/sess|/sess/arch|/sess/projects|/sess/projects/run1'),
           ('ls_cubes', 'http://localhost/1/1|http://localhost/2/2|http://localhost/3/3'),
           ('mv_cont', 'moved to /sess/projects/run1/rc'),
           ('publish', 'published at /tmp/graft_publish/sess/2'),
           ('srch_pub', 'http://localhost/2/2'),
           ('unpublish', 'unpublished'),
           ('del_cube', 'deleted http://localhost/3/3'),
           ('del_cont', 'container deleted'),
           ('ls_after_del', 'http://localhost/1/1'),
           ('restore', 'restored rc'),
           ('ls_after_restore', 'http://localhost/1/1')
         ) AS t(step, msg)""",

    // the management / info surface rendered to its deterministic
    // parts (see the query's sanitizers); the operator and primitive
    // inventories are pinned VERBATIM, so adding an operator without
    // updating this oracle is a loud diff, not a silent drift
    "workflow_admin" ->
      """SELECT * FROM (VALUES
           ('man', 'oph_list: supported operator'),
           ('man_missing', 'no manual entry for ''oph_nope'''),
           ('operators', 'oph_aggregate|oph_aggregate2|oph_apply|oph_b2drop|oph_cancel|oph_cluster|oph_concatnc|oph_concatnc2|oph_createcontainer|oph_cubeelements|oph_cubeio|oph_cubeschema|oph_cubesize|oph_delete|oph_deletecontainer|oph_drilldown|oph_duplicate|oph_else|oph_elseif|oph_endfor|oph_endif|oph_explorecube|oph_explorenc|oph_exportcsv|oph_exportnc|oph_exportnc2|oph_find|oph_folder|oph_for|oph_fs|oph_get_config|oph_hierarchy|oph_if|oph_importcsv|oph_importnc|oph_importnc2|oph_importncs|oph_input|oph_inspectfrag|oph_instances|oph_intercube|oph_intercube2|oph_list|oph_log_info|oph_loggingbk|oph_man|oph_manage_session|oph_merge|oph_mergecubes|oph_mergecubes2|oph_metadata|oph_movecontainer|oph_operators_list|oph_permute|oph_permute2|oph_primitives_list|oph_publish|oph_randcube|oph_randcube2|oph_reduce|oph_reduce2|oph_restorecontainer|oph_resume|oph_rollup|oph_script|oph_search|oph_service|oph_set|oph_showgrid|oph_split|oph_sql|oph_subset|oph_subset2|oph_tasks|oph_unpublish|oph_wait'),
           ('primitives', 'oph_abs|oph_accumulate|oph_append|oph_arg_max|oph_arg_max_array|oph_arg_min|oph_arg_min_array|oph_avg|oph_boxplot|oph_cast|oph_concat|oph_convert_d|oph_count|oph_count_array|oph_cumsum|oph_cumulative|oph_deaccumulate|oph_div_array|oph_extend|oph_find|oph_get_subarray|oph_get_subarray2|oph_gsl_boxplot|oph_gsl_complex_get_abs|oph_gsl_complex_get_arg|oph_gsl_complex_get_imag|oph_gsl_complex_get_real|oph_gsl_dwt|oph_gsl_fft|oph_gsl_histogram|oph_gsl_ifft|oph_gsl_quantile|oph_gsl_sd|oph_gsl_sort|oph_gsl_stats|oph_head|oph_interlace|oph_log|oph_mask|oph_math|oph_max|oph_max_array|oph_min|oph_min_array|oph_moving_avg|oph_mul_array|oph_mul_scalar|oph_negate|oph_operator|oph_padding|oph_pow|oph_predicate|oph_quantile|oph_replace|oph_reverse|oph_rotate|oph_scalar2array|oph_shift|oph_sort|oph_sqrt|oph_std|oph_sub_array|oph_sum|oph_sum_array|oph_sum_scalar|oph_tail|oph_var|oph_vector'),
           ('hierarchy', 'second|minute|hour|day|week|month|quarter|year'),
           ('script', 'graft_admin_ok'),
           ('config', 'SERVER_FARM_SIZE=128;QUEUE_SIZE=0;TASK_LIMIT=0'),
           ('cluster_deploy', 'p1:4'),
           ('cluster_info', 'partitions=p1:4'),
           ('cluster_undeploy', 'p1'),
           ('instances', 'executors,cores'),
           ('rand', 'http://localhost/1/1'),
           ('one_frag', 'http://localhost/1/2'),
           ('inspectfrag', '[0,ArraySeq(825.0, 894.0, 595.0, 574.0),ArraySeq(1, 2, 3, 4)] // [1,ArraySeq(315.0, 345.0, 937.0, 11.0),ArraySeq(1, 2, 3, 4)]'),
           ('showgrid', '[key,explicit,long]|[idx,implicit,int]|[measure,measure,double]'),
           ('tasks', '1:oph_randcube|2:oph_merge'),
           ('loggingbk', '1:oph_randcube|2:oph_merge'),
           ('sess_new', 'sess0002'),
           ('sess_env', 'active=true;autoremove=false;label=runA;owner=graft;session=sess0002;users=0'),
           ('sess_setenv', 'ok'),
           ('sess_env2', 'active=true;autoremove=false;label=runB;owner=graft;session=sess0002;users=0'),
           ('sess_users', 'graft:rwxao'),
           ('cancel', 'cancel (a) sent to 1'),
           ('service', 'status=up'),
           ('log_tail', 'session sess0002 created by graft // session sess0002 setenv label=runB by graft // cancel (a) requested for workflow 1'),
           ('b2drop_put', 'put <t>/drop/payload.txt'),
           ('b2drop_get', 'get <t>/drop/payload.txt'),
           ('b2drop_content', 'graft b2drop roundtrip'),
           ('b2drop_del', 'delete <t>/drop/payload.txt'),
           ('b2drop_gone', 'true')
         ) AS t(step, msg)""",

    // data identity under re-fragmentation + pinned partition counts
    "workflow_merge_split" ->
      """SELECT 'frags_import' AS k, 8.0 AS val
         UNION ALL SELECT 'frags_split' AS k, 16.0 AS val
         UNION ALL SELECT 'frags_merge' AS k, 4.0 AS val
         UNION ALL
         SELECT concat('sum_', CAST(l_orderkey AS VARCHAR)) AS k,
                round(sum(l_quantity), 4) AS val
         FROM lineitem GROUP BY l_orderkey""",

    // both roundtrips (csv and two-file ncs union) must reproduce the
    // parquet source's bucket sums exactly
    "workflow_csv_ncs" ->
      """WITH o AS (SELECT o_orderkey, o_totalprice FROM orders
                    WHERE o_orderkey BETWEEN 1 AND 2000),
              a AS (SELECT CAST(floor(CAST(o_orderkey AS DOUBLE) / 500)
                             AS BIGINT) AS bucket,
                           round(sum(CAST(o_totalprice AS DOUBLE)), 2) AS sv
                    FROM o GROUP BY 1)
         SELECT 'csv' AS src, bucket, sv FROM a
         UNION ALL
         SELECT 'ncs' AS src, bucket, sv FROM a""",

    "explorenc_stats" ->
      """SELECT round(avg(CAST(o_totalprice AS DOUBLE)), 3) AS m_mean,
                round(stddev_samp(CAST(o_totalprice AS DOUBLE)), 2) AS m_std,
                round(min(CAST(o_totalprice AS DOUBLE)), 2) AS m_min,
                round(max(CAST(o_totalprice AS DOUBLE)), 2) AS m_max,
                round(max(CAST(o_totalprice AS DOUBLE)) -
                      min(CAST(o_totalprice AS DOUBLE)), 2) AS m_range
         FROM orders WHERE o_orderkey BETWEEN 1 AND 5000""",

    "aggregate_arrays" ->
      """WITH p AS (
           SELECT l_orderkey, l_quantity,
                  row_number() OVER (PARTITION BY l_orderkey
                    ORDER BY l_linenumber, l_quantity) AS pos
           FROM lineitem)
         SELECT pos, round(sum(l_quantity), 2) AS qty FROM p GROUP BY pos""",

    "aggregate_arrays_avg" ->
      """WITH p AS (
           SELECT l_orderkey, l_quantity,
                  row_number() OVER (PARTITION BY l_orderkey
                    ORDER BY l_linenumber, l_quantity) AS pos
           FROM lineitem)
         SELECT pos, round(avg(l_quantity), 4) AS qty FROM p GROUP BY pos""",

    "reduce2_inner" ->
      """WITH years AS (SELECT 1995 + i AS y, i + 1 AS ypos FROM range(7) t(i)),
         prio AS (SELECT DISTINCT o_orderpriority AS p FROM orders),
         agg AS (SELECT o_orderpriority AS p, year(o_orderdate) AS y,
                        count(*) AS c
                 FROM orders GROUP BY 1, 2)
         SELECT prio.p AS p, years.ypos AS ypos, coalesce(agg.c, 0) AS n
         FROM prio CROSS JOIN years
         LEFT JOIN agg ON agg.p = prio.p AND agg.y = years.y""",

    "reduce2_outer" ->
      """WITH months AS (SELECT 1 + i AS m, i + 1 AS mpos FROM range(12) t(i)),
         prio AS (SELECT DISTINCT o_orderpriority AS p FROM orders),
         agg AS (SELECT o_orderpriority AS p, month(o_orderdate) AS m,
                        count(*) AS c
                 FROM orders GROUP BY 1, 2)
         SELECT prio.p AS p, months.mpos AS mpos, coalesce(agg.c, 0) AS n
         FROM prio CROSS JOIN months
         LEFT JOIN agg ON agg.p = prio.p AND agg.m = months.m""",

    "permute2_flat" ->
      """WITH years AS (SELECT 1995 + i AS y, i + 1 AS ypos FROM range(7) t(i)),
         months AS (SELECT 1 + i AS m, i + 1 AS mpos FROM range(12) t(i)),
         prio AS (SELECT DISTINCT o_orderpriority AS p FROM orders),
         agg AS (SELECT o_orderpriority AS p, year(o_orderdate) AS y,
                        month(o_orderdate) AS m, count(*) AS c
                 FROM orders GROUP BY 1, 2, 3)
         SELECT prio.p AS p, months.mpos AS mpos, years.ypos AS ypos,
                coalesce(agg.c, 0) AS n
         FROM prio CROSS JOIN years CROSS JOIN months
         LEFT JOIN agg ON agg.p = prio.p AND agg.y = years.y
           AND agg.m = months.m""",

    "netcdf4_3d_subset_pruned" ->
      """WITH t AS (SELECT i AS ti FROM range(24) r(i)),
         la AS (SELECT i AS lai FROM range(32) r(i)),
         lo AS (SELECT i AS loi FROM range(40) r(i)),
         cells AS (
           SELECT ti, lai, loi,
                  CAST((ti*37 + lai*11 + loi*5) % 89 + 0.5 AS DOUBLE) AS v
           FROM t CROSS JOIN la CROSS JOIN lo)
         SELECT CAST(ti AS BIGINT) AS t,
                CAST(-80.0 + 5*lai AS DOUBLE) AS lat,
                round(avg(v), 4) AS tas_avg
         FROM cells
         WHERE ti >= 6 AND lai BETWEEN 8 AND 23 AND loi BETWEEN 5 AND 24
         GROUP BY 1, 2""",

    "netcdf4_compact_coords" ->
      """WITH t AS (SELECT i AS ti FROM range(40) r(i)),
         x AS (SELECT i AS xi FROM range(12) r(i)),
         cells AS (
           SELECT ti, xi,
                  CAST((ti*31 + xi*7) % 97 + 0.25 AS DOUBLE) AS v
           FROM t CROSS JOIN x)
         SELECT CAST(1.5 * xi AS DOUBLE) AS x,
                round(sum(v), 2) AS tas_sum,
                round(sum(0.5 * ti * v), 2) AS wtas_sum
         FROM cells GROUP BY 1""",

    "netcdf4_3d_pipeline" ->
      """WITH t AS (SELECT i AS ti FROM range(16) r(i)),
         la AS (SELECT i AS lai FROM range(6) r(i)),
         lo AS (SELECT i AS loi FROM range(10) r(i)),
         cells AS (
           SELECT ti, lai, loi,
                  CAST((ti*37 + lai*11 + loi*5) % 89 + 0.5 AS DOUBLE) AS v
           FROM t CROSS JOIN la CROSS JOIN lo)
         SELECT CAST(10957 + ti AS BIGINT) AS t_days,
                CAST(-75.0 + 30*lai AS DOUBLE) AS lat,
                round(avg(v), 4) AS tas
         FROM cells
         WHERE ti BETWEEN 2 AND 11 AND lai BETWEEN 1 AND 4 AND loi % 2 = 0
         GROUP BY 1, 2""",

    "netcdf4_3d_intercube" ->
      """WITH t AS (SELECT i AS ti FROM range(60) r(i)),
         la AS (SELECT i AS lai FROM range(4) r(i)),
         lo AS (SELECT i AS loi FROM range(5) r(i)),
         cells AS (
           SELECT strftime(DATE '2000-01-01' + CAST(ti AS INTEGER),
                    '%Y-%m') AS month,
                  CAST(lai * 5 + loi + 1 AS BIGINT) AS pos,
                  (CAST((ti*37 + lai*11 + loi*5) % 89 + 0.5 AS DOUBLE)
                   - CAST((ti*13 + lai*7 + loi*3) % 53 + 0.25 AS DOUBLE))
                    AS d
           FROM t CROSS JOIN la CROSS JOIN lo)
         SELECT month, pos, round(avg(d), 4) AS val
         FROM cells GROUP BY 1, 2""",

    "permute3_order" ->
      """WITH years AS (SELECT 1995 + i AS y, i + 1 AS ypos FROM range(7) t(i)),
         months AS (SELECT 1 + i AS m, i + 1 AS mpos FROM range(12) t(i)),
         sts AS (SELECT * FROM (VALUES ('F', 1), ('O', 2), ('P', 3)) v(st, spos)),
         prio AS (SELECT DISTINCT o_orderpriority AS p FROM orders),
         agg AS (SELECT o_orderpriority AS p, year(o_orderdate) AS y,
                        month(o_orderdate) AS m, o_orderstatus AS st,
                        count(*) AS c
                 FROM orders GROUP BY 1, 2, 3, 4)
         SELECT prio.p AS p, sts.spos AS spos, years.ypos AS ypos,
                months.mpos AS mpos, coalesce(agg.c, 0) AS n
         FROM prio CROSS JOIN sts CROSS JOIN years CROSS JOIN months
         LEFT JOIN agg ON agg.p = prio.p AND agg.y = years.y
           AND agg.m = months.m AND agg.st = sts.st""",

    "reduce3_mid" ->
      """WITH years AS (SELECT 1995 + i AS y, i + 1 AS ypos FROM range(7) t(i)),
         sts AS (SELECT * FROM (VALUES ('F', 1), ('O', 2), ('P', 3)) v(st, spos)),
         prio AS (SELECT DISTINCT o_orderpriority AS p FROM orders),
         agg AS (SELECT o_orderpriority AS p, year(o_orderdate) AS y,
                        o_orderstatus AS st, count(*) AS c
                 FROM orders GROUP BY 1, 2, 3)
         SELECT prio.p AS p, years.ypos AS ypos, sts.spos AS spos,
                CAST(coalesce(sum(agg.c), 0) AS BIGINT) AS n
         FROM prio CROSS JOIN years CROSS JOIN sts
         LEFT JOIN agg ON agg.p = prio.p AND agg.y = years.y AND agg.st = sts.st
         GROUP BY 1, 2, 3""",

    "dedup_exact" ->
      """SELECT md5(text) AS content_hash, min(doc_id) AS keep_id,
                count(*) AS n_dups
         FROM documents GROUP BY 1""",

    // Planted-pair contracts for the probabilistic dedup sketches (the
    // ANN-trio recipe): every doc's exact duplicate MUST be detected —
    // identical texts share signatures, so a miss is a broken plan, not
    // bad luck — and the hash-seed-dependent organic pairs pin as an
    // in-band boolean on the Spark side.
    "dedup_minhash" ->
      """SELECT doc_id, CAST(1.0 AS DOUBLE) AS jaccard,
                true AS organic_in_band
         FROM documents""",

    // every even-id incoming doc is a byte-identical copy of its
    // corpus source: the banded probe MUST surface it at jaccard 1.0;
    // fresh odd-id docs must not appear (a false positive would add a
    // row and break the hash)
    "dedup_incremental_near" ->
      """SELECT doc_id, CAST(1.0 AS DOUBLE) AS jaccard,
                true AS organic_in_band
         FROM documents WHERE doc_id % 2 = 0""",

    // planted copies of corpus docs 2/4/6/8 arrive over two
    // micro-batches; the cross-batch pair (2000002 -> 2000001) can
    // only surface if batch 0's band append really joined the index
    "dedup_incremental_near_stream" ->
      """SELECT CAST(doc_id + 1000000 AS BIGINT) AS in_id,
                CAST(doc_id AS BIGINT) AS corpus_id,
                CAST(1.0 AS DOUBLE) AS jaccard,
                true AS organic_in_band
         FROM documents WHERE doc_id IN (2, 4, 6, 8)
         UNION ALL
         SELECT 2000002, 2000001, 1.0, true""",

    "dedup_simhash" ->
      """SELECT doc_id, CAST(0 AS INTEGER) AS hamming,
                true AS organic_in_band
         FROM documents""",

    "apply_dwt" ->
      """SELECT CAST(pos AS BIGINT) AS pos, CAST(coeff AS DOUBLE) AS coeff
         FROM (VALUES
           (1, 43.25), (2, 14.4883), (3, 1.9367), (4, 8.0553),
           (5, 1.1875), (6, 0.0), (7, 1.3248), (8, 0.9387),
           (9, 2.4588), (10, 0.0), (11, 0.0), (12, 0.0),
           (13, 0.0), (14, 0.0), (15, 0.0), (16, -10.237))
           AS t(pos, coeff)""",

    // randcube is seeded murmur3 (Spark's stable hash contract), so the
    // digest is exactly reproducible; DuckDB can't replay murmur3, so
    // the oracle pins the observed digest as literals.
    "randcube_reduce" ->
      """SELECT CAST(bucket AS BIGINT) AS bucket, CAST(n AS BIGINT) AS n,
                CAST(s AS DOUBLE) AS s, CAST(lo AS DOUBLE) AS lo,
                CAST(hi AS DOUBLE) AS hi
         FROM (VALUES
           (0, 125, 991157.0, 4408.0, 10490.0),
           (1, 125, 982788.0, 5610.0, 10630.0),
           (2, 125, 1016018.0, 5430.0, 10929.0),
           (3, 125, 981413.0, 5091.0, 10436.0),
           (4, 125, 1015644.0, 4428.0, 11010.0),
           (5, 125, 1011323.0, 4819.0, 10770.0),
           (6, 125, 1024473.0, 5379.0, 10622.0),
           (7, 125, 988683.0, 5499.0, 10386.0))
           AS t(bucket, n, s, lo, hi)""",

    // the same gram-position/canonical-election/span-merge pipeline in
    // pure SQL: grams as STRINGS (Spark buckets by xxhash64 of the same
    // gram — identical grouping modulo hash collisions), canonical =
    // lexicographic minimum (doc_id, pos), islands merged when windows
    // overlap or touch (pos <= prev_max + 15)
    "dedup_substring" ->
      """WITH d AS (
           SELECT doc_id,
                  CASE WHEN doc_id % 10 = 0
                       THEN text || ' lorem ipsum dolor sit amet consectetur adipiscing elit sed do eiusmod tempor incididunt ut labore et dolore magna aliqua'
                       ELSE text END AS text
           FROM documents),
         tok AS (
           SELECT doc_id,
                  regexp_split_to_array(lower(trim(text)), '\s+') AS w
           FROM d),
         g0 AS (
           SELECT doc_id, w,
                  unnest(range(0, greatest(len(w) - 14, 0))) AS pos
           FROM tok),
         g AS (
           SELECT doc_id, pos,
                  array_to_string(list_slice(w, pos + 1, pos + 15), ' ') AS gram
           FROM g0),
         mk AS (
           SELECT doc_id, pos,
                  count(*) OVER (PARTITION BY gram) AS cnt,
                  row_number() OVER (PARTITION BY gram
                                     ORDER BY doc_id, pos) AS rn
           FROM g),
         m2 AS (SELECT doc_id, pos FROM mk WHERE cnt >= 2 AND rn > 1),
         isl AS (
           SELECT doc_id, pos,
                  CASE WHEN pos > coalesce(max(pos) OVER (
                         PARTITION BY doc_id ORDER BY pos
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                       -100000) + 15 THEN 1 ELSE 0 END AS brk
           FROM m2),
         isl2 AS (
           SELECT doc_id, pos,
                  sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS island
           FROM isl)
         SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
                CAST(max(pos) + 14 AS BIGINT) AS span_end
         FROM isl2 GROUP BY doc_id, island""",

    "dedup_strip" ->
      """WITH d AS (
           SELECT doc_id,
                  CASE WHEN doc_id % 10 = 0
                       THEN text || ' lorem ipsum dolor sit amet consectetur adipiscing elit sed do eiusmod tempor incididunt ut labore et dolore magna aliqua'
                       ELSE text END AS text
           FROM documents),
         tok AS (
           SELECT doc_id,
                  regexp_split_to_array(lower(trim(text)), '\s+') AS w
           FROM d),
         g0 AS (
           SELECT doc_id, w,
                  unnest(range(0, greatest(len(w) - 14, 0))) AS pos
           FROM tok),
         g AS (
           SELECT doc_id, pos,
                  array_to_string(list_slice(w, pos + 1, pos + 15), ' ') AS gram
           FROM g0),
         mk AS (
           SELECT doc_id, pos,
                  count(*) OVER (PARTITION BY gram) AS cnt,
                  row_number() OVER (PARTITION BY gram
                                     ORDER BY doc_id, pos) AS rn
           FROM g),
         m2 AS (SELECT doc_id, pos FROM mk WHERE cnt >= 2 AND rn > 1),
         isl AS (
           SELECT doc_id, pos,
                  CASE WHEN pos > coalesce(max(pos) OVER (
                         PARTITION BY doc_id ORDER BY pos
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                       -100000) + 15 THEN 1 ELSE 0 END AS brk
           FROM m2),
         isl2 AS (
           SELECT doc_id, pos,
                  sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS island
           FROM isl),
         spans AS (
           SELECT doc_id, min(pos) AS span_start, max(pos) + 14 AS span_end
           FROM isl2 GROUP BY doc_id, island),
         toki AS (
           SELECT doc_id, wr AS w,
                  unnest(range(0, len(wr))) AS i
           FROM (SELECT doc_id,
                        regexp_split_to_array(trim(text), '\s+') AS wr
                 FROM d WHERE doc_id IN (SELECT doc_id FROM spans))),
         rem AS (
           SELECT DISTINCT t.doc_id, t.i
           FROM toki t JOIN spans s
             ON t.doc_id = s.doc_id
            AND t.i BETWEEN s.span_start AND s.span_end),
         kept AS (
           SELECT t.doc_id,
                  string_agg(list_extract(t.w, t.i + 1), ' '
                             ORDER BY t.i) AS stripped
           FROM toki t LEFT JOIN rem r
             ON t.doc_id = r.doc_id AND t.i = r.i
           WHERE r.i IS NULL GROUP BY t.doc_id)
         SELECT d.doc_id,
                CASE WHEN sp.doc_id IS NULL THEN d.text
                     ELSE coalesce(k.stripped, '') END AS text
         FROM d
         LEFT JOIN (SELECT DISTINCT doc_id FROM spans) sp
                ON d.doc_id = sp.doc_id
         LEFT JOIN kept k ON d.doc_id = k.doc_id""",

    "dedup_ngram" ->
      """WITH t AS (
           SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS w
           FROM documents),
         g AS (
           SELECT doc_id,
                  CASE WHEN len(w) <= 2 THEN [array_to_string(w, ' ')]
                       ELSE list_distinct(list_transform(range(1, len(w) - 1),
                              i -> array_to_string(list_slice(w, i, i + 2), ' ')))
                  END AS grams
           FROM t)
         SELECT a.doc_id AS doc_id,
                round(CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
                      / len(list_distinct(list_concat(a.grams, b.grams))), 4)
                  AS j3
         FROM g a JOIN g b ON b.doc_id = a.doc_id + 1""",

    // min reachable id per vertex = transitive closure + min; the
    // Spark side must converge to the same fixpoint
    "dedup_clusters" ->
      """WITH RECURSIVE
         v AS (SELECT l_orderkey * 8 + l_linenumber AS id FROM lineitem),
         e AS (SELECT a.l_orderkey * 8 + a.l_linenumber AS src,
                      b.l_orderkey * 8 + b.l_linenumber AS dst
               FROM lineitem a JOIN lineitem b
                 ON a.l_orderkey = b.l_orderkey
                AND b.l_linenumber = a.l_linenumber + 1),
         sym AS (SELECT src, dst FROM e UNION SELECT dst, src FROM e),
         r(id, lbl) AS (
           SELECT id, id FROM v
           UNION
           SELECT r.id, s.dst FROM r JOIN sym s ON r.lbl = s.src)
         SELECT id AS vertex_id, min(lbl) AS cluster_id FROM r GROUP BY 1""",

    "text_stats" ->
      """SELECT doc_id,
                CAST(length(text) AS BIGINT) AS n_chars_c,
                CAST(CASE WHEN trim(text) = '' THEN 0
                     ELSE len(regexp_split_to_array(trim(text), '\s+')) END
                  AS BIGINT) AS n_tokens,
                round(CASE WHEN length(text) = 0 THEN 0.0
                  ELSE (length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')))
                       / CAST(length(text) AS DOUBLE) END, 4) AS punct_ratio,
                round(CASE WHEN trim(text) = '' THEN 0.0
                  ELSE len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                         x -> x IN ('the','and','of','to','in','is','that','for')))
                       / CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE)
                  END, 4) AS stopword_ratio_en
         FROM documents""",

    // vocabulary: total order via the term tiebreak, so top-100 is
    // deterministic on both engines
    "text_vocab" ->
      """WITH tok AS (
           SELECT doc_id,
                  unnest(regexp_split_to_array(lower(trim(text)),
                    '\s+')) AS term
           FROM documents),
         v AS (SELECT term, count(*) AS n,
                      count(DISTINCT doc_id) AS df
               FROM tok GROUP BY 1)
         SELECT term, n, df FROM v
         QUALIFY row_number() OVER (ORDER BY n DESC, term) <= 100""",

    // BPE pair census: identical word histogram + substring algebra on
    // both engines; total order via the pair tiebreak
    "text_bpe_pairs" ->
      """WITH tok AS (
           SELECT unnest(regexp_split_to_array(lower(trim(text)),
                    '\s+')) AS w
           FROM documents),
         wc AS (SELECT w, count(*) AS c FROM tok WHERE w <> ''
                GROUP BY 1),
         pairs AS (
           SELECT substring(w, i, 2) AS pair, c
           FROM wc, LATERAL unnest(generate_series(1, length(w) - 1))
                AS t(i)
           WHERE length(w) >= 2)
         SELECT pair, CAST(sum(c) AS BIGINT) AS n
         FROM pairs GROUP BY 1
         QUALIFY row_number() OVER (ORDER BY n DESC, pair) <= 100""",

    // BPE losslessness: token concatenation == whitespace-stripped
    // text (null text encodes to zero tokens -> '' on both engines)
    "text_bpe_roundtrip" ->
      """SELECT doc_id,
                regexp_replace(lower(trim(coalesce(text, ''))),
                  '\s+', '', 'g') AS joined
         FROM documents""",

    // byte-level+EOW roundtrip: the oracle rebuilds the expected
    // decode independently — lowercase, collapse every whitespace run
    // to ONE space, trim; decode() joins the non-empty words with
    // single spaces, so the two agree exactly iff the byte-level
    // encode/decode pair is lossless on every document
    "text_bpe_bytes" ->
      """SELECT doc_id,
                md5(trim(regexp_replace(lower(
                  text || CASE WHEN doc_id % 3 = 0
                    THEN ' héllo wörld 😀🚀 日本語のテキスト привет ж'
                    ELSE '' END),
                  '\s+', ' ', 'g'))) AS decoded_md5
         FROM documents""",

    // repetition signals: DuckDB rebuilds each doc's n-gram histogram
    // relationally (unnest + group by); fraction arithmetic is double
    // division of the same exact integers on both engines, rounded
    // with the explicit floor half-up form both engines compute
    // identically (round() diverges on .xxxx5, see timeseries_resample)
    "text_repetition" ->
      """WITH tok AS (
           SELECT doc_id,
                  regexp_split_to_array(lower(trim(text)), '\s+') AS t
           FROM documents),
         g AS (
           SELECT doc_id, n,
                  array_to_string(t[i:i+n-1], ' ') AS gram
           FROM tok
           CROSS JOIN (SELECT unnest([2, 3, 4]) AS n)
           CROSS JOIN LATERAL unnest(
             generate_series(1, len(t) - n + 1)) AS u(i)
           WHERE len(t) >= n),
         c AS (
           SELECT doc_id, n, gram, count(*) AS cnt, length(gram) AS l
           FROM g GROUP BY 1, 2, 3),
         a AS (
           SELECT doc_id, n,
                  floor(max(cnt * l) / sum(cnt * l) * 10000.0 + 0.5)
                    / 10000.0 AS top,
                  floor(sum(CASE WHEN cnt >= 2 THEN cnt * l ELSE 0 END)
                    / sum(cnt * l) * 10000.0 + 0.5) / 10000.0 AS dup
           FROM c GROUP BY 1, 2)
         SELECT d.doc_id,
                coalesce(a2.top, 0) AS top2_frac,
                coalesce(a2.dup, 0) AS dup2_frac,
                coalesce(a3.top, 0) AS top3_frac,
                coalesce(a3.dup, 0) AS dup3_frac,
                coalesce(a4.top, 0) AS top4_frac,
                coalesce(a4.dup, 0) AS dup4_frac
         FROM documents d
         LEFT JOIN a a2 ON a2.doc_id = d.doc_id AND a2.n = 2
         LEFT JOIN a a3 ON a3.doc_id = d.doc_id AND a3.n = 3
         LEFT JOIN a a4 ON a4.doc_id = d.doc_id AND a4.n = 4""",

    // Gopher ruleset: DuckDB recomputes every signal relationally and
    // applies the same thresholds to the same rounded doubles; reason
    // tags concatenate in the same fixed rule order
    "corpus_gopher_filter" ->
      """WITH tok AS (
           SELECT doc_id,
                  regexp_split_to_array(lower(trim(text)), '\s+') AS t
           FROM documents),
         g AS (
           SELECT doc_id, array_to_string(t[i:i+1], ' ') AS gram
           FROM tok
           CROSS JOIN LATERAL unnest(
             generate_series(1, len(t) - 1)) AS u(i)
           WHERE len(t) >= 2),
         c AS (
           SELECT doc_id, gram, count(*) AS cnt, length(gram) AS l
           FROM g GROUP BY 1, 2),
         rep AS (
           SELECT doc_id,
                  floor(max(cnt * l) / sum(cnt * l) * 10000.0 + 0.5)
                    / 10000.0 AS top2,
                  floor(sum(CASE WHEN cnt >= 2 THEN cnt * l ELSE 0 END)
                    / sum(cnt * l) * 10000.0 + 0.5) / 10000.0 AS dup2
           FROM c GROUP BY 1),
         sig AS (
           SELECT tok.doc_id,
             CAST(len(list_filter(t, x -> length(x) > 0)) AS BIGINT)
               AS n_tokens,
             floor(list_aggregate(list_transform(t, x -> length(x)),
                 'sum') / greatest(len(t), 1) * 10000.0 + 0.5)
               / 10000.0 AS mean_wlen,
             CAST(len(list_intersect(t, ['the','and','of','to','in',
               'is','that','for'])) AS BIGINT) AS n_stop,
             coalesce(rep.top2, 0) AS top2_frac,
             coalesce(rep.dup2, 0) AS dup2_frac
           FROM tok LEFT JOIN rep ON rep.doc_id = tok.doc_id),
         verdict AS (
           SELECT *,
             -- DuckDB's array_to_string is NULL on an empty list where
             -- Spark's array_join is '' — coalesce restores parity
             coalesce(array_to_string(list_filter([
               CASE WHEN n_tokens < 30 THEN 'tokens_lo' END,
               CASE WHEN n_tokens > 100000 THEN 'tokens_hi' END,
               CASE WHEN mean_wlen < 4.0 THEN 'wordlen_lo' END,
               CASE WHEN mean_wlen > 10.0 THEN 'wordlen_hi' END,
               CASE WHEN n_stop < 1 THEN 'stopwords' END,
               CASE WHEN top2_frac > 0.06 THEN 'rep_top2' END,
               CASE WHEN dup2_frac > 0.10 THEN 'rep_dup2' END],
               x -> x IS NOT NULL), ','), '') AS fail_reasons
           FROM sig)
         SELECT doc_id, n_tokens, mean_wlen, n_stop, top2_frac,
                dup2_frac, fail_reasons = '' AS keep, fail_reasons
         FROM verdict""",

    // streaming ingest: the survivors are exactly the quality-passing
    // NEW texts — batch-0 verbatim copies dup the corpus, batch-1
    // re-drops dup batch-0's accepts (or fail the same quality gate),
    // so the oracle enumerates the two surviving drop populations and
    // applies the same ruleset to the same modified texts
    "corpus_stream_ingest" ->
      """WITH inc AS (
           SELECT doc_id + 1000000 AS doc_id, text || ' fresh' AS text
           FROM documents WHERE doc_id % 2 = 1
           UNION ALL
           SELECT doc_id + 2000000 AS doc_id, text || ' fresher' AS text
           FROM documents WHERE doc_id % 2 = 0),
         tok AS (
           SELECT doc_id,
                  regexp_split_to_array(lower(trim(text)), '\s+') AS t
           FROM inc),
         g AS (
           SELECT doc_id, array_to_string(t[i:i+1], ' ') AS gram
           FROM tok
           CROSS JOIN LATERAL unnest(
             generate_series(1, len(t) - 1)) AS u(i)
           WHERE len(t) >= 2),
         c AS (
           SELECT doc_id, gram, count(*) AS cnt, length(gram) AS l
           FROM g GROUP BY 1, 2),
         rep AS (
           SELECT doc_id,
                  floor(max(cnt * l) / sum(cnt * l) * 10000.0 + 0.5)
                    / 10000.0 AS top2,
                  floor(sum(CASE WHEN cnt >= 2 THEN cnt * l ELSE 0 END)
                    / sum(cnt * l) * 10000.0 + 0.5) / 10000.0 AS dup2
           FROM c GROUP BY 1),
         sig AS (
           SELECT tok.doc_id,
             CAST(len(list_filter(t, x -> length(x) > 0)) AS BIGINT)
               AS n_tokens,
             floor(list_aggregate(list_transform(t, x -> length(x)),
                 'sum') / greatest(len(t), 1) * 10000.0 + 0.5)
               / 10000.0 AS mean_wlen,
             CAST(len(list_intersect(t, ['the','and','of','to','in',
               'is','that','for'])) AS BIGINT) AS n_stop,
             coalesce(rep.top2, 0) AS top2_frac,
             coalesce(rep.dup2, 0) AS dup2_frac
           FROM tok LEFT JOIN rep ON rep.doc_id = tok.doc_id)
         SELECT doc_id, n_tokens FROM sig
         WHERE n_tokens >= 30 AND n_tokens <= 100000
           AND mean_wlen >= 4.0 AND mean_wlen <= 10.0
           AND n_stop >= 1 AND top2_frac <= 0.06
           AND dup2_frac <= 0.10""",

    "text_tfidf" ->
      """WITH tok AS (
           SELECT doc_id,
                  unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
           FROM documents),
         tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
         dfq AS (SELECT term, count(DISTINCT doc_id) AS df
                 FROM tok GROUP BY 1),
         n AS (SELECT count(*) AS n FROM documents)
         SELECT tf.doc_id,
                round(sum(tf.tf * ln(CAST(n.n AS DOUBLE) / dfq.df)), 4)
                  AS tfidf
         FROM tf JOIN dfq USING (term), n
         GROUP BY 1""",

    // mean Laplace bigram logprob vs the same deterministic top-K
    // gram tables (count desc, gram asc, K=1000, min count 2)
    "text_lm_score" ->
      """WITH toks AS (
           SELECT doc_id,
                  regexp_split_to_array(lower(trim(text)), '\s+') AS ts
           FROM documents WHERE trim(text) <> ''),
         uni AS (SELECT t AS w, count(*) AS cu
                 FROM toks, unnest(ts) u(t) GROUP BY 1),
         vocab AS (SELECT count(*) AS v FROM uni),
         unik AS (SELECT w, cu FROM uni WHERE cu >= 2
                  ORDER BY cu DESC, w LIMIT 1000),
         pairs AS (
           SELECT doc_id, ts[i] AS w1, ts[i + 1] AS w2
           FROM toks, LATERAL (
             SELECT unnest(generate_series(1,
               CAST(len(ts) - 1 AS BIGINT))) AS i) g
           WHERE len(ts) >= 2),
         big AS (SELECT w1, w2, count(*) AS cb FROM pairs GROUP BY 1, 2),
         bigk AS (SELECT w1, w2, cb FROM big WHERE cb >= 2
                  ORDER BY cb DESC, w1, w2 LIMIT 1000)
         SELECT p.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
                round(avg(ln((coalesce(bk.cb, 0) + 1.0)
                  / (coalesce(uk.cu, 0) + v.v))), 4) AS lm_score
         FROM pairs p
         LEFT JOIN bigk bk ON bk.w1 = p.w1 AND bk.w2 = p.w2
         LEFT JOIN unik uk ON uk.w = p.w1
         CROSS JOIN vocab v
         GROUP BY 1""",

    "lang_id" ->
      """WITH toks AS (
           SELECT doc_id,
                  regexp_split_to_array(lower(trim(text)), '\s+') AS tk,
                  CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE) AS n
           FROM documents),
         sc AS (
           SELECT doc_id,
             len(list_filter(tk, x -> x IN ('the','and','of','to','in','is','that','for'))) / n AS s_en,
             len(list_filter(tk, x -> x IN ('der','die','und','das','ist','nicht','ein','mit'))) / n AS s_de,
             len(list_filter(tk, x -> x IN ('le','la','et','les','des','est','une','dans'))) / n AS s_fr,
             len(list_filter(tk, x -> x IN ('el','la','de','que','y','en','los','una'))) / n AS s_es
           FROM toks)
         SELECT doc_id,
                CASE WHEN greatest(s_en, s_de, s_fr, s_es) = 0 THEN 'und'
                     WHEN s_fr >= s_es AND s_fr >= s_en AND s_fr >= s_de THEN 'fr'
                     WHEN s_es >= s_en AND s_es >= s_de THEN 'es'
                     WHEN s_en >= s_de THEN 'en'
                     ELSE 'de' END AS lang_pred
         FROM sc""",

    "quality_score" ->
      """WITH f AS (
           SELECT doc_id,
                  least(length(text) / 500.0, 1.0) AS len_score,
                  CASE WHEN trim(text) = '' THEN 0.0
                    ELSE len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                           x -> x IN ('the','and','of','to','in','is','that','for')))
                         / CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE)
                  END AS stop_ratio,
                  CASE WHEN trim(text) = '' THEN 0.0
                    ELSE len(list_filter(regexp_split_to_array(trim(text), '\s+'),
                           x -> regexp_full_match(x, '[A-Za-z]+')))
                         / CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE)
                  END AS alpha_ratio,
                  CASE WHEN length(text) = 0 THEN 0.0
                    ELSE (length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')))
                         / CAST(length(text) AS DOUBLE) END AS punct_ratio
           FROM documents)
         SELECT doc_id,
                round((len_score + least(stop_ratio * 4.0, 1.0) + alpha_ratio
                       + greatest(1.0 - punct_ratio * 5.0, 0.0)) / 4.0, 4) AS quality
         FROM f""",

    "simsearch_brute" ->
      """WITH q AS (
           SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qvec
           FROM embeddings WHERE vec_id IN (1, 2, 3)),
         pairs AS (
           SELECT q.query_id, e.vec_id AS nn_id,
                  list_cosine_similarity(q.qvec, CAST(e.embedding AS DOUBLE[])) AS score
           FROM embeddings e, q WHERE e.vec_id != q.query_id)
         SELECT query_id,
                CAST(row_number() OVER (PARTITION BY query_id
                  ORDER BY score DESC, nn_id) AS BIGINT) AS rank,
                nn_id, round(score, 4) AS score
         FROM pairs
         QUALIFY rank <= 5""",

    // the native PolyHash codegen replayed in SQL: fold
    // (h*31 + codepoint) % 1e9+7 over the normalized text — a full
    // hash oracle for the custom Expression itself
    "fingerprint" ->
      """SELECT doc_id,
              list_reduce(
                list_prepend(CAST(0 AS BIGINT),
                  list_transform(
                    split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ''),
                    c -> CAST(unicode(c) AS BIGINT))),
                (h, c) -> (h * 31 + c) % 1000000007) AS fp
         FROM documents""",

    "simsearch_lsh" -> annOracle,
    "simsearch_ivf" -> annOracle,
    "simsearch_ivf_persisted" -> annOracle,
    "simsearch_ivf_append" -> annOracle,
    "simsearch_ivf_stream" -> annOracle,
    "simsearch_ivfpq" -> annOracle,

    // at tau=0.999 on 64-dim near-random vectors, ONLY the planted
    // exact duplicates qualify — and identical vectors share every
    // random-hyperplane band by construction, so the LSH candidate
    // pass is guaranteed-complete and DuckDB's exact all-pairs
    // cosine is a fair hash oracle for the whole pipeline
    // planted-pair contract (the dedup_minhash recipe): identical
    // vectors share a k-means cell by construction, so every doubled
    // vector MUST surface at cosine 1.0; organic pairs depend on the
    // fitted cells (cross-cell misses are SemDeDup's documented
    // approximation) and pin as an in-band boolean
    "embed_semdedup" ->
      """SELECT vec_id AS keep_id, CAST(1.0 AS DOUBLE) AS score,
                true AS organic_in_band
         FROM embeddings""",

    "embed_decontaminate" ->
      """WITH bench AS (
           SELECT vec_id AS bid, CAST(embedding AS DOUBLE[]) AS bv
           FROM embeddings WHERE vec_id % 100 = 0 AND vec_id < 2000),
         docs AS (
           SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings
           WHERE NOT (vec_id % 100 = 0 AND vec_id < 2000)),
         scored AS (
           SELECT d.vec_id,
                  max(list_cosine_similarity(d.v, b.bv)) AS mc
           FROM docs d CROSS JOIN bench b GROUP BY 1)
         SELECT vec_id, round(mc, 4) AS max_cos
         FROM scored WHERE mc >= 0.3""",

    // hard negatives: brute pairs restricted to label mismatch
    "embed_hard_negatives" ->
      """WITH q AS (
           SELECT vec_id AS query_id,
                  CAST(embedding AS DOUBLE[]) AS qvec, label AS ql
           FROM embeddings WHERE vec_id IN (1, 2, 3, 4)),
         pairs AS (
           SELECT q.query_id, e.vec_id AS nn_id,
                  list_cosine_similarity(q.qvec,
                    CAST(e.embedding AS DOUBLE[])) AS score
           FROM embeddings e, q
           WHERE e.vec_id != q.query_id
             AND e.label IS DISTINCT FROM q.ql)
         SELECT query_id,
                CAST(row_number() OVER (PARTITION BY query_id
                  ORDER BY score DESC, nn_id) AS BIGINT) AS rank,
                nn_id, round(score, 4) AS score
         FROM pairs
         QUALIFY rank <= 5""",

    // the probed-cell search must surface the different-label plant
    // at rank 1 — DuckDB computes the brute different-label top-1
    "embed_hard_negatives_ivf" ->
      """WITH aug AS (
           SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label
           FROM embeddings
           UNION ALL
           SELECT vec_id + 9000, CAST(embedding AS DOUBLE[]), label
           FROM embeddings WHERE vec_id IN (1, 2, 3)
           UNION ALL
           SELECT vec_id + 8000, CAST(embedding AS DOUBLE[]),
                  label + 100
           FROM embeddings WHERE vec_id IN (1, 2, 3)),
         q AS (SELECT vec_id AS query_id, v AS qv, label AS ql
               FROM aug WHERE vec_id IN (9001, 9002, 9003)),
         p AS (SELECT q.query_id, a.vec_id AS nn_id,
                      list_cosine_similarity(q.qv, a.v) AS score
               FROM aug a, q
               WHERE a.vec_id != q.query_id AND a.label != q.ql)
         SELECT query_id, nn_id AS top1, round(score, 4) AS score
         FROM p
         QUALIFY row_number() OVER (PARTITION BY query_id
           ORDER BY score DESC, nn_id) = 1""",

    // sign random projection: replay the 3-round quadratic mixer in
    // exact integer arithmetic, ordered list_sum for the fold
    "embed_rproj" ->
      """WITH ks AS (
           SELECT vec_id, embedding, unnest(range(0, 8)) AS k
           FROM embeddings),
         x0 AS (
           SELECT vec_id, embedding, k,
                  list_transform(range(0, len(embedding)),
                    j -> (j*8 + k + 12345) % 2147483647) AS hs
           FROM ks),
         x1 AS (SELECT vec_id, embedding, k,
                       list_transform(hs, h -> (h*h + h*1103515245
                         + 12345) % 2147483647) AS hs FROM x0),
         x2 AS (SELECT vec_id, embedding, k,
                       list_transform(hs, h -> (h*h + h*1103515245
                         + 12345) % 2147483647) AS hs FROM x1),
         x3 AS (SELECT vec_id, embedding, k,
                       list_transform(hs, h -> (h*h + h*1103515245
                         + 12345) % 2147483647) AS hs FROM x2),
         sg AS (SELECT vec_id, embedding, k,
                       list_transform(hs, h ->
                         CASE WHEN ((h >> 13) & 1) = 0
                           THEN CAST(1 AS DOUBLE)
                           ELSE CAST(-1 AS DOUBLE) END) AS ss
                FROM x3)
         SELECT vec_id, CAST(k AS BIGINT) AS k,
                round(list_sum(list_transform(range(0, len(embedding)),
                  j -> CAST(embedding[j+1] AS DOUBLE) * ss[j+1])) /
                  sqrt(CAST(8 AS DOUBLE)), 6) AS value
         FROM sg""",

    "embed_neardup" ->
      """WITH d AS (
           SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
           UNION ALL
           SELECT vec_id + 1000000, CAST(embedding AS DOUBLE[])
           FROM embeddings)
         SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                round(list_cosine_similarity(a.v, b.v), 4) AS cos
         FROM d a JOIN d b ON a.vec_id < b.vec_id
         WHERE list_cosine_similarity(a.v, b.v) >= 0.999""",

    "events_hourly" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H') AS hr,
                event_type, count(*) AS n, round(sum(value), 2) AS sv
         FROM events GROUP BY 1, 2""",

    "events_stream_hourly" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H') AS hr,
                event_type, count(*) AS n, round(sum(value), 2) AS sv
         FROM events GROUP BY 1, 2""",

    // cohort retention: day offsets from each user's first-seen day
    "events_retention" ->
      """WITH days AS (
           SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
           FROM events),
         f AS (SELECT user_id, min(day) AS cohort FROM days GROUP BY 1)
         SELECT strftime(f.cohort, '%Y-%m-%d') AS cohort,
                CAST(d.day - f.cohort AS BIGINT) AS offset,
                count(*) AS n_users
         FROM days d JOIN f USING (user_id)
         GROUP BY 1, 2""",

    // anomaly flags replayed in the same integer algebra:
    // (n*yc - sy)^2 > 9 (n*syy - sy^2) over the 20-preceding frame
    "events_anomaly" ->
      """WITH b AS (
           SELECT user_id, ts, event_id, value,
                  CAST(round(value*100, 0) AS BIGINT) AS yc
           FROM events),
         w AS (
           SELECT user_id, event_id, value, yc,
                  count(yc) OVER f AS n,
                  sum(yc) OVER f AS sy,
                  sum(yc*yc) OVER f AS syy
           FROM b
           WINDOW f AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING))
         SELECT user_id, event_id, value,
                CAST(n AS BIGINT) AS n_window
         FROM w
         WHERE n >= 5
           AND (n*yc - sy)*(n*yc - sy) > 9*(n*syy - sy*sy)""",

    // OLS from exact integer sums; x re-based per user kills the
    // epoch-hour cancellation in the denominator
    "timeseries_trend" ->
      """WITH b AS (
           SELECT user_id,
                  CAST(floor(epoch(ts)/3600) AS BIGINT) AS h,
                  CAST(round(value*100, 0) AS BIGINT) AS yc
           FROM events),
         o AS (SELECT user_id, min(h) AS h0 FROM b GROUP BY 1),
         x AS (SELECT b.user_id, b.h - o.h0 AS x, yc
               FROM b JOIN o USING (user_id)),
         sums AS (
           SELECT user_id, CAST(count(*) AS BIGINT) AS n,
                  CAST(sum(x) AS BIGINT) AS sx,
                  CAST(sum(yc) AS BIGINT) AS sy,
                  CAST(sum(x*yc) AS BIGINT) AS sxy,
                  CAST(sum(x*x) AS BIGINT) AS sxx
           FROM x GROUP BY 1)
         SELECT user_id, n,
                CASE WHEN n*sxx - sx*sx = 0 THEN NULL
                     ELSE CAST(floor((CAST(n*sxy - sx*sy AS DOUBLE)
                       / CAST(n*sxx - sx*sx AS DOUBLE)
                       / CAST(100 AS DOUBLE)) * 1000000 + 0.5)
                       AS BIGINT) / CAST(1000000 AS DOUBLE) END
                  AS slope,
                CASE WHEN n*sxx - sx*sx = 0 THEN NULL
                     ELSE CAST(floor((CAST(sy*sxx - sx*sxy AS DOUBLE)
                       / CAST(n*sxx - sx*sx AS DOUBLE)
                       / CAST(100 AS DOUBLE)) * 1000000 + 0.5)
                       AS BIGINT) / CAST(1000000 AS DOUBLE) END
                  AS intercept
         FROM sums""",

    // hourly grid + linear interpolation; epoch arithmetic is exact
    // integer seconds on both engines
    "timeseries_resample" ->
      """WITH obs AS (
           SELECT user_id, date_trunc('hour', ts) AS h,
                  min(value) AS v
           FROM events GROUP BY 1, 2),
         bounds AS (
           SELECT user_id, min(h) AS lo, max(h) AS hi
           FROM obs GROUP BY 1),
         grid AS (
           SELECT user_id,
                  unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS h
           FROM bounds),
         j AS (
           SELECT g.user_id, g.h, o.v FROM grid g
           LEFT JOIN obs o ON o.user_id = g.user_id AND o.h = g.h),
         f AS (
           SELECT user_id, h, v,
             last_value(v IGNORE NULLS) OVER (PARTITION BY user_id
               ORDER BY h ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW) AS pv,
             last_value(CASE WHEN v IS NOT NULL THEN h END
               IGNORE NULLS) OVER (PARTITION BY user_id
               ORDER BY h ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW) AS ph,
             first_value(v IGNORE NULLS) OVER (PARTITION BY user_id
               ORDER BY h ROWS BETWEEN CURRENT ROW
               AND UNBOUNDED FOLLOWING) AS nv,
             first_value(CASE WHEN v IS NOT NULL THEN h END
               IGNORE NULLS) OVER (PARTITION BY user_id
               ORDER BY h ROWS BETWEEN CURRENT ROW
               AND UNBOUNDED FOLLOWING) AS nh
           FROM j)
         SELECT user_id, strftime(h, '%Y-%m-%d %H') AS hour,
                CAST(floor((CASE WHEN v IS NOT NULL THEN v
                      ELSE pv + (nv - pv)
                           * (epoch(h) - epoch(ph))
                           / (epoch(nh) - epoch(ph)) END)
                  * 10000 + 0.5) AS BIGINT)
                  / CAST(10000 AS DOUBLE) AS value,
                v IS NULL AS interpolated
         FROM f""",

    // ordered funnel; "after" is (ts, event_id) row order on both
    // engines via the same 1-PRECEDING running windows
    "events_funnel" ->
      """WITH o AS (
           SELECT user_id, event_id, ts, event_type,
                  min(CASE WHEN event_type = 'click' THEN ts END)
                    OVER (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING
                      AND 1 PRECEDING) AS c1
           FROM events),
         v AS (
           SELECT *, min(CASE WHEN event_type = 'view'
                    AND c1 IS NOT NULL THEN ts END)
                    OVER (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING
                      AND 1 PRECEDING) AS v1
           FROM o),
         a AS (SELECT
                 count(DISTINCT CASE WHEN event_type = 'click'
                   THEN user_id END) AS s1,
                 count(DISTINCT CASE WHEN event_type = 'view'
                   AND c1 IS NOT NULL THEN user_id END) AS s2,
                 count(DISTINCT CASE WHEN event_type = 'purchase'
                   AND v1 IS NOT NULL THEN user_id END) AS s3
               FROM v)
         SELECT '1_click' AS stage, s1 AS n_users FROM a
         UNION ALL SELECT '2_view_after_click', s2 FROM a
         UNION ALL SELECT '3_purchase_after_view', s3 FROM a""",

    // 5 unrolled power iterations; (1-d) derives from the SAME double
    // subtraction the engine performs (a 0.15 literal is a different
    // double and drifts the 17th digit)
    "graph_pagerank" ->
      """WITH nn AS (SELECT CAST(count(*) AS BIGINT) AS c
                     FROM documents),
         nodes AS (SELECT doc_id AS id FROM documents),
         edges AS (
           SELECT doc_id AS src,
                  (doc_id*13 + 7) % (SELECT c FROM nn) + 1 AS dst
           FROM documents
           UNION ALL
           SELECT doc_id,
                  (doc_id*29 + 3) % (SELECT c FROM nn) + 1
           FROM documents),
         deg AS (SELECT src, CAST(count(*) AS DOUBLE) AS dg
                 FROM edges GROUP BY 1),
         ew AS (SELECT e.src, e.dst, CAST(1 AS DOUBLE)/d.dg AS w
                FROM edges e JOIN deg d USING (src)),
         r0 AS (SELECT id, CAST(1 AS DOUBLE)/(SELECT c FROM nn) AS r
                FROM nodes),
         r1 AS (SELECT n.id,
                  (CAST(1 AS DOUBLE) - CAST(0.85 AS DOUBLE))
                    /(SELECT c FROM nn)
                  + CAST(0.85 AS DOUBLE)
                    * coalesce(t.s, CAST(0 AS DOUBLE)) AS r
                FROM nodes n LEFT JOIN (
                  SELECT e.dst AS id2, sum(r.r*e.w) AS s
                  FROM ew e JOIN r0 r ON r.id = e.src GROUP BY 1) t
                ON t.id2 = n.id),
         r2 AS (SELECT n.id,
                  (CAST(1 AS DOUBLE) - CAST(0.85 AS DOUBLE))
                    /(SELECT c FROM nn)
                  + CAST(0.85 AS DOUBLE)
                    * coalesce(t.s, CAST(0 AS DOUBLE)) AS r
                FROM nodes n LEFT JOIN (
                  SELECT e.dst AS id2, sum(r.r*e.w) AS s
                  FROM ew e JOIN r1 r ON r.id = e.src GROUP BY 1) t
                ON t.id2 = n.id),
         r3 AS (SELECT n.id,
                  (CAST(1 AS DOUBLE) - CAST(0.85 AS DOUBLE))
                    /(SELECT c FROM nn)
                  + CAST(0.85 AS DOUBLE)
                    * coalesce(t.s, CAST(0 AS DOUBLE)) AS r
                FROM nodes n LEFT JOIN (
                  SELECT e.dst AS id2, sum(r.r*e.w) AS s
                  FROM ew e JOIN r2 r ON r.id = e.src GROUP BY 1) t
                ON t.id2 = n.id),
         r4 AS (SELECT n.id,
                  (CAST(1 AS DOUBLE) - CAST(0.85 AS DOUBLE))
                    /(SELECT c FROM nn)
                  + CAST(0.85 AS DOUBLE)
                    * coalesce(t.s, CAST(0 AS DOUBLE)) AS r
                FROM nodes n LEFT JOIN (
                  SELECT e.dst AS id2, sum(r.r*e.w) AS s
                  FROM ew e JOIN r3 r ON r.id = e.src GROUP BY 1) t
                ON t.id2 = n.id),
         r5 AS (SELECT n.id,
                  (CAST(1 AS DOUBLE) - CAST(0.85 AS DOUBLE))
                    /(SELECT c FROM nn)
                  + CAST(0.85 AS DOUBLE)
                    * coalesce(t.s, CAST(0 AS DOUBLE)) AS r
                FROM nodes n LEFT JOIN (
                  SELECT e.dst AS id2, sum(r.r*e.w) AS s
                  FROM ew e JOIN r4 r ON r.id = e.src GROUP BY 1) t
                ON t.id2 = n.id)
         SELECT id AS doc_id, round(r, 8) AS rank FROM r5""",

    "events_stream_dedup" ->
      """SELECT event_type, count(*) AS n, round(sum(value), 2) AS sv
         FROM events GROUP BY 1""",

    // the stream-stream interval join must emit exactly the batch join
    "events_stream_join" ->
      """SELECT c.event_id AS click_id, v.event_id AS view_id,
                c.user_id AS user_id
         FROM events c JOIN events v ON c.user_id = v.user_id
           AND c.event_type = 'click' AND v.event_type = 'view'
           AND epoch_us(v.ts) BETWEEN epoch_us(c.ts) - 86400000000
                                  AND epoch_us(c.ts)""",

    // bloom false positives must be fully cancelled by the exact
    // verify: the result equals the plain anti-join
    "dedup_incremental" ->
      """WITH inc AS (
           SELECT doc_id + 1000000 AS doc_id,
                  CASE WHEN doc_id % 2 = 0 THEN text
                       ELSE text || ' fresh' END AS text
           FROM documents),
         ch AS (SELECT DISTINCT md5(text) AS h FROM documents)
         SELECT i.doc_id, md5(i.text) AS content_hash
         FROM inc i LEFT JOIN ch c ON md5(i.text) = c.h
         WHERE c.h IS NULL""",

    "pipeline_redact" ->
      """WITH aug AS (
           SELECT doc_id, text ||
             CASE WHEN doc_id % 3 = 0
                    THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com now'
                  WHEN doc_id % 5 = 0
                    THEN ' call +1 415 555-00' || CAST(doc_id AS VARCHAR) || ' today'
                  ELSE '' END AS text
           FROM documents)
         SELECT doc_id,
           CAST(len(regexp_extract_all(text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(text,
             '\+[0-9][0-9()./ -]{7,}[0-9]')) AS BIGINT) AS n_phones,
           md5(regexp_replace(regexp_replace(text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             '\+[0-9][0-9()./ -]{7,}[0-9]', '<PHONE>', 'g')) AS redacted_md5
         FROM aug""",

    "pipeline_corpus" ->
      """WITH toks AS (
           SELECT doc_id,
                  regexp_split_to_array(lower(trim(text)), '\s+') AS tk,
                  CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE) AS n
           FROM documents),
         sc AS (
           SELECT doc_id,
             len(list_filter(tk, x -> x IN ('the','and','of','to','in','is','that','for'))) / n AS s_en,
             len(list_filter(tk, x -> x IN ('der','die','und','das','ist','nicht','ein','mit'))) / n AS s_de,
             len(list_filter(tk, x -> x IN ('le','la','et','les','des','est','une','dans'))) / n AS s_fr,
             len(list_filter(tk, x -> x IN ('el','la','de','que','y','en','los','una'))) / n AS s_es
           FROM toks),
         lang AS (
           SELECT doc_id,
                CASE WHEN greatest(s_en, s_de, s_fr, s_es) = 0 THEN 'und'
                     WHEN s_fr >= s_es AND s_fr >= s_en AND s_fr >= s_de THEN 'fr'
                     WHEN s_es >= s_en AND s_es >= s_de THEN 'es'
                     WHEN s_en >= s_de THEN 'en'
                     ELSE 'de' END AS lang
           FROM sc),
         qf AS (
           SELECT doc_id,
                  least(length(text) / 500.0, 1.0) AS len_score,
                  CASE WHEN trim(text) = '' THEN 0.0
                    ELSE len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                           x -> x IN ('the','and','of','to','in','is','that','for')))
                         / CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE)
                  END AS stop_ratio,
                  CASE WHEN trim(text) = '' THEN 0.0
                    ELSE len(list_filter(regexp_split_to_array(trim(text), '\s+'),
                           x -> regexp_full_match(x, '[A-Za-z]+')))
                         / CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE)
                  END AS alpha_ratio,
                  CASE WHEN length(text) = 0 THEN 0.0
                    ELSE (length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')))
                         / CAST(length(text) AS DOUBLE) END AS punct_ratio
           FROM documents),
         q AS (
           SELECT doc_id,
                round((len_score + least(stop_ratio * 4.0, 1.0) + alpha_ratio
                       + greatest(1.0 - punct_ratio * 5.0, 0.0)) / 4.0, 4) AS quality
           FROM qf),
         scored AS (
           SELECT d.doc_id, d.text, l.lang, q.quality,
                  CASE WHEN trim(d.text) = '' THEN 0
                       ELSE len(regexp_split_to_array(trim(d.text), '\s+'))
                  END AS n_tokens
           FROM documents d
           JOIN lang l USING (doc_id) JOIN q USING (doc_id)
           WHERE q.quality > 0.5501 AND l.lang <> 'und'),
         dedup AS (
           SELECT *, row_number() OVER (
             PARTITION BY md5(text) ORDER BY doc_id) AS rn
           FROM scored),
         sampled AS (
           SELECT doc_id, lang, quality,
                  CAST(n_tokens AS BIGINT) AS n_tokens,
                  CAST(row_number() OVER (PARTITION BY lang
                    ORDER BY ((doc_id % 1000000007) * 2654435761) % 1000000007, doc_id)
                    AS BIGINT) AS rk
           FROM dedup WHERE rn = 1)
         SELECT doc_id, lang, quality, n_tokens, rk
         FROM sampled WHERE rk <= 100""",

    "corpus_repetition" ->
      """WITH tok AS (
           SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS tk
           FROM documents),
         g AS (
           SELECT doc_id, tk,
                  CASE WHEN len(tk) >= 2
                       THEN list_transform(range(1, len(tk)),
                              i -> array_to_string(list_slice(tk, i, i + 1), ' '))
                       ELSE CAST([] AS VARCHAR[]) END AS g2
           FROM tok)
         SELECT doc_id,
                round(CASE WHEN len(tk) = 0 OR (len(tk) = 1 AND tk[1] = '') THEN 0.0
                  ELSE len(list_distinct(tk)) / CAST(len(tk) AS DOUBLE) END, 4)
                  AS distinct_token_ratio,
                round(CASE WHEN len(g2) = 0 THEN 0.0
                  ELSE 1.0 - len(list_distinct(g2)) / CAST(len(g2) AS DOUBLE) END, 4)
                  AS dup_2gram_frac,
                round(CASE WHEN len(tk) = 0 OR (len(tk) = 1 AND tk[1] = '') THEN 0.0
                  ELSE list_max(list_transform(list_distinct(tk),
                         t -> len(list_filter(tk, x -> x = t))))
                       / CAST(len(tk) AS DOUBLE) END, 4) AS top_token_frac
         FROM g""",

    "corpus_decontaminate" ->
      """WITH tok AS (
           SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS tk
           FROM documents),
         bench AS (
           -- rebuilt exactly like the Spark side: join the first 8
           -- tokens with single spaces and RE-TOKENIZE, so an empty
           -- token (tab/newline-edged text survives SQL trim) cannot
           -- make the oracle's gram set differ from Spark's
           SELECT regexp_split_to_array(
                    trim(array_to_string(list_slice(tk, 1, 8), ' ')),
                    '\s+') AS btk
           FROM tok WHERE doc_id % 40 = 0),
         bgi AS (
           SELECT btk, unnest(range(1, len(btk) - 3)) AS i
           FROM bench WHERE len(btk) >= 5),
         bg AS (
           SELECT DISTINCT array_to_string(list_slice(btk, i, i + 4), ' ') AS gram
           FROM bgi),
         dgi AS (
           SELECT doc_id, tk, unnest(range(1, len(tk) - 3)) AS i
           FROM tok WHERE len(tk) >= 5),
         dg AS (
           SELECT DISTINCT doc_id,
                  array_to_string(list_slice(tk, i, i + 4), ' ') AS gram
           FROM dgi)
         SELECT doc_id, CAST(count(DISTINCT gram) AS BIGINT) AS n_hits
         FROM dg JOIN bg USING (gram)
         GROUP BY 1""",

    "corpus_domains" ->
      """WITH aug AS (
           SELECT doc_id,
                  text || ' see https://host' || CAST(doc_id % 7 AS VARCHAR)
                       || '.example.org/p' || CAST(doc_id AS VARCHAR)
                       || CASE WHEN doc_id % 4 = 0
                               THEN ' and http://blocked.example.com/x'
                               ELSE '' END AS text
           FROM documents),
         d AS (
           SELECT doc_id,
                  unnest(regexp_extract_all(text,
                    'https?://([A-Za-z0-9.-]+)', 1)) AS domain
           FROM aug)
         SELECT domain, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
                CAST(count(*) AS BIGINT) AS n_urls
         FROM d WHERE domain <> 'blocked.example.com'
         GROUP BY 1""",

    // the composed corpus-prep pipeline: every stage's arithmetic is
    // reproduced in one CTE chain so a single hash verifies the whole
    // flow (gate -> decontaminate -> mixture -> shards)
    "pipeline_corpus2" ->
      """WITH tok AS (
           -- null text is "no document" on both sides (Spark's gate
           -- drops it via null propagation)
           SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS tk
           FROM documents WHERE text IS NOT NULL),
         g AS (
           SELECT doc_id, tk,
                  CASE WHEN len(tk) >= 2
                       THEN list_transform(range(1, len(tk)),
                              i -> array_to_string(list_slice(tk, i, i + 1), ' '))
                       ELSE CAST([] AS VARCHAR[]) END AS g2
           FROM tok),
         rep AS (
           SELECT doc_id FROM g
           WHERE round(CASE WHEN len(g2) = 0 THEN 0.0
                 ELSE 1.0 - len(list_distinct(g2)) / CAST(len(g2) AS DOUBLE)
                 END, 4) < 0.2),
         bench AS (
           -- rebuilt exactly like the Spark side: join the first 8
           -- tokens with single spaces and RE-TOKENIZE, so an empty
           -- token (tab/newline-edged text survives SQL trim) cannot
           -- make the oracle's gram set differ from Spark's
           SELECT regexp_split_to_array(
                    trim(array_to_string(list_slice(tk, 1, 8), ' ')),
                    '\s+') AS btk
           FROM tok WHERE doc_id % 40 = 0),
         bgi AS (
           SELECT btk, unnest(range(1, len(btk) - 3)) AS i
           FROM bench WHERE len(btk) >= 5),
         bg AS (
           SELECT DISTINCT array_to_string(list_slice(btk, i, i + 4), ' ') AS gram
           FROM bgi),
         dgi AS (
           SELECT doc_id, tk, unnest(range(1, len(tk) - 3)) AS i
           FROM tok WHERE len(tk) >= 5
             AND doc_id IN (SELECT doc_id FROM rep)),
         dg AS (
           SELECT DISTINCT doc_id,
                  array_to_string(list_slice(tk, i, i + 4), ' ') AS gram
           FROM dgi),
         hits AS (SELECT DISTINCT doc_id FROM dg JOIN bg USING (gram)),
         clean AS (
           SELECT d.doc_id, d.lang, d.text FROM documents d
           JOIN rep USING (doc_id)
           WHERE d.doc_id NOT IN (SELECT doc_id FROM hits)),
         c AS (SELECT lang, count(*) AS n FROM clean GROUP BY 1),
         r AS (SELECT lang, n, CAST(floor(sqrt(n)) AS BIGINT) AS rt FROM c),
         st AS (SELECT sum(rt) AS srt FROM r),
         thr AS (SELECT lang,
                        least(10000, (CAST(150 AS HUGEINT) * rt * 10000)
                                     // (CAST(srt AS HUGEINT) * n)) AS t
                 FROM r, st),
         sampled AS (
           SELECT cl.doc_id, cl.lang, cl.text FROM clean cl
           JOIN thr USING (lang)
           WHERE ((cl.doc_id % 1000000007) * 2654435761) % 1000000007 % 10000
                 < thr.t),
         w AS (
           SELECT doc_id, lang,
                  CASE WHEN trim(text) = '' THEN 0
                       ELSE len(regexp_split_to_array(trim(text), '\s+'))
                  END AS n_tokens
           FROM sampled)
         SELECT doc_id, lang,
                CAST(floor((sum(n_tokens) OVER (ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     - n_tokens) / 500.0) AS BIGINT) AS shard_id
         FROM w""",

    "pipeline_corpus3" ->
      """WITH tok AS (
           SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS tk
           FROM documents WHERE text IS NOT NULL),
         g AS (
           SELECT doc_id, tk,
                  CASE WHEN len(tk) >= 2
                       THEN list_transform(range(1, len(tk)),
                              i -> array_to_string(list_slice(tk, i, i + 1), ' '))
                       ELSE CAST([] AS VARCHAR[]) END AS g2
           FROM tok),
         rep AS (
           SELECT doc_id FROM g
           WHERE round(CASE WHEN len(g2) = 0 THEN 0.0
                 ELSE 1.0 - len(list_distinct(g2)) / CAST(len(g2) AS DOUBLE)
                 END, 4) < 0.2),
         wi AS (
           SELECT doc_id, tk, unnest(range(1, len(tk) - 8)) AS i
           FROM tok WHERE len(tk) >= 10
             AND doc_id IN (SELECT doc_id FROM rep)),
         win AS (
           SELECT doc_id,
                  md5(array_to_string(list_slice(tk, i, i + 9), ' ')) AS whash
           FROM wi),
         dupw AS (SELECT whash FROM win GROUP BY 1 HAVING count(*) > 1),
         spanflag AS (SELECT DISTINCT doc_id FROM win JOIN dupw USING (whash)),
         spanclean AS (
           SELECT doc_id FROM rep
           WHERE doc_id NOT IN (SELECT doc_id FROM spanflag)),
         bench AS (
           SELECT regexp_split_to_array(
                    trim(array_to_string(list_slice(tk, 1, 8), ' ')),
                    '\s+') AS btk
           FROM tok WHERE doc_id % 40 = 0),
         bgi AS (
           SELECT btk, unnest(range(1, len(btk) - 3)) AS i
           FROM bench WHERE len(btk) >= 5),
         bg AS (
           SELECT DISTINCT array_to_string(list_slice(btk, i, i + 4), ' ') AS gram
           FROM bgi),
         dgi AS (
           SELECT doc_id, tk, unnest(range(1, len(tk) - 3)) AS i
           FROM tok WHERE len(tk) >= 5
             AND doc_id IN (SELECT doc_id FROM spanclean)),
         dg AS (
           SELECT DISTINCT doc_id,
                  array_to_string(list_slice(tk, i, i + 4), ' ') AS gram
           FROM dgi),
         hits AS (SELECT DISTINCT doc_id FROM dg JOIN bg USING (gram)),
         clean AS (
           SELECT d.doc_id, d.lang, d.text FROM documents d
           JOIN spanclean USING (doc_id)
           WHERE d.doc_id NOT IN (SELECT doc_id FROM hits)),
         c AS (SELECT lang, count(*) AS n FROM clean GROUP BY 1),
         r AS (SELECT lang, n, CAST(floor(sqrt(n)) AS BIGINT) AS rt FROM c),
         st AS (SELECT sum(rt) AS srt FROM r),
         thr AS (SELECT lang,
                        least(10000, (CAST(150 AS HUGEINT) * rt * 10000)
                                     // (CAST(srt AS HUGEINT) * n)) AS t
                 FROM r, st),
         sampled AS (
           SELECT cl.doc_id, cl.text FROM clean cl
           JOIN thr USING (lang)
           WHERE ((cl.doc_id % 1000000007) * 2654435761) % 1000000007 % 10000
                 < thr.t),
         w AS (
           SELECT doc_id,
                  CASE WHEN trim(text) = '' THEN 0
                       ELSE len(regexp_split_to_array(trim(text), '\s+'))
                  END AS n
           FROM sampled),
         sgm AS (
           SELECT doc_id, n,
                  sum(n) OVER (ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n
                    AS start
           FROM w WHERE n > 0),
         packed AS (
           SELECT doc_id, CAST(t.seq_id AS BIGINT) AS seq_id,
                  CAST(greatest(start, t.seq_id * 128) - start AS BIGINT)
                    AS doc_from,
                  CAST(least(start + n, (t.seq_id + 1) * 128) - start
                    AS BIGINT) AS doc_to,
                  CAST(greatest(start, t.seq_id * 128) - t.seq_id * 128
                    AS BIGINT) AS seq_off
           FROM sgm, LATERAL (
             SELECT unnest(generate_series(
               CAST(start // 128 AS BIGINT),
               CAST((start + n - 1) // 128 AS BIGINT))) AS seq_id
           ) t),
         toks AS (
           SELECT doc_id,
                  regexp_split_to_array(lower(trim(text)), '\s+') AS ts
           FROM sampled WHERE trim(text) <> ''),
         uni AS (SELECT t AS w, count(*) AS cu
                 FROM toks, unnest(ts) u(t) GROUP BY 1),
         vocab AS (SELECT count(*) AS v FROM uni),
         unik AS (SELECT w, cu FROM uni WHERE cu >= 2
                  ORDER BY cu DESC, w LIMIT 1000),
         pairs AS (
           SELECT doc_id, ts[i] AS w1, ts[i + 1] AS w2
           FROM toks, LATERAL (
             SELECT unnest(generate_series(1,
               CAST(len(ts) - 1 AS BIGINT))) AS i) gg
           WHERE len(ts) >= 2),
         big AS (SELECT w1, w2, count(*) AS cb FROM pairs GROUP BY 1, 2),
         bigk AS (SELECT w1, w2, cb FROM big WHERE cb >= 2
                  ORDER BY cb DESC, w1, w2 LIMIT 1000),
         lm AS (
           SELECT p.doc_id,
                  round(avg(ln((coalesce(bk.cb, 0) + 1.0)
                    / (coalesce(uk.cu, 0) + v.v))), 4) AS lm_score
           FROM pairs p
           LEFT JOIN bigk bk ON bk.w1 = p.w1 AND bk.w2 = p.w2
           LEFT JOIN unik uk ON uk.w = p.w1
           CROSS JOIN vocab v
           GROUP BY 1)
         SELECT p.doc_id, p.seq_id, p.doc_from, p.doc_to, p.seq_off,
                coalesce(lm.lm_score, 0.0) AS lm
         FROM packed p LEFT JOIN lm USING (doc_id)""",

    "corpus_mixture" ->
      """WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY 1),
         r AS (SELECT lang, n, CAST(floor(sqrt(n)) AS BIGINT) AS rt FROM c),
         s AS (SELECT sum(rt) AS srt FROM r),
         thr AS (SELECT lang,
                        least(10000, (CAST(200 AS HUGEINT) * rt * 10000)
                                     // (CAST(srt AS HUGEINT) * n)) AS t
                 FROM r, s)
         SELECT d.doc_id, d.lang
         FROM documents d JOIN thr ON d.lang = thr.lang
         WHERE ((d.doc_id % 1000000007) * 2654435761) % 1000000007 % 10000
               < thr.t""",

    "corpus_span_dedup" ->
      """WITH corpus AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 1000000 AS doc_id, text FROM documents
           WHERE doc_id % 3 = 0),
         tok AS (
           SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS tk
           FROM corpus),
         wi AS (
           SELECT doc_id, tk, unnest(range(1, len(tk) - 8)) AS i
           FROM tok WHERE len(tk) >= 10),
         win AS (
           SELECT doc_id,
                  md5(array_to_string(list_slice(tk, i, i + 9), ' ')) AS whash
           FROM wi),
         dup AS (SELECT whash FROM win GROUP BY 1 HAVING count(*) > 1)
         SELECT w.doc_id,
                CAST(count(*) AS BIGINT) AS n_windows,
                CAST(sum(CASE WHEN d.whash IS NOT NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_dup_windows,
                round(sum(CASE WHEN d.whash IS NOT NULL THEN 1 ELSE 0 END)
                      / CAST(count(*) AS DOUBLE), 4) AS dup_frac
         FROM win w LEFT JOIN dup d USING (whash)
         GROUP BY 1""",

    "embed_centroids" ->
      """WITH e AS (
           SELECT label, embedding,
                  unnest(generate_series(1, len(embedding))) AS dim
           FROM embeddings)
         SELECT label, CAST(dim AS BIGINT) AS dim,
                round(avg(CAST(embedding[dim] AS DOUBLE)), 4) AS c
         FROM e GROUP BY 1, 2""",

    "corpus_shards" ->
      """WITH w AS (
           SELECT doc_id,
                  CASE WHEN trim(text) = '' THEN 0
                       ELSE len(regexp_split_to_array(trim(text), '\s+'))
                  END AS n_tokens
           FROM documents)
         SELECT doc_id,
                CAST(floor((sum(n_tokens) OVER (ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     - n_tokens) / 500.0) AS BIGINT) AS shard_id
         FROM w""",

    // concat-then-chunk: docs laid end to end in id order, cut into
    // 128-token sequences; one row per (doc, sequence) overlap
    "corpus_pack_sequences" ->
      """WITH w AS (
           SELECT doc_id,
                  CASE WHEN trim(text) = '' THEN 0
                       ELSE len(regexp_split_to_array(trim(text), '\s+'))
                  END AS n
           FROM documents),
         s AS (
           SELECT doc_id, n,
                  sum(n) OVER (ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n
                    AS start
           FROM w WHERE n > 0)
         SELECT doc_id, CAST(t.seq_id AS BIGINT) AS seq_id,
                CAST(greatest(start, t.seq_id * 128) - start AS BIGINT)
                  AS doc_from,
                CAST(least(start + n, (t.seq_id + 1) * 128) - start
                  AS BIGINT) AS doc_to,
                CAST(greatest(start, t.seq_id * 128) - t.seq_id * 128
                  AS BIGINT) AS seq_off
         FROM s, LATERAL (
           SELECT unnest(generate_series(
             CAST(start // 128 AS BIGINT),
             CAST((start + n - 1) // 128 AS BIGINT))) AS seq_id
         ) t""",

    // DPP row: months present in BOTH relations, counted over lineitem
    "join_dpp" ->
      """WITH m AS (SELECT DISTINCT strftime(o_orderdate, '%Y-%m') AS ship_month
                    FROM orders
                    WHERE o_orderpriority = '1-URGENT'
                      AND o_orderdate < TIMESTAMP '1996-01-01')
         SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
                CAST(count(*) AS BIGINT) AS n,
                round(sum(l_quantity), 2) AS sum_qty
         FROM lineitem
         WHERE strftime(l_shipdate, '%Y-%m') IN (SELECT ship_month FROM m)
         GROUP BY 1""",

    // grouped top-k (value desc, id asc — the aggregator's
    // deterministic rank order)
    "group_topk" ->
      """SELECT o_orderpriority,
                CAST(row_number() OVER (PARTITION BY o_orderpriority
                  ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rk,
                o_orderkey, o_totalprice
         FROM orders
         QUALIFY rk <= 3""",

    // deterministic weighted sampling: the LCG + exponential-race
    // arithmetic replayed exactly; same 6-decimal key rounding
    "corpus_weighted_sample" ->
      """WITH h AS (
           SELECT doc_id, n_chars,
                  ((doc_id % 2147483647) * 1103515245 + 12345)
                    % 2147483647 AS h
           FROM documents),
         k AS (
           SELECT doc_id, n_chars,
                  round(n_chars / (-ln((h + 0.5) / 2147483647.0)), 6)
                    AS key
           FROM h)
         SELECT doc_id, n_chars,
                CAST(row_number() OVER (ORDER BY key DESC, doc_id)
                  AS BIGINT) AS rk
         FROM k QUALIFY rk <= 40""",

    // snapshot diff: the same synthetic new-version derivation, then
    // md5-compare through a full-outer join
    "corpus_diff" ->
      """WITH newv AS (
           SELECT doc_id,
                  CASE WHEN doc_id % 7 = 0 THEN text || ' v2'
                       ELSE text END AS text
           FROM documents WHERE doc_id % 10 <> 0
           UNION ALL
           SELECT doc_id + 100000 AS doc_id,
                  'added ' || CAST(doc_id AS VARCHAR) AS text
           FROM documents WHERE doc_id % 13 = 0),
         o AS (SELECT doc_id, md5(text) AS oh FROM documents),
         n AS (SELECT doc_id, md5(text) AS nh FROM newv)
         SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
                CASE WHEN oh IS NULL THEN 'added'
                     WHEN nh IS NULL THEN 'removed'
                     WHEN oh = nh THEN 'unchanged'
                     ELSE 'changed' END AS status
         FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id""",

    // leakage-free split: same LCG over the exact-dup canonical id
    "corpus_split_leakfree" ->
      """WITH cl AS (
           SELECT doc_id,
                  min(doc_id) OVER (PARTITION BY md5(text))
                    AS cluster_id
           FROM documents),
         h AS (
           SELECT doc_id, cluster_id,
                  ((cluster_id % 2147483647) * 1103515245 + 12345)
                    % 2147483647 AS hh
           FROM cl)
         SELECT doc_id, cluster_id,
                CASE WHEN hh % 1000 < 800 THEN 'train'
                     WHEN hh % 1000 < 900 THEN 'valid'
                     ELSE 'test' END AS split
         FROM h""",

    // per-group weighted quota: same race arithmetic, partitioned rank
    "corpus_weighted_stratified" ->
      """WITH h AS (
           SELECT doc_id, lang, n_chars,
                  ((doc_id % 2147483647) * 1103515245 + 12345)
                    % 2147483647 AS h
           FROM documents),
         k AS (
           SELECT doc_id, lang,
                  round(n_chars / (-ln((h + 0.5) / 2147483647.0)), 6)
                    AS key
           FROM h)
         SELECT lang, doc_id,
                CAST(row_number() OVER (PARTITION BY lang
                  ORDER BY key DESC, doc_id) AS BIGINT) AS rk
         FROM k QUALIFY rk <= 12""",

    // whole-row grouped top-k: winner election + payload re-join must
    // land on exactly the window formulation's row set
    "group_topk_rows" ->
      """SELECT d.doc_id, d.text, d.lang, d.source, d.n_chars, w.rk
         FROM documents d
         JOIN (SELECT doc_id,
                      CAST(row_number() OVER (PARTITION BY lang
                        ORDER BY n_chars DESC, doc_id) AS BIGINT) AS rk
               FROM documents QUALIFY rk <= 3) w USING (doc_id)""",

    // the composed line replayed: strip CTEs + chunk CTEs + window
    // canonical election
    "pipeline_corpus4" ->
      """WITH docs AS (
           SELECT doc_id,
                  text || chr(10) ||
                  CASE WHEN doc_id % 3 = 0
                       THEN 'subscribe to our newsletter'
                       ELSE 'line ' || CAST(doc_id AS VARCHAR) END ||
                  chr(10) || 'all rights reserved' AS text
           FROM documents),
         ls AS (SELECT doc_id, string_split(text, chr(10)) AS l
                FROM docs),
         ex AS (SELECT doc_id, unnest(l) AS line,
                       unnest(range(1, len(l) + 1)) AS pos
                FROM ls),
         bp AS (SELECT trim(line) AS nl FROM ex
                WHERE trim(line) <> ''
                GROUP BY 1 HAVING count(DISTINCT doc_id) >= 3),
         kept AS (SELECT doc_id, pos, line FROM ex
                  WHERE trim(line) = ''
                     OR trim(line) NOT IN (SELECT nl FROM bp)),
         clean AS (
           SELECT d.doc_id,
                  replace(coalesce(string_agg(k.line, chr(10)
                    ORDER BY k.pos), ''), chr(10), ' ') AS text
           FROM docs d LEFT JOIN kept k USING (doc_id)
           GROUP BY d.doc_id),
         toks AS (
           SELECT doc_id,
                  list_filter(regexp_split_to_array(text, '\s+'),
                    x -> x <> '') AS tk
           FROM clean),
         p AS (SELECT doc_id, tk, len(tk) AS n FROM toks
               WHERE len(tk) > 0),
         st AS (SELECT doc_id, tk, n,
                       unnest(range(0, CASE WHEN n <= 32 THEN 1
                         ELSE (n - 32 + 23) // 24 + 1 END)) AS k
                FROM p),
         ch AS (
           SELECT doc_id, CAST(k AS BIGINT) AS chunk_id,
                  array_to_string(tk[k*24 + 1 : k*24 + 32], ' ')
                    AS chunk_text,
                  CAST(least(32, n - k*24) AS BIGINT) AS n_tokens
           FROM st),
         g AS (
           SELECT chunk_text, doc_id, chunk_id, n_tokens,
                  row_number() OVER (PARTITION BY chunk_text
                    ORDER BY doc_id, chunk_id) AS rn,
                  count(*) OVER (PARTITION BY chunk_text) AS n_copies
           FROM ch)
         SELECT doc_id, chunk_id, n_tokens, n_copies
         FROM g WHERE rn = 1""",

    // boilerplate = trimmed line in >= 3 DISTINCT docs; empty lines
    // are structure; every doc survives (empty text, never dropped)
    "corpus_boilerplate" ->
      """WITH docs AS (
           SELECT doc_id,
                  text || chr(10) ||
                  CASE WHEN doc_id % 3 = 0
                       THEN 'subscribe to our newsletter'
                       ELSE 'line ' || CAST(doc_id AS VARCHAR) END ||
                  chr(10) || 'all rights reserved' AS text
           FROM documents),
         ls AS (SELECT doc_id, string_split(text, chr(10)) AS l
                FROM docs),
         ex AS (SELECT doc_id, unnest(l) AS line,
                       unnest(range(1, len(l) + 1)) AS pos
                FROM ls),
         bp AS (SELECT trim(line) AS nl FROM ex
                WHERE trim(line) <> ''
                GROUP BY 1 HAVING count(DISTINCT doc_id) >= 3),
         kept AS (SELECT doc_id, pos, line FROM ex
                  WHERE trim(line) = ''
                     OR trim(line) NOT IN (SELECT nl FROM bp))
         SELECT d.doc_id,
                coalesce(string_agg(k.line, chr(10) ORDER BY k.pos),
                  '') AS text
         FROM docs d LEFT JOIN kept k USING (doc_id)
         GROUP BY d.doc_id""",

    // token windows of 32 stepping 24; tail partial; empty docs emit
    // nothing
    "corpus_chunks" ->
      """WITH toks AS (
           SELECT doc_id,
                  list_filter(regexp_split_to_array(text, '\s+'),
                    x -> x <> '') AS tk
           FROM documents),
         p AS (SELECT doc_id, tk, len(tk) AS n FROM toks
               WHERE len(tk) > 0),
         st AS (SELECT doc_id, tk, n,
                       unnest(range(0, CASE WHEN n <= 32 THEN 1
                         ELSE (n - 32 + 23) // 24 + 1 END)) AS k
                FROM p)
         SELECT doc_id, CAST(k AS BIGINT) AS chunk_id,
                array_to_string(tk[k*24 + 1 : k*24 + 32], ' ')
                  AS chunk_text,
                CAST(least(32, n - k*24) AS BIGINT) AS n_tokens
         FROM st""",

    // contract report: one row per rule over the planted-violation
    // table
    "dq_report" ->
      """WITH bad AS (
           SELECT o_orderkey, CAST(NULL AS BIGINT) AS o_custkey,
                  'X' AS o_orderstatus,
                  -o_totalprice AS o_totalprice, o_orderdate,
                  'ZZZ' AS o_orderpriority
           FROM orders WHERE o_orderkey % 1000 = 1),
         bogus AS (
           SELECT o_orderkey + 10000000 AS o_orderkey,
                  o_custkey + 10000000 AS o_custkey, o_orderstatus,
                  o_totalprice, o_orderdate, o_orderpriority
           FROM orders WHERE o_orderkey % 1000 = 2),
         t AS (SELECT * FROM orders
               UNION ALL SELECT * FROM bad
               UNION ALL SELECT * FROM bogus),
         rep AS (
           SELECT 'not_null:o_custkey' AS "check",
                  CAST(sum(CASE WHEN o_custkey IS NULL THEN 1
                    ELSE 0 END) AS BIGINT) AS n_violations FROM t
           UNION ALL
           SELECT 'range:o_totalprice',
                  CAST(sum(CASE WHEN o_totalprice IS NOT NULL
                    AND o_totalprice < 0 THEN 1 ELSE 0 END) AS BIGINT)
           FROM t
           UNION ALL
           SELECT 'accepted:o_orderstatus',
                  CAST(sum(CASE WHEN o_orderstatus IS NOT NULL
                    AND o_orderstatus NOT IN ('F', 'O', 'P')
                    THEN 1 ELSE 0 END) AS BIGINT) FROM t
           UNION ALL
           SELECT 'matches:o_orderpriority',
                  CAST(sum(CASE WHEN o_orderpriority IS NOT NULL
                    AND NOT regexp_matches(o_orderpriority, '^[1-5]-')
                    THEN 1 ELSE 0 END) AS BIGINT) FROM t
           UNION ALL
           SELECT 'unique:o_orderkey',
                  CAST(coalesce((SELECT sum(n) FROM (
                    SELECT count(*) AS n FROM t GROUP BY o_orderkey
                    HAVING count(*) > 1)), 0) AS BIGINT)
           UNION ALL
           SELECT 'fk:o_custkey',
                  CAST((SELECT count(*) FROM t
                        WHERE o_custkey IS NOT NULL
                          AND o_custkey NOT IN
                            (SELECT c_custkey FROM customer))
                    AS BIGINT))
         SELECT "check", n_violations, n_violations = 0 AS pass
         FROM rep""",

    // SCD2 history: runs collapse, intervals chain per key
    "scd2_history" ->
      """WITH c AS (
           SELECT user_id, event_id, event_type,
                  lag(event_type) OVER (PARTITION BY user_id
                    ORDER BY event_id) AS prev,
                  row_number() OVER (PARTITION BY user_id
                    ORDER BY event_id) AS rn
           FROM events),
         ch AS (
           SELECT user_id, event_type, event_id AS valid_from
           FROM c WHERE rn = 1 OR prev IS DISTINCT FROM event_type)
         SELECT user_id, event_type, valid_from,
                lead(valid_from) OVER (PARTITION BY user_id
                  ORDER BY valid_from) AS valid_to,
                (lead(valid_from) OVER (PARTITION BY user_id
                  ORDER BY valid_from)) IS NULL AS is_current
         FROM ch""",

    // streaming agg-state: 3 identical micro-batches folded into the
    // snapshot must equal the from-scratch aggregate of the tripled log
    "events_stream_aggstate" ->
      """SELECT user_id, count(value) * 3 AS n,
                round(sum(value) * 3, 2) AS sv,
                min(value) AS min_v, max(value) AS max_v
         FROM events GROUP BY user_id""",

    // streaming flags across a batch boundary must equal the batch
    // operator (same integer algebra, same frame)
    "events_stream_anomaly" ->
      """WITH b AS (
           SELECT user_id, ts, event_id, value,
                  CAST(round(value*100, 0) AS BIGINT) AS yc
           FROM events),
         w AS (
           SELECT user_id, event_id, value, yc,
                  count(yc) OVER f AS n,
                  sum(yc) OVER f AS sy,
                  sum(yc*yc) OVER f AS syy
           FROM b
           WINDOW f AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING))
         SELECT user_id, event_id, value,
                CAST(n AS BIGINT) AS n_window
         FROM w
         WHERE n >= 5
           AND (n*yc - sy)*(n*yc - sy) > 9*(n*syy - sy*sy)""",

    // evicting flags: per-user timeline segmented at >12h gaps, the
    // same integer test per segment
    "events_stream_anomaly_evict" ->
      """WITH b AS (
           SELECT user_id, ts, event_id, value,
                  CAST(round(value*100, 0) AS BIGINT) AS yc
           FROM events),
         g AS (
           SELECT *, CASE WHEN lag(ts) OVER w IS NULL THEN 0
                          WHEN epoch_ms(ts) - epoch_ms(lag(ts) OVER w)
                            > 43200000 THEN 1 ELSE 0 END AS brk
           FROM b
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         s AS (
           SELECT *, sum(brk) OVER (PARTITION BY user_id
             ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS seg
           FROM g),
         w2 AS (
           SELECT user_id, event_id, value, yc,
                  count(yc) OVER f AS n,
                  sum(yc) OVER f AS sy,
                  sum(yc*yc) OVER f AS syy
           FROM s
           WINDOW f AS (PARTITION BY user_id, seg
             ORDER BY ts, event_id
             ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING))
         SELECT user_id, event_id, value,
                CAST(n AS BIGINT) AS n_window
         FROM w2
         WHERE n >= 5
           AND (n*yc - sy)*(n*yc - sy) > 9*(n*syy - sy*sy)""",

    // streaming CDC upsert replay: identical batches are idempotent,
    // so the final snapshot equals the batch apply of ONE log copy
    "events_stream_cdc" ->
      """WITH log AS (
           SELECT event_id % 997 AS k, event_id AS seq,
                  CASE WHEN event_id % 10 = 0 THEN 'D'
                       WHEN event_id % 10 < 3 THEN 'I'
                       ELSE 'U' END AS op,
                  value AS v, event_type AS et
           FROM events),
         last AS (
           SELECT k, op, v, et,
                  row_number() OVER (PARTITION BY k
                    ORDER BY seq DESC) AS rn
           FROM log)
         SELECT k, v, et FROM last WHERE rn = 1 AND op <> 'D'""",

    // PIT lookup: latest valid_from <= fact time per (key, fact)
    "scd2_pit_join" ->
      """WITH sub AS (
           SELECT user_id, event_id, event_type FROM events
           WHERE event_id % 4 <> 0),
         c AS (
           SELECT user_id, event_id, event_type,
                  lag(event_type) OVER (PARTITION BY user_id
                    ORDER BY event_id) AS prev,
                  row_number() OVER (PARTITION BY user_id
                    ORDER BY event_id) AS rn
           FROM sub),
         h AS (
           SELECT user_id, event_type, event_id AS valid_from
           FROM c WHERE rn = 1 OR prev IS DISTINCT FROM event_type),
         f AS (SELECT user_id, event_id FROM events
               WHERE event_id % 4 = 0)
         SELECT f.user_id, f.event_id, h.event_type, h.valid_from
         FROM f JOIN h ON f.user_id = h.user_id
                      AND h.valid_from <= f.event_id
         QUALIFY row_number() OVER (PARTITION BY f.user_id, f.event_id
           ORDER BY h.valid_from DESC) = 1""",

    // incremental merge must equal the full-log SCD2 recompute (the
    // same SQL as scd2_history on purpose: different engine path,
    // same contract)
    "scd2_incremental" ->
      """WITH c AS (
           SELECT user_id, event_id, event_type,
                  lag(event_type) OVER (PARTITION BY user_id
                    ORDER BY event_id) AS prev,
                  row_number() OVER (PARTITION BY user_id
                    ORDER BY event_id) AS rn
           FROM events),
         ch AS (
           SELECT user_id, event_type, event_id AS valid_from
           FROM c WHERE rn = 1 OR prev IS DISTINCT FROM event_type)
         SELECT user_id, event_type, valid_from,
                lead(valid_from) OVER (PARTITION BY user_id
                  ORDER BY valid_from) AS valid_to,
                (lead(valid_from) OVER (PARTITION BY user_id
                  ORDER BY valid_from)) IS NULL AS is_current
         FROM ch""",

    // CDC apply: the window formulation the aggregate must equal
    "cdc_apply" ->
      """WITH log AS (
           SELECT event_id % 997 AS k, event_id AS seq,
                  CASE WHEN event_id % 10 = 0 THEN 'D'
                       WHEN event_id % 10 < 3 THEN 'I'
                       ELSE 'U' END AS op,
                  value AS v, event_type AS et
           FROM events),
         last AS (
           SELECT k, op, v, et,
                  row_number() OVER (PARTITION BY k
                    ORDER BY seq DESC) AS rn
           FROM log)
         SELECT k, v, et FROM last WHERE rn = 1 AND op <> 'D'""",

    // incremental maintenance must equal the full recompute (exact
    // integer cents; see the Spark side for why not double round())
    "agg_incremental" ->
      """WITH a AS (
           SELECT o_custkey, count(o_totalprice) AS n,
                  CAST(round(sum(o_totalprice) * 100, 0) AS BIGINT)
                    AS cents,
                  min(o_totalprice) AS min_v,
                  max(o_totalprice) AS max_v
           FROM orders GROUP BY o_custkey)
         SELECT o_custkey, n,
                CAST(cents AS DOUBLE) / CAST(100 AS DOUBLE) AS sum_v,
                min_v, max_v,
                CAST((cents * 200 + n) // (n * 2) AS DOUBLE)
                  / CAST(10000 AS DOUBLE) AS avg_v
         FROM a""",

    // exact discrete quantiles: the element at rank ceil(q*N) — the
    // same element quantile_disc selects
    "quantile_exact" ->
      """SELECT CAST(unnest([0.25, 0.5, 0.75, 0.9]) AS DOUBLE) AS q,
                unnest(quantile_disc(l_extendedprice,
                  [0.25, 0.5, 0.75, 0.9])) AS value
         FROM lineitem""",

    // equi-depth bins over the same exact decile boundaries: bin =
    // count of boundaries at or below the value
    "quantile_bins" ->
      """WITH bs AS (
           SELECT quantile_disc(l_extendedprice,
             [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS b
           FROM lineitem)
         SELECT CAST(len(list_filter((SELECT b FROM bs),
                  x -> x <= l_extendedprice)) AS BIGINT) AS bin,
                count(*) AS n
         FROM lineitem GROUP BY 1""",

    // per-group exact discrete quantiles: same ceil(q*n_g) rank
    // element per group
    "quantile_exact_grouped" ->
      """SELECT l_returnflag,
                CAST(unnest([0.25, 0.5, 0.9]) AS DOUBLE) AS q,
                unnest(quantile_disc(l_extendedprice,
                  [0.25, 0.5, 0.9])) AS value
         FROM lineitem GROUP BY l_returnflag""",

    // exact-quota stratified sample: same arithmetic rank key; the
    // oracle ranks the full stratum — the Spark side must land on the
    // identical row set through its prefilter + exact-rank path
    "corpus_stratified_sample" ->
      """SELECT doc_id, lang,
                CAST(row_number() OVER (PARTITION BY lang
                  ORDER BY ((doc_id % 1000000007) * 2654435761) % 1000000007,
                           doc_id) AS BIGINT) AS rk
         FROM documents
         QUALIFY rk <= 20""",

    // BM25 (Lucene ln(1+...) idf; k1=1.2, b=0.75) for the fixed query
    // {spark, query, window}; one row per document with >= 1 hit
    "text_bm25" ->
      """WITH base AS (
           SELECT doc_id,
                  regexp_split_to_array(lower(trim(text)), '\s+') AS ts,
                  CAST(len(regexp_split_to_array(lower(trim(text)), '\s+'))
                    AS DOUBLE) AS dl
           FROM documents),
         stats AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM base),
         hits AS (SELECT doc_id, dl, t AS term
                  FROM base, unnest(ts) u(t)
                  WHERE t IN ('spark', 'query', 'window')),
         tf AS (SELECT doc_id, term, count(*) AS tf, any_value(dl) AS dl
                FROM hits GROUP BY 1, 2),
         dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1)
         SELECT tf.doc_id,
                round(sum(ln(1.0 + (n - df + 0.5) / (df + 0.5))
                  * (tf * 2.2)
                  / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))), 4)
                  AS bm25
         FROM tf JOIN dfq USING (term), stats
         GROUP BY 1""",

    // survivorship over normalized-exact groups (longest raw text,
    // ties to smallest id) on the same cased/padded plant
    "dedup_canonical" ->
      """WITH aug AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 1000000, upper(text) FROM documents
           UNION ALL
           SELECT doc_id + 2000000, '  ' || text || '   ' FROM documents),
         k AS (SELECT doc_id,
                      regexp_replace(lower(trim(text)), '\s+', ' ', 'g')
                        AS kk,
                      CAST(length(text) AS BIGINT) AS len
               FROM aug)
         SELECT doc_id,
                first_value(doc_id) OVER (PARTITION BY kk
                  ORDER BY len DESC, doc_id) AS canonical_id,
                count(*) OVER (PARTITION BY kk) AS group_size
         FROM k""",

    "sample_stratified" ->
      """SELECT event_id, event_type,
                CAST(row_number() OVER (PARTITION BY event_type
                  ORDER BY ((event_id % 1000000007) * 2654435761) % 1000000007, event_id)
                  AS BIGINT) AS rk
         FROM events
         QUALIFY rk <= 50""",

    "events_sessions" ->
      """SELECT user_id,
                CAST(1 + sum(CASE WHEN gap > 1800000 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_sessions
         FROM (SELECT user_id,
                      epoch_ms(ts) - lag(epoch_ms(ts)) OVER (
                        PARTITION BY user_id ORDER BY ts, event_id) AS gap
               FROM events)
         GROUP BY 1""",

    // the streaming state machine must converge to the batch gap-count
    "events_stream_sessions" ->
      """SELECT user_id,
                CAST(1 + sum(CASE WHEN gap > 1800000 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_sessions
         FROM (SELECT user_id,
                      epoch_ms(ts) - lag(epoch_ms(ts)) OVER (
                        PARTITION BY user_id ORDER BY ts, event_id) AS gap
               FROM events)
         GROUP BY 1""",

    // the synthetic PNGs are solid-color with id-derived dimensions:
    // the real javax.imageio decode must reproduce these arithmetic
    // values exactly (solid color => channel mean is an exact integer)
    "multimodal_features" ->
      """SELECT i AS media_id,
                8 + i % 16 AS width,
                8 + (i * 7) % 16 AS height,
                CAST((i * 13) % 256 AS DOUBLE) AS mean_r,
                CAST((i * 29) % 256 AS DOUBLE) AS mean_g,
                CAST((i * 47) % 256 AS DOUBLE) AS mean_b
         FROM range(200) t(i)""",

    // the real javax.sound.sampled WAV decode must reproduce these
    // closed-form square-wave statistics exactly: n = 2*halfPeriod*
    // cycles samples of +/-A => rms = A (perfect square under sqrt),
    // sign flips at every halfPeriod boundary => n/halfPeriod - 1
    "multimodal_audio" ->
      """SELECT i AS media_id,
                CAST(8000 + (i % 4) * 4000 AS BIGINT) AS sample_rate,
                CAST(1 AS BIGINT) AS channels,
                CAST(2 * (8 + i % 8) * (10 + i % 5) AS BIGINT) AS n_samples,
                CAST(1000 + (i * 17) % 20000 AS DOUBLE) AS rms,
                CAST(2 * (10 + i % 5) - 1 AS BIGINT) AS zero_crossings,
                CAST((2 * (8 + i % 8) * (10 + i % 5)) * 1000000
                  // (8000 + (i % 4) * 4000) AS BIGINT) AS duration_us
         FROM range(200) t(i)""",

    // the JSON encode/decode roundtrip must preserve every field —
    // computed INDEPENDENTLY from the parquet table on the oracle side
    "jsonl_roundtrip" ->
      """SELECT CAST(count(*) AS BIGINT) AS n,
                CAST(sum(doc_id) AS BIGINT) AS sum_id,
                CAST(sum(length(text)) AS BIGINT) AS sum_len,
                CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
                CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_texts,
                max(md5(text)) AS max_md5
         FROM documents""",

    // the partitioned write + partition-discovery read must preserve
    // every row of every language partition
    "sink_partitioned" ->
      """SELECT lang, CAST(count(*) AS BIGINT) AS n,
                CAST(sum(doc_id) AS BIGINT) AS sum_id,
                max(md5(text)) AS max_md5
         FROM documents GROUP BY 1""",

    // CUBE with GROUPING markers must match DuckDB's lattice exactly
    "grouping_cube" ->
      """SELECT l_returnflag, l_linestatus,
                round(sum(l_quantity), 2) AS sum_qty,
                CAST(count(*) AS BIGINT) AS n,
                CAST(GROUPING(l_returnflag) AS BIGINT) AS g_rf,
                CAST(GROUPING(l_linestatus) AS BIGINT) AS g_ls
         FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""",

    // the static-schema pivot equals per-priority FILTER counts
    "pivot_priority" ->
      """SELECT CAST(year(o_orderdate) AS BIGINT) AS y,
                CAST(count(*) FILTER (o_orderpriority = '1-URGENT') AS BIGINT) AS "1-URGENT",
                CAST(count(*) FILTER (o_orderpriority = '2-HIGH') AS BIGINT) AS "2-HIGH",
                CAST(count(*) FILTER (o_orderpriority = '3-MEDIUM') AS BIGINT) AS "3-MEDIUM",
                CAST(count(*) FILTER (o_orderpriority = '4-NOT SPECIFIED') AS BIGINT) AS "4-NOT SPECIFIED",
                CAST(count(*) FILTER (o_orderpriority = '5-LOW') AS BIGINT) AS "5-LOW"
         FROM orders GROUP BY 1""",

    // the CSV quote/escape roundtrip must preserve every field —
    // computed independently from the parquet table on the oracle side
    "csv_roundtrip" ->
      """SELECT CAST(count(*) AS BIGINT) AS n,
                CAST(sum(doc_id) AS BIGINT) AS sum_id,
                CAST(sum(length(text)) AS BIGINT) AS sum_len,
                CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
                CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_texts,
                max(md5(text)) AS max_md5
         FROM documents""",

    // the Avro container encode/decode roundtrip must preserve every
    // field — computed independently from parquet on the oracle side
    "avro_roundtrip" ->
      """SELECT CAST(count(*) AS BIGINT) AS n,
                CAST(sum(doc_id) AS BIGINT) AS sum_id,
                CAST(sum(length(text)) AS BIGINT) AS sum_len,
                CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
                CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_texts,
                max(md5(text)) AS max_md5
         FROM documents""",

    // the ORC encode/decode roundtrip must preserve every field —
    // computed independently from the parquet table on the oracle side
    "orc_roundtrip" ->
      """SELECT CAST(count(*) AS BIGINT) AS n,
                CAST(sum(doc_id) AS BIGINT) AS sum_id,
                CAST(sum(length(text)) AS BIGINT) AS sum_len,
                CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
                CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_texts,
                max(md5(text)) AS max_md5
         FROM documents""",

    // exact distinct count per group; the in-band flag pins the HLL
    // estimate inside the 5% band (rsd 1% leaves wide margin)
    "sketch_hll" ->
      """SELECT event_type,
                CAST(count(DISTINCT user_id) AS BIGINT) AS exact_distinct,
                TRUE AS in_band
         FROM events GROUP BY 1""",

    // per-column profile: counts/distincts/min/max pinned exactly,
    // the HLL band as a flag; min/max travel through DECIMAL(28,4) so
    // both engines print identical fixed-scale text (strings: null —
    // collation is engine-specific)
    "profile_orders" ->
      """SELECT 'o_orderkey' AS col_name,
                CAST(count(*) AS BIGINT) AS n_rows,
                CAST(count(*) - count(o_orderkey) AS BIGINT) AS n_nulls,
                CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_distinct,
                CAST(min(o_orderkey) AS VARCHAR) AS min_v,
                CAST(max(o_orderkey) AS VARCHAR) AS max_v,
                TRUE AS hll_in_band
         FROM orders
         UNION ALL
         SELECT 'o_custkey', count(*), count(*) - count(o_custkey),
                count(DISTINCT o_custkey),
                CAST(min(o_custkey) AS VARCHAR),
                CAST(max(o_custkey) AS VARCHAR), TRUE
         FROM orders
         UNION ALL
         SELECT 'o_totalprice', count(*), count(*) - count(o_totalprice),
                count(DISTINCT o_totalprice),
                CAST(CAST(round(min(o_totalprice), 4) AS DECIMAL(28,4)) AS VARCHAR),
                CAST(CAST(round(max(o_totalprice), 4) AS DECIMAL(28,4)) AS VARCHAR),
                TRUE
         FROM orders
         UNION ALL
         SELECT 'o_orderpriority', count(*),
                count(*) - count(o_orderpriority),
                count(DISTINCT o_orderpriority),
                CAST(min(length(o_orderpriority)) AS VARCHAR),
                CAST(max(length(o_orderpriority)) AS VARCHAR), TRUE
         FROM orders""",

    "profile_documents" ->
      """SELECT 'doc_id' AS col_name,
                CAST(count(*) AS BIGINT) AS n_rows,
                CAST(count(*) - count(doc_id) AS BIGINT) AS n_nulls,
                CAST(count(DISTINCT doc_id) AS BIGINT) AS n_distinct,
                CAST(min(doc_id) AS VARCHAR) AS min_v,
                CAST(max(doc_id) AS VARCHAR) AS max_v,
                TRUE AS hll_in_band
         FROM documents
         UNION ALL
         SELECT 'text', count(*), count(*) - count(text),
                count(DISTINCT text),
                CAST(min(length(text)) AS VARCHAR),
                CAST(max(length(text)) AS VARCHAR), TRUE
         FROM documents
         UNION ALL
         SELECT 'lang', count(*), count(*) - count(lang),
                count(DISTINCT lang),
                CAST(min(length(lang)) AS VARCHAR),
                CAST(max(length(lang)) AS VARCHAR), TRUE
         FROM documents
         UNION ALL
         SELECT 'source', count(*), count(*) - count(source),
                count(DISTINCT source),
                CAST(min(length(source)) AS VARCHAR),
                CAST(max(length(source)) AS VARCHAR), TRUE
         FROM documents
         UNION ALL
         SELECT 'n_chars', count(*), count(*) - count(n_chars),
                count(DISTINCT n_chars),
                CAST(min(n_chars) AS VARCHAR),
                CAST(max(n_chars) AS VARCHAR), TRUE
         FROM documents""",

    // embedding health: identical norm algebra on the oracle side
    // (per-element squares summed left-to-right, then sqrt), rounded
    // to 4 decimals on both
    "profile_embeddings" ->
      """WITH norms AS (
           SELECT sqrt(list_aggregate(list_transform(
                    list_filter(CAST(embedding AS DOUBLE[]),
                                x -> x IS NOT NULL),
                    x -> x*x), 'sum')) AS nrm,
                  len(embedding) AS dim,
                  CASE WHEN len(list_filter(embedding, x -> x IS NULL)) > 0
                       THEN 1 ELSE 0 END AS has_null_elem
           FROM embeddings WHERE embedding IS NOT NULL),
         modal AS (SELECT dim FROM norms GROUP BY 1
                   ORDER BY count(*) DESC, dim LIMIT 1)
         SELECT CAST((SELECT count(*) FROM embeddings) AS BIGINT)
                  AS n_vectors,
                CAST((SELECT count(*) - count(embedding) FROM embeddings)
                  AS BIGINT) AS n_null,
                CAST(sum(has_null_elem) AS BIGINT) AS n_elem_null,
                CAST(sum(CASE WHEN dim != (SELECT dim FROM modal)
                              THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_dim_mismatch,
                CAST(sum(CASE WHEN nrm = 0 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_zero_norm,
                CAST((SELECT dim FROM modal) AS BIGINT) AS modal_dim,
                round(min(nrm), 4) AS min_norm,
                round(max(nrm), 4) AS max_norm,
                round(avg(nrm), 4) AS avg_norm
         FROM norms""",

    // Count-Min point queries: exact probe counts pinned, plus the
    // structural one-sided guarantee (never undercounts) and the
    // width-derived band — deterministic hashes make both flags stable
    "sketch_countmin" ->
      """WITH probes(k) AS (VALUES (1), (2), (5), (7), (11), (100), (101))
         SELECT CAST(k AS BIGINT) AS o_custkey,
                CAST(coalesce(cnt, 0) AS BIGINT) AS exact_n,
                TRUE AS never_undercounts, TRUE AS in_band
         FROM probes LEFT JOIN (
           SELECT o_custkey, count(*) AS cnt FROM orders GROUP BY 1) o
           ON o.o_custkey = probes.k""",

    // exact heavy hitters above total/k over the planted-skew key: the
    // Misra-Gries candidate set is order-dependent but provably a
    // superset, and the exact confirm pass makes the output identical
    // to this full groupBy + HAVING
    "sketch_topk" ->
      """SELECT CASE WHEN event_id % 3 = 0 THEN user_id % 5
                     ELSE user_id END AS uid,
                CAST(count(*) AS BIGINT) AS cnt
         FROM events GROUP BY 1
         HAVING count(*) > (SELECT count(*) FROM events) / 64.0""",

    // identical Morton bit arithmetic on the oracle side: any
    // interleave/shift slip in the codegen'd expression breaks the hash
    "zorder_cluster" -> {
      val morton = (0 until 16).map(i =>
        s"((((l_orderkey % 65536) >> $i) & 1) << ${2 * i + 1})" +
          s" + ((((l_partkey % 65536) >> $i) & 1) << ${2 * i})")
        .mkString(" + ")
      s"""SELECT CAST(($morton) >> 22 AS BIGINT) AS zfile,
                 CAST(count(*) AS BIGINT) AS n,
                 min(l_orderkey) AS min_ok, max(l_orderkey) AS max_ok,
                 min(l_partkey) AS min_pk, max(l_partkey) AS max_pk
          FROM lineitem GROUP BY 1"""
    },

    // the bucketed-layout join must emit exactly the plain join
    "join_bucketed" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
                round(sum(l_extendedprice * (1 - l_discount)), 2) AS rev
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY 1""",

    // native session windows must converge to the batch gap-count
    "events_stream_session_window" ->
      """SELECT user_id,
                CAST(1 + sum(CASE WHEN gap > 1800000 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_sessions
         FROM (SELECT user_id,
                      epoch_ms(ts) - lag(epoch_ms(ts)) OVER (
                        PARTITION BY user_id ORDER BY ts, event_id) AS gap
               FROM events)
         GROUP BY 1""",

    // the stream-static enrichment must equal the batch self-join
    "events_stream_enrich" ->
      """WITH h AS (SELECT user_id, count(*) AS n_hist
                    FROM events GROUP BY 1)
         SELECT e.event_type, CAST(count(*) AS BIGINT) AS n,
                round(sum(e.value), 2) AS sv
         FROM events e JOIN h USING (user_id)
         WHERE h.n_hist >= 60
         GROUP BY 1""",

    // dedup must fully cancel the doubled drop BEFORE the gate, and
    // the sink must commit exactly the gated rows
    "events_stream_pipeline" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                CAST(sum(event_id) AS BIGINT) AS sum_id,
                round(sum(value), 2) AS sv
         FROM events
         WHERE event_type IN ('click', 'purchase') AND value > 10.0
         GROUP BY 1""",

    // the transactional parquet sink's committed files must carry
    // exactly the filtered stream rows
    "events_stream_sink" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
                round(sum(value), 2) AS sv
         FROM events WHERE event_type IN ('click', 'view', 'purchase')
         GROUP BY 1""",

    // the emitted closed-session log must equal the batch window
    // arithmetic, with each user's final open session ABSENT
    "events_stream_session_log" ->
      """WITH brk AS (
           SELECT user_id, epoch_ms(ts) AS em,
                  CASE WHEN epoch_ms(ts) - lag(epoch_ms(ts)) OVER (
                         PARTITION BY user_id ORDER BY ts) > 1800000
                       THEN 1 ELSE 0 END AS b
           FROM events),
         sess AS (
           SELECT user_id, em,
                  sum(b) OVER (PARTITION BY user_id ORDER BY em
                               ROWS UNBOUNDED PRECEDING) AS sid
           FROM brk),
         agg AS (
           SELECT user_id, sid,
                  CAST(count(*) AS BIGINT) AS n_events,
                  CAST(max(em) - min(em) AS BIGINT) AS duration_ms
           FROM sess GROUP BY 1, 2)
         SELECT user_id, CAST(sid AS BIGINT) AS session_idx,
                n_events, duration_ms
         FROM agg
         WHERE sid < (SELECT max(sid) FROM agg a2
                      WHERE a2.user_id = agg.user_id)""",

    // watermark-bounded dedup must fully cancel the double delivery
    "events_stream_dedup_wm" ->
      """SELECT event_type, count(*) AS n, round(sum(value), 2) AS sv
         FROM events GROUP BY 1""",

    // terminal eviction rows must converge to the batch gap-count:
    // a closed=true row only exists because an event-time timeout
    // fired and removed the user's state
    "events_stream_sessions_evict" ->
      """SELECT user_id,
                CAST(1 + sum(CASE WHEN gap > 1800000 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_sessions
         FROM (SELECT user_id,
                      epoch_ms(ts) - lag(epoch_ms(ts)) OVER (
                        PARTITION BY user_id ORDER BY ts, event_id) AS gap
               FROM events)
         GROUP BY 1""",

    // the evicting log equals the COMPLETE batch session log — the
    // trailing (otherwise open) sessions are present, emitted by
    // watermark eviction
    "events_stream_session_log_evict" ->
      """WITH brk AS (
           SELECT user_id, epoch_ms(ts) AS em,
                  CASE WHEN epoch_ms(ts) - lag(epoch_ms(ts)) OVER (
                         PARTITION BY user_id ORDER BY ts) > 1800000
                       THEN 1 ELSE 0 END AS b
           FROM events),
         sess AS (
           SELECT user_id, em,
                  sum(b) OVER (PARTITION BY user_id ORDER BY em
                               ROWS UNBOUNDED PRECEDING) AS sid
           FROM brk)
         SELECT user_id, CAST(min(em) AS BIGINT) AS start_ms,
                CAST(count(*) AS BIGINT) AS n_events,
                CAST(max(em) - min(em) AS BIGINT) AS duration_ms
         FROM sess GROUP BY user_id, sid""",

    // post-compaction readback must hash-match the single-corpus batch
    // pipeline; the lit flags pin that compaction really ran (many
    // files -> 1) and that the planted stray stayed invisible
    "events_stream_compact" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                CAST(sum(event_id) AS BIGINT) AS sum_id,
                round(sum(value), 2) AS sv,
                TRUE AS compacted, TRUE AS stray_excluded
         FROM events
         WHERE event_type IN ('click', 'purchase') AND value > 10.0
         GROUP BY 1""",

    // the AVI demux + JPEG frame decode must reproduce the closed-form
    // container parameters; frames_decoded = n_frames certifies every
    // frame payload really decoded at the header dimensions
    "multimodal_video" ->
      """SELECT i AS media_id,
                CAST(16 + (i % 8) * 2 AS BIGINT) AS width,
                CAST(16 + ((i * 3) % 8) * 2 AS BIGINT) AS height,
                CAST(10 + i % 5 AS BIGINT) AS fps,
                CAST(3 + i % 4 AS BIGINT) AS n_frames,
                CAST(3 + i % 4 AS BIGINT) AS frames_decoded,
                CAST((3 + i % 4) * (1000000 // (10 + i % 5)) AS BIGINT)
                  AS duration_us
         FROM range(200) t(i)"""
  ) ++ TpchQueries.sql
}
