package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.expressions.Window

/**
 * Similarity search over an embedding column (`array<float>`).
 *
 * Two paths:
 *  - brute-force top-k: broadcast the (small) query set against the
 *    corpus — one narrow pass, no shuffle of the corpus; the only
 *    shuffle is the per-query top-k (k rows per partition survive).
 *  - LSH-bucketed: random-hyperplane signatures; candidates join on
 *    signature prefix buckets, so at scale only docs sharing a bucket
 *    are compared. The planes are pseudo-random from xxhash64 —
 *    deterministic with no driver-side RNG state.
 */
object Similarity {

  /** Cosine similarity between two array columns, computed in double —
    * the native one-pass expression (dot + both norms in one fused
    * loop, zero intermediate arrays; this is the inner loop of every
    * ANN rerank and the semantic-dedup verify). */
  def cosine(a: Column, b: Column): Column =
    graft.functions.expressions.GraftExpressions.cosine_sim(a, b)

  /** The composed-HOF reference formulation (three
    * `aggregate(zip_with(...))` passes) — kept as the parity oracle
    * for the native expression (SimilaritySpec). */
  def cosineHof(a: Column, b: Column): Column = {
    def dot(x: Column, y: Column): Column =
      F.aggregate(zip_with(x, y, (p, q) =>
        p.cast("double") * q.cast("double")),
        lit(0.0), (acc, v) => acc + v)
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))
  }

  /**
   * Brute-force top-k cosine neighbors for the rows whose id is in
   * `queryIds`. The query side is tiny → broadcast join (cross of
   * |queries| × corpus), then per-query top-k via window row_number.
   */
  def bruteTopK(emb: DataFrame, idCol: String, vecCol: String,
      queryIds: Seq[Long], k: Int): DataFrame = {
    val queries = emb.filter(col(idCol).isin(queryIds: _*))
      .select(col(idCol).as("query_id"), col(vecCol).as("qvec"))
    val scored = emb.select(col(idCol).as("nn_id"), col(vecCol).as("nvec"))
      .join(broadcast(queries), col("nn_id") =!= col("query_id"))
      .withColumn("score", cosine(col("qvec"), col("nvec")))
    topK(scored, k)
  }

  /**
   * Hard-negative mining for metric/classifier training: for each
   * query vector, the top-k most-similar corpus vectors carrying a
   * DIFFERENT label — the examples a contrastive loss learns most
   * from. Same scale shape as [[bruteTopK]] (tiny broadcast query
   * side, one codegen'd cosine pass over the corpus, per-query
   * bounded top-k); swap the corpus scan for [[ivfTopK]] cell probing
   * when the corpus is planetary — the label filter composes the
   * same way there.
   */
  def hardNegatives(emb: DataFrame, idCol: String, vecCol: String,
      labelCol: String, queryIds: Seq[Long], k: Int): DataFrame = {
    val queries = emb.filter(col(idCol).isin(queryIds: _*))
      .select(col(idCol).as("query_id"), col(vecCol).as("qvec"),
        col(labelCol).as("qlabel"))
    val scored = emb.select(col(idCol).as("nn_id"),
        col(vecCol).as("nvec"), col(labelCol).as("nlabel"))
      .join(broadcast(queries),
        col("nn_id") =!= col("query_id") &&
          !(col("nlabel") <=> col("qlabel")))
      .withColumn("score", cosine(col("qvec"), col("nvec")))
    topK(scored, k)
  }

  /**
   * Per-group embedding centroids as (group, dim, value) rows — the
   * scalable shape for aggregating an array column: posexplode turns
   * each vector into (dim, component) pairs, the average runs as an
   * ordinary two-phase hash aggregation on (group, dim), and nothing
   * ever collects a whole vector set anywhere. |groups|·dim output
   * rows; reassembling arrays is the (cheap) caller's choice.
   */
  def centroids(emb: DataFrame, groupCol: String,
      vecCol: String): DataFrame =
    emb.select(col(groupCol),
        posexplode(col(vecCol)).as(Seq("dim", "v")))
      .groupBy(col(groupCol), (col("dim") + 1).as("dim"))
      .agg(round(avg(col("v").cast("double")), 4).as("c"))

  /**
   * Deterministic sign random projection (Achlioptas-style
   * Johnson-Lindenstrauss): y[k] = (1/√outDim) · Σ_j v[j]·s(j,k)
   * with s(j,k) ∈ {+1,−1} derived from an LCG over the flat matrix
   * index — NO projection matrix is stored, broadcast, or shipped;
   * every executor re-derives signs in codegen'd integer arithmetic,
   * which is what makes this viable on a 1000-executor cluster (a
   * materialized d×k matrix would be a broadcast dependency and a
   * serialization cost per task; a seed is a constant).
   *
   * Row-local (zip_with/aggregate HOFs): zero shuffles, preserves the
   * input partitioning; the 32× cheaper complement to PQ when the
   * goal is distance-preserving dimensionality reduction rather than
   * quantized storage. Output is LONG format (idCol, k, value) so
   * results stay exactly comparable engine-to-engine; `decimals`
   * rounds away the last-ulp noise of cross-engine float summation.
   */
  def randomProject(emb: DataFrame, idCol: String, vecCol: String,
      outDim: Int, seed: Long = 12345L, decimals: Int = 6): DataFrame = {
    require(outDim >= 1, s"outDim must be >= 1, got $outDim")
    // native fused codegen expression — the HOF formulation below is
    // the parity oracle; interpreted per-element lambdas made it the
    // wall (measured ~0.8 ms/row at 64→8)
    val proj = graft.functions.expressions.GraftExpressions
      .sign_project(col(vecCol), outDim, seed)
    emb.select(col(idCol), posexplode(proj).as(Seq("k", "value")))
      .select(col(idCol), col("k").cast("long").as("k"),
        round(col("value"), decimals).as("value"))
  }

  /** The composed-HOF reference formulation of [[randomProject]] —
    * kept as the parity oracle for the native [[SignProject]]
    * expression (SimilaritySpec).
    *
    * The mixer must be NONLINEAR: any chain of LCG rounds composes
    * to another affine map mod P, whose low bit is an arithmetic
    * progression with an even step — long same-sign runs across j
    * that wreck the JL guarantee (measured 5x distance distortion at
    * k=32; the spec's band pins it). Three QUADRATIC rounds
    * (h² + Ah + B mod P) with a mid bit reach the random-matrix
    * column-correlation floor (~3σ of a true ±1 matrix). All
    * arithmetic stays under 2^63 (h < 2^31, h² + Ah + B < 7·10^18),
    * so ANSI mode never throws, and it replays exactly in any
    * engine with 64-bit integers — no matrix is stored or shipped. */
  def randomProjectHof(emb: DataFrame, idCol: String, vecCol: String,
      outDim: Int, seed: Long = 12345L, decimals: Int = 6): DataFrame = {
    require(outDim >= 1, s"outDim must be >= 1, got $outDim")
    val scale = math.sqrt(outDim.toDouble)
    def sign(j: Column, k: Column): Column = {
      val x = pmod(j.cast("long") * outDim + k + seed, lit(2147483647L))
      val h = (1 to 3).foldLeft(x)((h, _) =>
        pmod(h * h + h * 1103515245L + 12345L, lit(2147483647L)))
      when(pmod(shiftright(h, 13), lit(2L)) === 0, lit(1.0))
        .otherwise(lit(-1.0))
    }
    val proj = transform(sequence(lit(0), lit(outDim - 1)), k =>
      round(
        F.aggregate(
          zip_with(col(vecCol),
            sequence(lit(0), size(col(vecCol)) - 1),
            (v, j) => v.cast("double") * sign(j, k)),
          lit(0.0), (acc, x) => acc + x) / scale, decimals))
    emb.select(col(idCol), posexplode(proj).as(Seq("k", "value")))
      .select(col(idCol), col("k").cast("long").as("k"), col("value"))
  }

  /** Per-query top-k by cosine score (deterministic nn_id tie-break) —
    * shared by the brute/LSH/IVF paths. Expects columns
    * (query_id, nn_id, score). */
  private def topK(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("nn_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("nn_id"), round(col("score"), 4).as("score"))
  }

  /**
   * Embedding-cosine near-duplicate pairs: vectors whose cosine
   * similarity exceeds `tau`. Candidates come from random-hyperplane
   * band buckets (high-cosine pairs agree on sign bits with high
   * probability), exact cosine verifies — a full-corpus self-join never
   * happens; the join key is the band hash.
   */
  def embeddingDups(emb: DataFrame, idCol: String, vecCol: String,
      tau: Double, nBits: Int = 256, bands: Int = 8,
      dim: Int = 64): DataFrame = {
    // defaults: 8 bands of 32 bits. At the tau = 0.999 decision
    // boundary a bit flips with p = arccos(.999)/pi = 0.0142, so a
    // 32-bit band agrees with p = .986^32 = 0.63 and EIGHT bands miss
    // together with (1-.63)^8 = 3.4e-4 — recall 0.9997, better than
    // the former 4x16-bit layout (0.9982) while random pairs collide
    // at ~2^-32 per band instead of ~2^-16. The 16-bit layout flooded
    // the verify step at scale: 200k distinct vectors made ~2.5M
    // random 16-bit collisions per band — 10M candidate pairs for
    // 200k real dups, 98% of the wide verify joins wasted (the 100x
    // bench measured it). 4x the signature arithmetic buys a ~50x
    // smaller candidate set; the signature pass is one fused codegen
    // loop and stays the cheaper phase.
    val vecs = emb.select(col(idCol).as("id"), col(vecCol).as("vec"))
    // EXACT-DUPLICATE COLLAPSE before LSH: identical vectors (grouped
    // by VALUE — no hash-collision risk) ride the banding pipeline as
    // one representative each. Any pair of members across (or within)
    // two identical-vector clusters has exactly the representatives'
    // cosine, so expanding cluster pairs afterwards is bit-exact. On a
    // replicated/crawled corpus this removes the quadratic candidate
    // blow-up inside duplicate cliques (the 100x bench replica: 400k
    // vectors but 2k distinct — banded candidate pairs drop ~10M ->
    // ~20k and the wide verify joins shrink with them).
    val clustered = vecs.groupBy(col("vec"))
      .agg(min(col("id")).as("rep_id"),
        collect_list(col("id")).as("ids"))
      .persist()
    // ADAPTIVE expansion (r19, VERDICT r18 #5): one aggregate over the
    // (persisted) cluster table decides whether any duplicate clique
    // exists — materializing the cache as a side effect. When every
    // cluster is a singleton, the member-expansion joins are
    // identities and the intra subtree is empty, so both are SKIPPED
    // (~9 fewer Exchanges on duplicate-free corpora); results are
    // bit-identical either way, the counts only pick the plan.
    val counts = clustered
      .agg(count(lit(1)), coalesce(sum(size(col("ids"))), lit(0L)))
      .head()
    val (nDistinct, nTotal) = (counts.getLong(0), counts.getLong(1))
    // the persisted frame is ONLY (id, band, bandhash) — 3 narrow
    // columns. The signature pass runs once to produce it; the
    // embedding vectors are NOT carried through the explode or the
    // self-join (bands x rows of wide arrays would dominate the cache
    // and the shuffle at scale). The groupBy exchange above already
    // spread the per-vector work, so no extra repartition is needed
    // before the signature pass (r18 paid one here).
    val banded = clustered.select(col("rep_id").as("id"), col("vec"))
      .withColumn("sig", rhpSignature(col("vec"), nBits, dim))
      .select(col("id"),
        bandExplode(col("sig"), nBits, bands).as(Seq("band", "bandhash")))
      .persist()
    // candidates dedupe on the id pair ONLY; vectors join back for the
    // exact-cosine verify afterwards
    val lhs = banded.select(col("band"), col("bandhash"), col("id").as("id_a"))
    val rhs = banded.select(col("band"), col("bandhash"), col("id").as("id_b"))
    val cand = lhs.join(rhs, Seq("band", "bandhash"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    val repVecs = clustered.select(col("rep_id").as("id"), col("vec"))
    // verified CROSS-cluster representative pairs at full precision;
    // rounding happens after expansion, exactly where the old
    // all-members formulation rounded
    val repPairs = cand
      .join(repVecs.select(col("id").as("id_a"), col("vec").as("vec_a")),
        Seq("id_a"))
      .join(repVecs.select(col("id").as("id_b"), col("vec").as("vec_b")),
        Seq("id_b"))
      .withColumn("cos", cosine(col("vec_a"), col("vec_b")))
      .filter(col("cos") >= tau)
      .select(col("id_a").as("rep_a"), col("id_b").as("rep_b"), col("cos"))
    val pairs =
      if (nDistinct == nTotal)
        // singletons everywhere: rep pairs ARE the member pairs
        repPairs.select(col("rep_a").as("id_a"), col("rep_b").as("id_b"),
          col("cos"))
      else {
        val members = clustered.select(col("rep_id"),
          explode(col("ids")).as("mid"))
        val cross = repPairs
          .join(members.select(col("rep_id").as("rep_a"), col("mid").as("m_a")),
            Seq("rep_a"))
          .join(members.select(col("rep_id").as("rep_b"), col("mid").as("m_b")),
            Seq("rep_b"))
          .select(least(col("m_a"), col("m_b")).as("id_a"),
            greatest(col("m_a"), col("m_b")).as("id_b"), col("cos"))
        // INTRA-cluster pairs: every member pair shares cos(v, v) —
        // the same expression the old formulation evaluated per pair,
        // so a degenerate vector whose self-cosine fails tau (zero
        // norm) drops here exactly as it dropped there
        val intra = clustered.filter(size(col("ids")) > 1)
          .withColumn("cos", cosine(col("vec"), col("vec")))
          .filter(col("cos") >= tau)
          .select(col("ids"), col("cos"))
          .withColumn("id_a", explode(col("ids")))
          .withColumn("id_b", explode(col("ids")))
          .filter(col("id_a") < col("id_b"))
          .select(col("id_a"), col("id_b"), col("cos"))
        cross.unionByName(intra)
      }
    val out = pairs
      .select(col("id_a"), col("id_b"), round(col("cos"), 4).as("cos"))
      // eager, then release BOTH persisted intermediates — the r18
      // form left `clustered` pinned for the session (VERDICT r18 #3);
      // the checkpointed result is the small verified pair list and
      // its blocks release with the plan via the context cleaner
      .localCheckpoint(true)
    clustered.unpersist(blocking = false)
    banded.unpersist(blocking = false)
    out
  }

  /**
   * A built IVF index: the (tiny) centroid table plus the persisted
   * cluster assignment of the corpus. Fit ONCE, queried many times —
   * at 100 TB the k-means fit is a batch job and the assignment is a
   * stored table; rebuilding it per query would be absurd. `unpersist()`
   * releases the assignment cache.
   */
  final case class IvfIndex(
      centroids: Array[Array[Double]],
      assigned: DataFrame) {
    def unpersist(): Unit = assigned.unpersist()
  }

  /** (id, vec, nvec) projection: vec as double array, nvec L2-
    * normalized (zero vectors pass through unnormalized). */
  private[graft] def normalized(emb: DataFrame, idCol: String,
      vecCol: String): DataFrame =
    // ONE fused codegen pass (NormalizeVec): the interpreted
    // aggregate+transform pair this replaces cost ~32 s per full
    // corpus scan at the 100x replica — the dominant phase of every
    // IVF/semdedup build (VERDICT r17 #4). NormalizeVecParitySpec
    // pins bit-identical output against the HOF form below.
    emb.select(col(idCol).cast("long").as("id"),
        col(vecCol).cast("array<double>").as("vec"))
      .withColumn("nvec", graft.functions.expressions
        .GraftExpressions.normalize_vec(col("vec")))

  /** The interpreted-HOF form of [[normalized]], retained as the
    * parity oracle (repo-wide native-expression pattern). */
  private[graft] def normalizedHof(emb: DataFrame, idCol: String,
      vecCol: String): DataFrame = {
    val norm = sqrt(F.aggregate(col("vec"),
      lit(0.0), (a, x) => a + x * x))
    emb.select(col(idCol).cast("long").as("id"),
        col(vecCol).cast("array<double>").as("vec"))
      .withColumn("nvec", when(norm > 0,
        transform(col("vec"), x => x / norm)).otherwise(col("vec")))
  }

  /**
   * Semantic decontamination: flag corpus vectors whose maximum cosine
   * against a BENCHMARK set reaches `tau` — the embedding-level
   * complement of `CorpusOps.decontaminate`'s n-gram overlap (catches
   * paraphrased eval items that share no 5-gram with the original).
   *
   * Scale shape: the benchmark set is SMALL by definition (an eval
   * suite, not a corpus). Up to `maxConstBench` vectors it collects to
   * the driver once and folds into ONE codegen'd `ArgmaxDot` pass as a
   * constant table, so the corpus pays a single O(|bench| * dim) scan
   * per row with no join, no shuffle, and no broadcast exchange. Past
   * that bound it switches to a once-per-executor Spark broadcast with
   * a single-pass per-row max (still no corpus shuffle, no row-
   * exploding join), hard-capped with a loud error — the r15 100x
   * sweep showed a benchmark defined as a corpus FRACTION turns the
   * whole operator quadratic, so the size contract is enforced here
   * rather than assumed. The max-cosine value is recovered with one
   * dot against the argmax row (argmax ties cannot change the
   * reported maximum). Benchmark members themselves are excluded from
   * the output.
   *
   * @return (id, max_cos rounded to 4) for flagged corpus rows
   */
  def semanticDecontaminate(emb: DataFrame, bench: DataFrame,
      idCol: String, vecCol: String, tau: Double,
      /** Largest benchmark the constant-table fast path accepts. The
        * benchmark is an EVAL SUITE, fixed-size by contract — if a
        * caller scales it with the corpus, the operator turns
        * quadratic (the r15 100x sweep measured exactly that) and the
        * driver collect grows unboundedly. Past this bound the
        * operator switches to the broadcast fallback instead of
        * collecting. */
      maxConstBench: Int = 1024): DataFrame = {
    require(maxConstBench >= 1,
      s"semanticDecontaminate: maxConstBench must be >= 1 ($maxConstBench)")
    val benchN = normalized(bench, idCol, vecCol)
      .select(col("id"), col("nvec"))
    // ONE bounded driver job decides the path: collect at most
    // maxConstBench+1 rows — never the whole benchmark
    val probe = benchN.limit(maxConstBench + 1).collect()
    require(probe.nonEmpty, "semanticDecontaminate: empty benchmark")
    if (probe.length <= maxConstBench) {
      // fast path: normalization, the |bench| dots, and the max fuse
      // into ONE codegen'd MaxDotNorm pass over the RAW vectors — no
      // join, no shuffle, no exchange, and none of the four
      // interpreted HOF passes the old formulation paid per row
      // (bit-identical by MaxDotNorm's parity contract; pinned by
      // SimilaritySpec's max-dot parity test)
      val benchIds: Seq[Long] = probe.map(_.getLong(0)).toSeq
      val matrix: Array[Array[Double]] =
        probe.map(_.getSeq[Double](1).toArray)
      emb.select(col(idCol).cast("long").as("id"),
          col(vecCol).cast("array<double>").as("vec"))
        .filter(!col("id").isInCollection(benchIds))
        .withColumn("max_cos", graft.functions.expressions
          .GraftExpressions.max_dot_norm(col("vec"), matrix))
        .filter(col("max_cos") >= tau)
        .select(col("id"), round(col("max_cos"), 4).as("max_cos"))
    } else {
      val feats = normalized(emb, idCol, vecCol)
      // fallback for an oversized benchmark: ship it ONCE per executor
      // as a Spark broadcast (not a per-task plan constant, not a row-
      // exploding cross join) and take the per-row max in a single
      // pass — still one corpus scan, no shuffle on the corpus side.
      // The O(|corpus| x |bench|) compute is inherent to the semantics;
      // what this path removes is the unbounded driver collect and the
      // |corpus| x |bench| intermediate a join would materialize.
      // the broadcast still materializes ONCE on the driver — so gauge
      // the size with a BOUNDED id-only count BEFORE collecting (ADVICE
      // r16: the old order collected the whole "benchmark" first, so
      // the exact misuse this guard rejects — a corpus posing as a
      // benchmark — could OOM the driver before the require ever ran).
      // The id-only select guarantees the vector column is pruned out
      // of the gauge job. A benchmark that trips the bound is a corpus,
      // and the right tool is embedNearDup / semDedup (corpus-vs-corpus
      // banded joins), not decontamination.
      val hardCap = 262144
      val gauged = benchN.select(col("id")).limit(hardCap + 1).count()
      require(gauged <= hardCap,
        s"semanticDecontaminate: benchmark has >= $gauged " +
          s"vectors — a benchmark is a fixed-size eval suite (<= $hardCap " +
          "vectors); for corpus-vs-corpus similarity use embedNearDup " +
          "or semDedup instead")
      val benchRows = benchN.collect()
      val benchMatrix = benchRows.map(_.getSeq[Double](1).toArray)
      // validate dimension uniformity ONCE at broadcast build (ADVICE
      // r17): the UDF checks incoming vectors only against rows(0), so
      // a ragged benchmark would index past a shorter row inside the
      // dot loop. Fail here with a clear message instead.
      if (benchMatrix.nonEmpty) {
        val d0 = benchMatrix(0).length
        val bad = benchMatrix.indexWhere(_.length != d0)
        require(bad < 0,
          s"semanticDecontaminate: benchmark vectors are ragged — row 0 " +
            s"has dimension $d0 but row $bad has ${benchMatrix(bad).length}; " +
            "all benchmark embeddings must share one dimension")
      }
      val matrixB = feats.sparkSession.sparkContext.broadcast(benchMatrix)
      // mirrors MaxDotNorm's null/NaN contract exactly (ADVICE r16):
      // null vector, null element, empty table, or dimension mismatch
      // -> null (the row filters out, same as the fast path); a NaN dot
      // wins immediately instead of being skipped by `dot > best`.
      val maxCos = udf { (nvec: Seq[java.lang.Double]) =>
        val rows = matrixB.value
        if (nvec == null || rows.isEmpty || nvec.length != rows(0).length
            || nvec.exists(_ == null)) null
        else {
          val n = nvec.length
          val v = new Array[Double](n)
          var i = 0
          while (i < n) { v(i) = nvec(i).doubleValue(); i += 1 }
          var best = Double.NegativeInfinity
          var j = 0
          var done = false
          while (j < rows.length && !done) {
            val b = rows(j)
            var dot = 0.0
            var k = 0
            while (k < n) { dot += v(k) * b(k); k += 1 }
            if (java.lang.Double.isNaN(dot)) { best = dot; done = true }
            else if (dot > best) best = dot
            j += 1
          }
          java.lang.Double.valueOf(best)
        }: java.lang.Double
      }
      val benchIdsDf = F.broadcast(benchN.select(col("id")))
      feats
        .join(benchIdsDf, Seq("id"), "left_anti")
        .withColumn("max_cos", maxCos(col("nvec")))
        .filter(col("max_cos") >= tau)
        .select(col("id"), round(col("max_cos"), 4).as("max_cos"))
    }
  }

  /** Bounded hash-ordered training sample, collected to the driver.
    * Index training is ALWAYS on a bounded sample (~200 points per
    * centroid, the FAISS heuristic), so k-means runs on the DRIVER —
    * a few MB and a few ms — instead of iterating distributed jobs
    * over the corpus; the cluster then pays ONE codegen'd assignment
    * pass. At 100 TB that is the difference between maxIter full
    * scans and a single one. */
  private def trainSample(feats: DataFrame, target: Int,
      atLeast: Int, what: String): Array[Array[Double]] = {
    val train = feats.select(col("id"), col("nvec"))
      .orderBy(xxhash64(col("id"))).limit(target)
      .collect().map(_.getSeq[Double](1).toArray)
    require(train.length >= atLeast,
      s"$what: ${train.length} training vectors, need >= $atLeast")
    train
  }

  /** Distributed coarse-cell assignment: argmax dot against the
    * centroid table via the NATIVE fused expression — the table rides
    * as a constant reference object, so generated code size is
    * independent of k x dim and every dot is a plain fused loop
    * instead of an interpreted HOF pass. [[coarseCellHof]] stays as
    * the parity oracle. */
  private def coarseCell(nvec: Column,
      centroids: Array[Array[Double]]): Column =
    graft.functions.expressions.GraftExpressions.argmax_dot(
      nvec, centroids)

  /** The composed-HOF reference formulation — the parity oracle for
    * the native argmax (SimilaritySpec). */
  private[pipeline] def coarseCellHof(nvec: Column,
      centroids: Array[Array[Double]]): Column = {
    val centLit = typedLit(centroids.map(_.toSeq).toSeq)
    val dots = transform(centLit, c =>
      F.aggregate(zip_with(nvec, c, (x, y) => x * y),
        lit(0.0), (a, x) => a + x))
    (array_position(dots, array_max(dots)) - 1).cast("int")
  }

  /** Driver-side probe list: each query's `nProbe` nearest cells by
    * cosine (centroids are tiny; zero vectors score 0 instead of
    * NaN-poisoning the sort). */
  private def probeCells(centroids: Array[Array[Double]],
      queryVecs: Array[(Long, Seq[Double])], nProbe: Int): Seq[(Long, Int)] =
    queryVecs.toSeq.flatMap { case (qid, qv) =>
      val n1 = math.sqrt(qv.map(x => x * x).sum)
      centroids.zipWithIndex.map { case (c, cell) =>
        val dot = qv.zip(c).map { case (a, b) => a * b }.sum
        val n2 = math.sqrt(c.map(x => x * x).sum)
        val score = if (n1 > 0 && n2 > 0) dot / (n1 * n2) else 0.0
        (qid, cell, -score)
      }.sortBy(_._3).take(nProbe).map(p => (p._1, p._2)).toSeq
    }

  /**
   * SemDeDup-style semantic deduplication (Abbas et al. 2023, public):
   * cluster the corpus with the same bounded-driver-sample k-means the
   * IVF index uses, then verify near-duplicate pairs ONLY inside each
   * cluster cell — the cell key bounds the self-join, so nothing
   * all-pairs ever runs, and exact duplicates can never be missed
   * (identical vectors share a cell by construction, unlike banded
   * LSH where detection is probabilistic). Returns one row per
   * detected pair: (keep_id < dup_id, cosine score >= tau).
   *
   * Skew guard: within-cell cost is sum(|cell|^2), and the corpora
   * SemDeDup targets (duplicate-heavy crawls) concentrate mass in few
   * cells — exactly where a plain cell self-join turns into one
   * quadratic straggler at 100×. The assignment pass therefore takes a
   * cell census (<= nClusters rows, driver-side), and any cell above
   * `maxCellRows` switches to SUB-BLOCKED detection: rows get a
   * secondary random-hyperplane band key and only rows sharing
   * (cell, band, bandhash) are compared — the spanDedupSalted
   * hot/cold-split pattern. Sub-bucket work is proportional to the
   * pairs actually emitted (near-duplicates share band bits) plus
   * O(|cell|^2 / 2^bandBits) collision noise, instead of |cell|^2.
   * Identical vectors have identical signatures, so the
   * exact-duplicates-never-missed contract survives the escape; pairs
   * at cosine ~tau < 1 become high-probability rather than certain
   * inside hot cells (miss probability (1-(1-acos(tau)/pi)^r)^bands —
   * ~1e-7 at tau=0.999 with the defaults). Cold cells keep the exact
   * join; results union.
   *
   * Production SemDeDup also raises nClusters with corpus size (cells
   * of ~1e3-1e4 docs), which this fit supports — k-means runs on a
   * bounded sample and the corpus pays one codegen'd assignment pass
   * regardless of k; `maxCellRows` is the backstop for the skew that
   * nClusters tuning cannot remove.
   */
  def semanticDedup(emb: DataFrame, idCol: String, vecCol: String,
      tau: Double, nClusters: Int = 16,
      maxCellRows: Long = 100000L,
      nBits: Int = 64, bands: Int = 8, dim: Int = 64): DataFrame = {
    require(maxCellRows >= 1, "maxCellRows must be >= 1")
    require(nBits % bands == 0, s"bands=$bands must divide nBits=$nBits")
    val feats = normalized(emb, idCol, vecCol)
    val train = trainSample(feats, 200 * nClusters, nClusters, "semdedup")
    val cents = lloyd(train, nClusters, iters = 10, spherical = true)
    // materialize the assignment ONCE: both self-join sides consume it
    // (re-deriving it per side would run the codegen'd argmax pass
    // twice). The cell argmax is scale-invariant — argmax_c <v/|v|, c>
    // = argmax_c <v, c> — so the assignment runs on the RAW vectors:
    // one fewer column, and no normalization attr for Spark's Union
    // constraint-rewrite to trip over during the eager checkpoint
    val assigned = emb
      .select(col(idCol).cast("long").as("id"),
        col(vecCol).cast("array<double>").as("vec"))
      .withColumn("cell", coarseCell(col("vec"), cents))
      .localCheckpoint(true)
    // cell census over the materialized assignment: one tiny
    // aggregation (<= nClusters rows) — the guard the plain self-join
    // lacked. Collecting it is bounded by construction. Rows with a
    // NULL cell (malformed vectors: wrong length / null elements)
    // never match the equi-joins below, so the census skips them
    // instead of tripping over the null group.
    val hotCells = assigned.groupBy(col("cell")).count()
      .filter(col("cell").isNotNull && col("count") > maxCellRows)
      .collect().map(_.getInt(0)).toSeq

    def verify(pairs: DataFrame): DataFrame = pairs
      .withColumn("score", cosine(col("va"), col("vb")))
      .filter(col("score") >= tau)
      .select(col("keep_id"), col("dup_id"),
        round(col("score"), 4).as("score"))

    val coldSide =
      if (hotCells.isEmpty) assigned
      else assigned.filter(!col("cell").isin(hotCells: _*))
    val a = coldSide.select(col("cell"), col("id").as("keep_id"),
      col("vec").as("va"))
    val b = coldSide.select(col("cell"), col("id").as("dup_id"),
      col("vec").as("vb"))
    val coldPairs = verify(
      a.join(b, Seq("cell")).filter(col("keep_id") < col("dup_id")))

    if (hotCells.isEmpty) coldPairs
    else {
      // HOT path: banded candidates, exact-cosine verify. The banded
      // frame is NARROW (cell, id, band, bandhash) — vectors join back
      // by id only for surviving candidate pairs, so the explode never
      // carries wide arrays (the embeddingDups shape). The join keeps
      // `cell` in its key: the contract is same-cell pairs only, and
      // banding must sub-divide cells, never bridge them.
      val hot = assigned.filter(col("cell").isin(hotCells: _*))
      // eager localCheckpoint like `assigned`: both join sides consume
      // the banded frame, and the blocks release with the plan via the
      // context cleaner instead of pinning a persist for the session
      val banded = hot
        .withColumn("sig", rhpSignature(col("vec"), nBits, dim))
        .select(col("cell"), col("id"),
          bandExplode(col("sig"), nBits, bands).as(Seq("band", "bandhash")))
        .localCheckpoint(true)
      val lh = banded.select(col("cell"), col("band"), col("bandhash"),
        col("id").as("keep_id"))
      val rh = banded.select(col("cell"), col("band"), col("bandhash"),
        col("id").as("dup_id"))
      val cand = lh.join(rh, Seq("cell", "band", "bandhash"))
        .filter(col("keep_id") < col("dup_id"))
        .select(col("keep_id"), col("dup_id")).distinct()
      val vecs = assigned.select(col("id"), col("vec"))
      val hotPairs = verify(cand
        .join(vecs.select(col("id").as("keep_id"), col("vec").as("va")),
          Seq("keep_id"))
        .join(vecs.select(col("id").as("dup_id"), col("vec").as("vb")),
          Seq("dup_id")))
      coldPairs.unionByName(hotPairs)
    }
  }

  /**
   * Fit the IVF index: k-means over L2-NORMALIZED vectors (Euclidean
   * k-means on the unit sphere is monotone with cosine, so the cells
   * match the rerank metric; unnormalized vectors would split
   * directions by magnitude and silently drop cosine-nearest neighbors
   * from the probed cells). The assignment (id, vec, cell) persists for
   * reuse across query batches.
   */
  def buildIvfIndex(emb: DataFrame, idCol: String, vecCol: String,
      nClusters: Int = 16): IvfIndex = {
    val feats = normalized(emb, idCol, vecCol)
    val train = trainSample(feats, 200 * nClusters, nClusters, "IVF")
    val centroids = lloyd(train, nClusters, iters = 10, spherical = true)
    val assigned = feats
      .withColumn("cell", coarseCell(col("nvec"), centroids))
      .select(col("id"), col("vec"), col("cell"))
      .persist()
    IvfIndex(centroids, assigned)
  }

  /**
   * IVF (inverted-file) approximate top-k against a PRE-BUILT index:
   * a query probes only its `nProbe` nearest cells and reranks those
   * candidates by exact cosine. The scan is pruned by the cell join —
   * cost drops by ~nProbe/nClusters vs brute force.
   */
  def ivfTopK(index: IvfIndex, queryIds: Seq[Long], k: Int,
      nProbe: Int): DataFrame =
    topK(ivfCandidates(index, queryIds, nProbe)
      .withColumn("score", cosine(col("qvec"), col("nvec"))), k)

  /** [[ivfTopK]] restricted to candidates whose label DIFFERS from
    * the query's — the IVF-backed form of [[hardNegatives]] (the
    * label table joins onto the probed-cell candidate set, which is
    * already nProbe/nClusters of the corpus, BEFORE any cosine is
    * computed). Same recall caveat as any IVF query: a negative in
    * an unprobed cell is invisible — raise nProbe for coverage. */
  def ivfHardNegatives(index: IvfIndex, labels: DataFrame,
      idCol: String, labelCol: String, queryIds: Seq[Long], k: Int,
      nProbe: Int): DataFrame = {
    val lab = labels.select(col(idCol).as("nn_id"),
      col(labelCol).as("__nl"))
    val qlab = labels.select(col(idCol).as("query_id"),
      col(labelCol).as("__ql"))
    val cands = ivfCandidates(index, queryIds, nProbe)
      .join(lab, Seq("nn_id"))
      .join(broadcast(qlab), Seq("query_id"))
      .filter(!(col("__nl") <=> col("__ql")))
    topK(cands.withColumn("score", cosine(col("qvec"), col("nvec"))), k)
  }

  /** Shared probed-cell candidate generation for the IVF queries:
    * (query_id, qvec, nn_id, nvec) for every corpus vector in a
    * probed cell, self-matches excluded. */
  private def ivfCandidates(index: IvfIndex, queryIds: Seq[Long],
      nProbe: Int): DataFrame = {
    val spark = index.assigned.sparkSession
    import spark.implicits._
    val queryVecs = index.assigned.filter(col("id").isin(queryIds: _*))
      .select(col("id"), col("vec")).as[(Long, Seq[Double])].collect()
    val probePairs = probeCells(index.centroids, queryVecs, nProbe)
    val probes = probePairs.toDF("query_id", "cell")
    // the probed cell set is known driver-side, so push it as a STATIC
    // IN-filter too: over a saved index (assignment partitioned by
    // cell) this prunes at the FILE level before any row is read —
    // the broadcast join alone would rely on runtime row filtering
    val probedCells = probePairs.map(_._2).distinct

    val queries = index.assigned.filter(col("id").isin(queryIds: _*))
      .select(col("id").as("query_id"), col("vec").as("qvec"))
    index.assigned
      .filter(col("cell").isin(probedCells: _*))
      .join(broadcast(probes), Seq("cell"))
      .join(broadcast(queries), Seq("query_id"))
      .filter(col("id") =!= col("query_id"))
      .select(col("query_id"), col("qvec"), col("id").as("nn_id"),
        col("vec").as("nvec"))
  }

  /** Persist a fitted IVF index: the assignment table PARTITIONED BY
    * CELL (an nProbe query over the loaded index then reads only the
    * probed cells' files — the static IN-filter in [[ivfTopK]] prunes
    * at partition-discovery time) plus a tiny centroid sidecar. This
    * is the production shape: the k-means fit is a batch job, the
    * index a stored table queried by many later batches. */
  def saveIvfIndex(index: IvfIndex, path: String): Unit = {
    val spark = index.assigned.sparkSession
    import spark.implicits._
    index.assigned.write.mode("overwrite").partitionBy("cell")
      .parquet(s"$path/assigned")
    index.centroids.zipWithIndex.toSeq
      .map { case (c, i) => (i, c.toSeq) }
      .toDF("cell", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
    // drift sidecar: the row count the coarse quantizer was FITTED on
    // — [[ivfDriftStatus]] compares the live index size against it to
    // surface the re-train trigger frozen-centroid appends need. The
    // count is a parquet-footer aggregate over the files just written
    // (no data read); the running total also lands in a plain-text
    // counter so the per-append drift check costs ZERO Spark jobs.
    val fitted = spark.read.parquet(s"$path/assigned").count()
    Seq(fitted).toDF("fitted_rows")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
    writeCounter(s"$path/drift_counter.txt", fitted, fitted)
  }

  /** Advisory `(fitted, total)` counter for [[ivfDriftStatus]]: a
    * local one-line text file updated by the (single-writer) append
    * path, so per-append drift monitoring costs ZERO Spark jobs.
    * Best-effort — a crash between the data append and the counter
    * update undercounts until the next [[ivfDriftStatus]] with
    * `recount = true` repairs it; the trigger is advisory, never a
    * correctness input. */
  private def readCounter(p: String): Option[(Long, Long)] =
    try {
      val parts = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(p)), "UTF-8").trim.split(' ')
      Some((parts(0).toLong, parts(1).toLong))
    } catch { case _: Exception => None }

  private def writeCounter(p: String, fitted: Long, total: Long): Unit =
    try java.nio.file.Files.write(
      java.nio.file.Paths.get(p), s"$fitted $total".getBytes("UTF-8"))
    catch { case _: Exception => () }

  /** Frozen-centroid drift accounting for a saved IVF index.
    * `appendToIvfIndex` never re-trains: appends that DRIFT from the
    * fitted distribution pile into few cells and silently erode
    * recall (FAISS's add-after-train has the same property). This is
    * the documented re-train trigger: once the index has grown past
    * `refitGrowthThreshold` times its fitted size, `needsRefit` turns
    * true and the append path warns loudly — re-fit with
    * [[buildIvfIndex]] + [[saveIvfIndex]] (a batch job) and resume
    * appending. Both counts are parquet-footer aggregates, O(files)
    * not O(rows). Indexes saved before the meta sidecar existed
    * report zero growth (fitted = total). */
  final case class IvfDrift(fittedRows: Long, totalRows: Long,
      appendedFraction: Double, needsRefit: Boolean)

  /** `recount = true` bypasses the advisory counter and re-derives the
    * total from the parquet footers (repairing the counter) — use it
    * for an authoritative check; the default trusts the counter so
    * per-append monitoring costs no Spark jobs. */
  def ivfDriftStatus(spark: org.apache.spark.sql.SparkSession,
      path: String, refitGrowthThreshold: Double = 1.0,
      recount: Boolean = false): IvfDrift = {
    val (fitted, total) =
      (if (recount) None else readCounter(s"$path/drift_counter.txt"))
        .getOrElse {
          // authoritative path: parquet-footer counts (O(files)), and
          // the repaired numbers land back in the counter
          val t = spark.read.parquet(s"$path/assigned").count()
          val f =
            try spark.read.parquet(s"$path/meta")
              .select(col("fitted_rows")).head().getLong(0)
            catch { case _: Exception => t }
          writeCounter(s"$path/drift_counter.txt", f, t)
          (f, t)
        }
    val frac =
      if (fitted <= 0) 0.0 else (total - fitted).toDouble / fitted
    IvfDrift(fitted, total, frac, frac > refitGrowthThreshold)
  }

  /** Append a new vector batch to a SAVED IVF index without refitting:
    * the stored centroids are the frozen coarse quantizer (the
    * standard production update path — FAISS's add-after-train), new
    * vectors pay one codegen'd assignment pass and land as appended
    * files under their cells' partition directories. The existing
    * index files are never read or rewritten, so the append cost is
    * O(new batch) regardless of index size — the daily-embedding-drop
    * shape at 100 TB. Queries over the reloaded index see old and new
    * vectors identically (same centroids ⇒ same probe math; an
    * identical vector lands in the same cell deterministically).
    * Periodic refit remains the caller's policy when drift makes the
    * frozen cells unbalanced. Returns the number of appended rows.
    *
    * Delivery semantics: a plain append is NOT idempotent — an
    * at-least-once driver (e.g. `foreachBatch`, which can re-run a
    * batch after a crash between the write and the checkpoint commit)
    * would duplicate vectors on retry. `dedupAgainstExisting = true`
    * anti-joins the batch against the index's id column first (a
    * pruned single-column scan of the index), so re-delivery of the
    * same ids is a no-op — the price of exactly-once EFFECTS over a
    * sink with no transaction log. */
  def appendToIvfIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, emb: DataFrame, idCol: String, vecCol: String,
      dedupAgainstExisting: Boolean = false): Long = {
    val index = loadIvfIndex(spark, path)
    val fresh = normalized(emb, idCol, vecCol)
    val incoming =
      if (dedupAgainstExisting)
        fresh.join(index.assigned.select(col("id")), Seq("id"), "left_anti")
      else fresh
    // one assignment pass total: materialize before the count + write
    val assigned = incoming
      .withColumn("cell", coarseCell(col("nvec"), index.centroids))
      .select(col("id"), col("vec"), col("cell"))
      .localCheckpoint(true)
    val n = assigned.count()
    if (n > 0) {
      assigned.write.mode("append").partitionBy("cell")
        .parquet(s"$path/assigned")
      // counter bump + re-train trigger (see [[ivfDriftStatus]]):
      // frozen centroids erode recall SILENTLY as drifted appends
      // accumulate — surface the threshold crossing loudly at the
      // moment it happens. The advisory counter keeps this at zero
      // Spark jobs per append (streaming ingestion appends every
      // micro-batch; a footer count per batch was measured at
      // +1.6 s on the ivf_stream floor).
      readCounter(s"$path/drift_counter.txt").foreach { case (f, t) =>
        writeCounter(s"$path/drift_counter.txt", f, t + n)
      }
      val drift = ivfDriftStatus(spark, path)
      if (drift.needsRefit)
        System.err.println(
          f"[graft] IVF index at $path has grown ${drift.appendedFraction}%.2fx " +
            f"past its fitted size (${drift.fittedRows} fitted, " +
            f"${drift.totalRows} total): frozen-centroid recall is no " +
            "longer trustworthy — re-fit with buildIvfIndex + saveIvfIndex")
    }
    n
  }

  /** Load a saved IVF index. The assignment stays a lazy scan over the
    * cell-partitioned files — deliberately NOT persisted: pruned disk
    * reads of a few cells are the point at scale. */
  def loadIvfIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): IvfIndex = {
    val centroids = spark.read.parquet(s"$path/centroids")
      .select(col("cell"), col("centroid")).collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1).map(_._2)
    val assigned = spark.read.parquet(s"$path/assigned")
      .select(col("id"), col("vec"), col("cell"))
    IvfIndex(centroids, assigned)
  }

  /** Convenience form fitting a throwaway index — correctness tests and
    * one-shot queries; production callers build the index once. */
  def ivfTopK(emb: DataFrame, idCol: String, vecCol: String,
      queryIds: Seq[Long], k: Int,
      nClusters: Int = 16, nProbe: Int = 4): DataFrame = {
    val index = buildIvfIndex(emb, idCol, vecCol, nClusters)
    ivfTopK(index, queryIds, k, nProbe)
  }

  /** Driver-side Lloyd k-means with deterministic evenly-spaced init
    * over the (hash-ordered) training sample; empty cells keep their
    * previous centroid. `spherical=true` scores by dot product and
    * renormalizes centroids each round (assumes unit-norm input —
    * monotone with the cosine rerank metric); `false` is plain L2
    * k-means (PQ subspace codebooks, where sub-vectors are not unit). */
  private def lloyd(train: Array[Array[Double]], k: Int, iters: Int,
      spherical: Boolean): Array[Array[Double]] = {
    val dim = train.head.length
    var centroids = Array.tabulate(k)(i =>
      train(((i.toLong * train.length) / k).toInt).clone())
    def nearest(v: Array[Double]): Int = {
      var best = 0; var bestScore = Double.MinValue; var c = 0
      while (c < centroids.length) {
        val cen = centroids(c)
        var acc = 0.0; var j = 0
        if (spherical) {
          while (j < dim) { acc += v(j) * cen(j); j += 1 }
        } else {
          while (j < dim) { val d = v(j) - cen(j); acc -= d * d; j += 1 }
        }
        if (acc > bestScore) { bestScore = acc; best = c }
        c += 1
      }
      best
    }
    // FIXED chunk count: per-chunk partial sums merge in chunk order,
    // so the floating-point accumulation order — and therefore the
    // fitted centroids — are bit-identical on any machine (a
    // core-count-dependent split would make the fit, and the oracles'
    // organic-pair bands, environment-dependent)
    val nChunks = 8
    val bounds = (0 to nChunks).map(i => (i * train.length) / nChunks)
    for (_ <- 0 until iters) {
      val partials =
        new Array[(Array[Array[Double]], Array[Long])](nChunks)
      // capture worker failures: a bare throw inside a chunk thread
      // would leave partials(ci) null and surface later as an opaque
      // MatchError in the merge instead of the real error
      val failures = new java.util.concurrent.atomic.AtomicReference[Throwable]()
      val threads = (0 until nChunks).map { ci =>
        val t = new Thread(() => {
          try {
            val sums = Array.fill(k)(new Array[Double](dim))
            val counts = new Array[Long](k)
            var i = bounds(ci)
            while (i < bounds(ci + 1)) {
              val v = train(i)
              val c = nearest(v); counts(c) += 1
              var j = 0; while (j < dim) { sums(c)(j) += v(j); j += 1 }
              i += 1
            }
            partials(ci) = (sums, counts)
          } catch { case e: Throwable => failures.compareAndSet(null, e) }
        })
        t.start(); t
      }
      threads.foreach(_.join())
      Option(failures.get).foreach(e => throw e)
      val sums = Array.fill(k)(new Array[Double](dim))
      val counts = new Array[Long](k)
      partials.foreach { case (ps, pc) =>
        var c = 0
        while (c < k) {
          counts(c) += pc(c)
          var j = 0; while (j < dim) { sums(c)(j) += ps(c)(j); j += 1 }
          c += 1
        }
      }
      centroids = Array.tabulate(k) { c =>
        if (counts(c) == 0) centroids(c)
        else {
          val s = sums(c)
          if (spherical) {
            val n = math.sqrt(s.map(x => x * x).sum)
            if (n > 0) s.map(_ / n) else s
          } else s.map(_ / counts(c))
        }
      }
    }
    centroids
  }

  /**
   * A built IVF-PQ index — the 100 TB ANN memory story. The corpus is
   * held as (id, cell, codes) where `codes` is m small integers per
   * vector: ~m bytes instead of 4·dim — a 64-dim float corpus
   * compresses 32× (256 B → 8 B/vector), which is what lets the whole
   * index sit in cluster memory at scales where raw vectors cannot.
   * Queries scan only probed cells, score candidates by table lookups
   * (ADC — no per-candidate float math beyond m additions), and only
   * the few rerank survivors ever touch a raw vector again.
   */
  final case class PqIndex(
      centroids: Array[Array[Double]],          // coarse cells, unit-norm
      codebooks: Array[Array[Array[Double]]],   // m × nCodes × subDim
      encoded: DataFrame,                       // (id, cell, codes) persisted
      vecs: DataFrame) {                        // (id, vec) LAZY — rerank only
    def unpersist(): Unit = encoded.unpersist()
  }

  /**
   * Fit an IVF-PQ index: a coarse spherical k-means partitions the
   * corpus into `nClusters` cells (same as the plain IVF index), and a
   * product quantizer splits each L2-normalized vector into `m`
   * subspaces of dim/m, each encoded as the id of its nearest codeword
   * out of `nCodes` (plain L2 k-means per subspace — sub-vectors are
   * not unit-norm). All training runs on the driver over a bounded
   * hash-ordered sample (the FAISS heuristic); the cluster pays ONE
   * codegen'd pass that assigns cell + m codes per vector against the
   * codebooks shipped as constant literals. The persisted index frame
   * is 2 + m small integers wide — no vectors.
   */
  def buildPqIndex(emb: DataFrame, idCol: String, vecCol: String,
      nClusters: Int = 16, m: Int = 8, nCodes: Int = 16): PqIndex = {
    val feats = normalized(emb, idCol, vecCol)
    val train = trainSample(feats,
      (200 * math.max(nClusters, nCodes)).min(100000),
      math.max(nClusters, nCodes), "PQ")
    val dim = train.head.length
    require(dim % m == 0, s"PQ: dim $dim not divisible by m=$m")
    val subDim = dim / m
    val centroids = lloyd(train, nClusters, iters = 10, spherical = true)
    val codebooks: Array[Array[Array[Double]]] = Array.tabulate(m) { j =>
      lloyd(train.map(v => v.slice(j * subDim, (j + 1) * subDim)),
        nCodes, iters = 10, spherical = false)
    }
    // one distributed pass: coarse cell (native argmax dot) + m codes
    // (native per-subspace argmin, computed as -2<s,c> + |c|² — |s|²
    // is constant per row so it cannot change the argmin). Both
    // tables ride as constant reference objects; the HOF code form
    // stays below as the parity oracle.
    val encoded = feats
      .withColumn("cell", coarseCell(col("nvec"), centroids))
      .withColumn("codes", graft.functions.expressions.GraftExpressions
        .pq_encode(col("nvec"), codebooks))
      .select(col("id"), col("cell"), col("codes"))
      .persist()
    PqIndex(centroids, codebooks, encoded,
      feats.select(col("id"), col("vec")))
  }

  /** The composed-HOF PQ code formulation — the parity oracle for the
    * native [[graft.functions.expressions.PqEncode]] (SimilaritySpec). */
  private[pipeline] def pqCodesHof(nvec: Column,
      codebooks: Array[Array[Array[Double]]]): Column = {
    val m = codebooks.length
    val subDim = codebooks(0)(0).length
    val cbLit = typedLit(codebooks.map(_.map(_.toSeq).toSeq).toSeq)
    transform(sequence(lit(0), lit(m - 1)), j => {
      val sub = slice(nvec, j * subDim + 1, lit(subDim))
      val dists = transform(element_at(cbLit, (j + 1).cast("int")), cw =>
        F.aggregate(zip_with(sub, cw, (s, c) => c * c - lit(2.0) * s * c),
          lit(0.0), (a, x) => a + x))
      (array_position(dists, array_min(dists)) - 1).cast("int")
    })
  }

  /**
   * IVF-PQ approximate top-k against a pre-built index. Per query:
   * probe the `nProbe` nearest cells; score every candidate by ADC —
   * the query's per-subspace inner products with each codeword are
   * precomputed into an m × nCodes table (driver-side, tiny), so a
   * candidate costs m array lookups + m additions, touching only the
   * `codes` column; keep the top k·`refine` by ADC and rerank those
   * few with exact cosine against the raw vectors (joined back by id —
   * the only point where vectors are read at all).
   */
  def pqTopK(index: PqIndex, queryIds: Seq[Long], k: Int,
      nProbe: Int, refine: Int = 4): DataFrame = {
    val spark = index.encoded.sparkSession
    import spark.implicits._
    val m = index.codebooks.length
    val queryVecs = index.vecs.filter(col("id").isin(queryIds: _*))
      .select(col("id"), col("vec")).as[(Long, Seq[Double])].collect()
    val probes = probeCells(index.centroids, queryVecs, nProbe)
      .toDF("query_id", "cell")
    // ADC tables over the NORMALIZED query (the codebooks encode
    // normalized vectors, so table[j][c] = <q̂_j, codeword_jc> and the
    // ADC sum approximates cosine directly)
    val qtabs = queryVecs.map { case (qid, qv) =>
      val n1 = math.sqrt(qv.map(x => x * x).sum)
      val nq = if (n1 > 0) qv.map(_ / n1) else qv
      val subDim = nq.length / m
      val tab: Seq[Seq[Double]] = index.codebooks.toSeq.zipWithIndex.map {
        case (cb, j) =>
          val sub = nq.slice(j * subDim, (j + 1) * subDim)
          cb.toSeq.map(cw => cw.zip(sub).map { case (a, b) => a * b }.sum)
      }
      (qid, tab)
    }.toSeq.toDF("query_id", "qtab")
    val adc = F.aggregate(
      zip_with(col("codes"), col("qtab"),
        (c, tab) => element_at(tab, c + 1)),
      lit(0.0), (a, x) => a + x)
    val cands = index.encoded.join(broadcast(probes), Seq("cell"))
      .join(broadcast(qtabs), Seq("query_id"))
      .filter(col("id") =!= col("query_id"))
      .withColumn("adc", adc)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adc").desc, col("id"))
    val survivors = cands.withColumn("arank", row_number().over(w))
      .filter(col("arank") <= k * refine)
      .select(col("query_id"), col("id").as("nn_id"))
    val queries = index.vecs.filter(col("id").isin(queryIds: _*))
      .select(col("id").as("query_id"), col("vec").as("qvec"))
    // survivors is ≤ |queries|·k·refine rows — broadcast IT so the raw
    // vector table is probed with a broadcast hash join, never shuffled
    val reranked = index.vecs
      .select(col("id").as("nn_id"), col("vec").as("nvec"))
      .join(broadcast(survivors), Seq("nn_id"))
      .join(broadcast(queries), Seq("query_id"))
      .withColumn("score", cosine(col("qvec"), col("nvec")))
    topK(reranked, k)
  }

  /** The shared banding step: explode a signature into `bands`
    * (band, bandhash) pairs, each hash covering nBits/bands sign bits.
    * EVERY banding path (embedding near-dup, LSH top-k, the SemDeDup
    * hot cells) must use this one definition — a seed or slice-bound
    * change in one copy would silently break cross-path bucket
    * compatibility. */
  private def bandExplode(sig: Column, nBits: Int, bands: Int): Column = {
    val rows = nBits / bands
    posexplode(transform(sequence(lit(0), lit(bands - 1)),
      b => xxhash64(slice(sig, b * rows + 1, lit(rows)), b)))
  }

  /** Deterministic plane table shared by the native and HOF signature
    * forms (seeded Scala-side, generated row-major so both forms see
    * the identical Random sequence). */
  private[pipeline] def rhpPlanes(nBits: Int,
      dim: Int): Array[Array[Double]] = {
    val rnd = new scala.util.Random(4242)
    Array.fill(nBits)(Array.fill(dim)(rnd.nextDouble() * 2 - 1))
  }

  /** Random-hyperplane signature: bit j = sign of <v, plane_j>,
    * computed by the NATIVE codegen expression — one fused loop over
    * all planes per row. The HOF form ([[rhpSignatureHof]]) pays
    * nBits interpreted aggregate(zip_with) passes per row, which
    * dominated the banding pipelines at scale; it stays as the parity
    * oracle. */
  def rhpSignature(vec: Column, nBits: Int, dim: Int): Column =
    graft.functions.expressions.GraftExpressions.rhp_sig(
      vec, rhpPlanes(nBits, dim))

  /** The composed-HOF reference formulation — kept as the parity
    * oracle for the native expression (SimilaritySpec). */
  def rhpSignatureHof(vec: Column, nBits: Int, dim: Int): Column = {
    val planesLit = typedLit(
      rhpPlanes(nBits, dim).map(_.toSeq).toSeq)
    // truncate both sides to the shared length: a vector shorter than
    // `dim` would otherwise zip against nulls, nulling the dot product
    // and collapsing every signature to all-zeros (one giant bucket)
    val d = least(size(vec), lit(dim)).cast("int")
    transform(sequence(lit(0), lit(nBits - 1)), j =>
      when(F.aggregate(
        zip_with(slice(vec, lit(1), d),
          slice(element_at(planesLit, (j + 1).cast("int")), lit(1), d),
          (v, p) => v.cast("double") * p),
        lit(0.0), (acc, x) => acc + x) > 0, 1).otherwise(0))
  }

  /**
   * LSH-bucketed approximate top-k: vectors sharing a signature band
   * become candidates; exact cosine reranks within buckets. Recall is
   * tunable via (nBits, bands); the join key is the band hash — the
   * corpus never self-crosses.
   */
  def lshTopK(emb: DataFrame, idCol: String, vecCol: String,
      queryIds: Seq[Long], k: Int,
      nBits: Int = 16, bands: Int = 4, dim: Int = 64): DataFrame = {
    val sigs = emb.select(col(idCol).as("id"), col(vecCol).as("vec"))
      .withColumn("sig", rhpSignature(col("vec"), nBits, dim))
      .select(col("id"), col("vec"),
        bandExplode(col("sig"), nBits, bands).as(Seq("band", "bandhash")))
    val queries = sigs.filter(col("id").isin(queryIds: _*))
      .select(col("band"), col("bandhash"),
        col("id").as("query_id"), col("vec").as("qvec"))
    val cands = sigs.join(broadcast(queries), Seq("band", "bandhash"))
      .filter(col("id") =!= col("query_id"))
      .select(col("query_id"), col("qvec"),
        col("id").as("nn_id"), col("vec").as("nvec"))
      .distinct()
    topK(cands.withColumn("score", cosine(col("qvec"), col("nvec"))), k)
  }
}
