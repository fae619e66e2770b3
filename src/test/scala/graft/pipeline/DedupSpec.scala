package graft.pipeline

import org.apache.spark.sql.functions._
import graft.SparkSpec

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy dog"),       // exact dup of 1
    (3L, "the quick brown fox jumps over the lazy cat"),       // near dup of 1
    (4L, "completely different content about spark engines"),
    (5L, "")
  ).toDF("doc_id", "text")

  test("exact dedup groups identical content") {
    val out = Dedup.exact(docs, "doc_id", "text")
      .select("keep_id", "n_dups").as[(Long, Long)].collect().toMap
    assert(out(1L) == 2L)       // docs 1+2 collapse, min id kept
    assert(out(3L) == 1L)
    assert(out.size == 4)
  }

  test("minhash LSH finds exact and near dups, not unrelated docs") {
    val pairs = Dedup.minhashLsh(docs, "doc_id", "text",
        k = 5, numHashes = 32, bands = 16, tau = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))          // exact dup always survives
    assert(pairs.contains((1L, 3L)) || pairs.contains((2L, 3L))) // near dup
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("minhash LSH jaccard is 1.0 for identical docs") {
    val j = Dedup.minhashLsh(docs, "doc_id", "text", tau = 0.9)
      .filter($"id_a" === 1L && $"id_b" === 2L)
      .select("jaccard").as[Double].head()
    assert(j == 1.0)
  }

  test("LSH candidate join is on band keys, not a cartesian") {
    val plan = Dedup.minhashLsh(docs, "doc_id", "text")
      .queryExecution.optimizedPlan.toString
    assert(!plan.contains("Cross"), s"plan has a cartesian:\n$plan")
  }

  test("incremental near-dup: saved band index finds copies, skips fresh") {
    val idx = java.nio.file.Files
      .createTempDirectory("banddx").toString + "/bands"
    Dedup.saveBandIndex(docs, "doc_id", "text", idx)
    import spark.implicits._
    val incoming = Seq(
      (100L, docs.filter(col("doc_id") === 1).head().getString(1)), // copy
      (101L, "a completely unrelated incoming document about nothing")
    ).toDF("doc_id", "text")
    val hits = Dedup.incrementalNearDups(spark, idx, docs, incoming,
      "doc_id", "text", tau = 0.9)
    val got = hits.select("in_id", "corpus_id", "jaccard")
      .as[(Long, Long, Double)].collect()
    assert(got.exists(r => r._1 == 100L && r._2 == 1L && r._3 == 1.0))
    assert(!got.exists(_._1 == 101L), s"fresh doc matched: ${got.toSeq}")
    // plan: bucketed band join with the batch side broadcast —
    // never a cartesian against the corpus index
    val plan = hits.queryExecution.executedPlan.toString
    assert(!plan.contains("Cartesian") && plan.contains("Broadcast"),
      s"expected broadcast band join:\n$plan")
  }

  test("simhash: identical docs collide at hamming 0") {
    val out = Dedup.simhashDups(docs, "doc_id", "text", maxHamming = 3)
      .select("id_a", "id_b", "hamming").as[(Long, Long, Int)].collect()
    assert(out.exists(r => r._1 == 1L && r._2 == 2L && r._3 == 0))
  }

  test("simhash signature is deterministic and text-sensitive") {
    val sigs = docs.select($"doc_id", Dedup.simhash($"text").as("s"))
      .as[(Long, Long)].collect().toMap
    assert(sigs(1L) == sigs(2L))
    assert(sigs(1L) != sigs(4L))
  }

  test("native MinHashSig matches the HOF affine formulation bit-for-bit") {
    val native = docs.select($"doc_id",
      graft.functions.expressions.HashExpressions
        .minhash_sig($"text", 5, 16).as("sig"))
      .as[(Long, Seq[Long])].collect().toMap
    val hof = docs.select($"doc_id",
      Dedup.minhashSignature(Dedup.shinglesOf($"text", 5), 16).as("sig"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(native == hof)
  }

  test("native MinHashSig matches the HOF on astral-plane text (SQL " +
      "substring counts codepoints, not UTF-16 units)") {
    // surrogate-pair codepoints made the old toString/substring loop
    // count UTF-16 units: window count and window CONTENT both
    // diverged from the shinglesOf oracle. The byte-boundary walk
    // counts codepoints like SQL substring does.
    val astral = Seq(
      (1L, "𝒰nicode 🜚 mixed 中文 astral 𝔴indows exercise"),
      (2L, "🜚🜚🜚🜚"),   // shorter than k in codepoints: one window
      (3L, "plain ascii control row")
    ).toDF("doc_id", "text")
    val native = astral.select($"doc_id",
      graft.functions.expressions.HashExpressions
        .minhash_sig($"text", 5, 16).as("sig"))
      .as[(Long, Seq[Long])].collect().toMap
    val hof = astral.select($"doc_id",
      Dedup.minhashSignature(Dedup.shinglesOf($"text", 5), 16).as("sig"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(native == hof)
  }

  test("native SimHash64 matches the HOF bit-vote formulation") {
    val native = docs.select($"doc_id",
      graft.functions.expressions.HashExpressions
        .simhash64(split(lower($"text"), "\\s+")).as("sig"))
      .as[(Long, Long)].collect().toMap
    val hof = docs.select($"doc_id", Dedup.simhash($"text").as("sig"))
      .as[(Long, Long)].collect().toMap
    assert(native == hof)
  }

  test("ngram jaccard: identical=1, disjoint=0, near in between") {
    val df = Seq((
      "the quick brown fox jumps over the lazy dog",
      "the quick brown fox jumps over the lazy cat",
      "totally unrelated words here now")).toDF("a", "b", "c")
    val (ab, aa, ac) = df.select(
      Dedup.ngramJaccard($"a", $"b", 3).as("ab"),
      Dedup.ngramJaccard($"a", $"a", 3).as("aa"),
      Dedup.ngramJaccard($"a", $"c", 3).as("ac"))
      .as[(Double, Double, Double)].head()
    assert(aa == 1.0)
    assert(ac == 0.0)
    assert(ab > 0.4 && ab < 1.0)
  }

  /** The language gate, LSH and connected components composed as the
    * corpus_dedup benchmark composes them, over a Parquet corpus:
    * (verified pairs, vertex -> cluster label). */
  private def gatedDedup(texts: Seq[(Long, String)]): (Set[(Long, Long)], Map[Long, Long]) = {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val dir = java.nio.file.Files.createTempDirectory("gated_dedup").toFile
    val path = new java.io.File(dir, "corpus.parquet").getPath
    try {
      val schema = StructType(Seq(StructField("id", LongType),
        StructField("text", StringType)))
      spark.createDataFrame(spark.sparkContext.parallelize(
        texts.map { case (i, t) => org.apache.spark.sql.Row(i, t) }, 2), schema)
        .write.parquet(path)
      val kept = TextAnalysis.scoreDocuments(
        spark.read.schema(schema).parquet(path), "id", "text")
        .filter(col("lang") === "en").select("id", "text")
      val pairs = Dedup.minhashLsh(kept, "id", "text", k = 5, tau = 0.8)
        .select("id_a", "id_b").persist()
      try {
        val cc = Dedup.connectedComponents(kept.select("id"),
          pairs.select(col("id_a").as("src"), col("id_b").as("dst")))
        (pairs.as[(Long, Long)].collect().toSet,
          cc.as[(Long, Long)].collect().toMap)
      } finally pairs.unpersist()
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir)
  }

  private val enDoc = "the quick brown fox jumps over the lazy dog and " +
    "then the cat is seen in the garden for a while"

  test("gated dedup: an empty corpus yields no pairs and no labels") {
    assert(gatedDedup(Seq.empty) == ((Set.empty, Map.empty)))
  }

  test("gated dedup: a corpus the gate empties yields no pairs and no labels") {
    val de = (1L to 4L).map(i =>
      (i, s"der hund und die katze ist nicht da mit dem ball $i"))
    assert(gatedDedup(de) == ((Set.empty, Map.empty)))
  }

  test("gated dedup: one document is its own component") {
    assert(gatedDedup(Seq((7L, enDoc))) == ((Set.empty, Map(7L -> 7L))))
  }

  test("gated dedup: five identical documents are 10 pairs, one component") {
    val (pairs, labels) = gatedDedup((1L to 5L).map(i => (i, enDoc)))
    assert(pairs == (for (a <- 1L to 5L; b <- a + 1 to 5L) yield (a, b)).toSet)
    assert(labels.keySet == (1L to 5L).toSet && labels.values.toSet.size == 1)
  }

  test("gated dedup: null text is gated out beside two identical documents") {
    val (pairs, labels) =
      gatedDedup(Seq((1L, null), (2L, enDoc), (3L, enDoc)))
    assert(pairs == Set((2L, 3L)))
    assert(labels.keySet == Set(2L, 3L) && labels(2L) == labels(3L))
  }

  test("connected components: chains, cliques, isolated vertices") {
    // chain 1-2-3-4-5, clique 10-11-12, isolated 20; edge direction
    // must not matter (3->2 reversed inside the chain)
    val verts = (Seq(1L, 2L, 3L, 4L, 5L, 10L, 11L, 12L, 20L))
      .toDF("id")
    val edges = Seq((1L, 2L), (3L, 2L), (3L, 4L), (4L, 5L),
      (10L, 11L), (11L, 12L), (10L, 12L)).toDF("src", "dst")
    val got = Dedup.connectedComponents(verts, edges)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L))
  }

  test("connected components keep vertices whose neighbor is unlisted") {
    // endpoint 1 is NOT in the vertex frame: vertex 5 must still land
    // in cluster 1 (and 1 itself surfaces from the edge list) instead
    // of silently vanishing through the pointer-jump inner join
    val verts = Seq(5L).toDF("id")
    val edges = Seq((5L, 1L)).toDF("src", "dst")
    val got = Dedup.connectedComponents(verts, edges)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(5L -> 1L, 1L -> 1L))
  }

  test("connected components converge on a long chain (pointer jumping)") {
    val n = 200L
    val verts = (1L to n).toDF("id")
    val edges = (1L until n).map(i => (i, i + 1)).toDF("src", "dst")
    val got = Dedup.connectedComponents(verts, edges, maxRounds = 12)
      .as[(Long, Long)].collect()
    // a 200-hop chain collapses to one cluster well inside log-rounds
    assert(got.length == n && got.forall(_._2 == 1L))
  }

  test("incremental dedup: bloom prefilter + exact verify equals anti-join") {
    val corpus = (1L to 100L).map(i => (i, s"doc number $i"))
      .toDF("doc_id", "text")
    // incoming: 50 exact dups of corpus docs + 50 genuinely new
    val incoming = ((101L to 150L).map(i => (i, s"doc number ${i - 100}")) ++
      (151L to 200L).map(i => (i, s"brand new content $i")))
      .toDF("doc_id", "text")
    val got = Dedup.incrementalNew(corpus, incoming, "doc_id", "text")
      .select("doc_id").as[Long].collect().toSet
    assert(got == (151L to 200L).toSet)
    // a tight bloom (high fpp) still yields the exact answer — false
    // positives are cancelled by the verify join
    val gotTight = Dedup.incrementalNew(corpus, incoming, "doc_id", "text",
      expectedItems = 10, fpp = 0.5).select("doc_id").as[Long].collect().toSet
    assert(gotTight == (151L to 200L).toSet)
    // empty corpus: everything is new
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(Dedup.incrementalNew(empty, incoming, "doc_id", "text")
      .count() == 100L)
  }

  test("canonicalMap elects longest-then-smallest-id per normalized group") {
    val docs = Seq(
      (1L, "Hello   World"),     // normalizes with 2 and 3
      (2L, "hello world"),
      (3L, "  HELLO WORLD  !"),  // different normalized text (the !)
      (4L, " hello  world  "),   // longest raw (15 chars) -> canonical
      (5L, "unique doc")).toDF("doc_id", "text")
    val got = Dedup.canonicalMap(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set(
      (1L, 4L, 3L),   // |" hello  world  "| = 15 > |"Hello   World"| = 13
      (2L, 4L, 3L),
      (4L, 4L, 3L),
      (3L, 3L, 1L),
      (5L, 5L, 1L)))
  }

  test("canonicalMap breaks raw-length ties toward the smallest id") {
    val docs = Seq(
      (7L, "SAME LEN"), (2L, "same len"), (9L, "Same Len"))
      .toDF("doc_id", "text")
    val got = Dedup.canonicalMap(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((7L, 2L), (2L, 2L), (9L, 2L)))
  }

  test("exact-substring spans: shared >= n-token run found, canonical kept") {
    // 20 shared tokens planted mid-document in docs 1..3; doc 0 is the
    // canonical source (lexicographic minimum occurrence)
    val shared = (1 to 20).map(i => s"tok$i").mkString(" ")
    val docs = Seq(
      (0L, s"$shared"),                              // pure source
      (1L, s"a b c $shared x y z"),                  // offset 3
      (2L, s"$shared trailing words here"),          // offset 0
      (3L, s"p q $shared"),                          // offset 2
      (4L, "entirely unrelated tokens with no duplicated run at all")
    ).toDF("doc_id", "text")
    val spans = Dedup.exactSubstringSpans(docs, "doc_id", "text", 15)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    // doc 0 owns every gram of the shared run (doc_id 0 < all) -> no
    // spans; docs 1..3 each surface exactly the 20-token run
    assert(spans == Set((1L, 3, 22), (2L, 0, 19), (3L, 2, 21)), spans)
  }

  test("exact-substring spans: overlapping duplicated regions merge") {
    // two overlapping duplicated 15-gram families inside one doc merge
    // into a single maximal span
    val run = (1 to 30).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (0L, run),                       // canonical
      (1L, s"lead $run tail")          // one 30-token duplicated region
    ).toDF("doc_id", "text")
    val spans = Dedup.exactSubstringSpans(docs, "doc_id", "text", 15)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    assert(spans == Set((1L, 1, 30)), spans)
  }

  test("exact-substring spans: docs shorter than n emit nothing") {
    val docs = Seq((0L, "one two three"), (1L, "one two three"))
      .toDF("doc_id", "text")
    assert(Dedup.exactSubstringSpans(docs, "doc_id", "text", 15)
      .count() == 0)
  }

  test("stripSpans excises exactly the spanned tokens; canonical and " +
      "unspanned docs pass through verbatim") {
    val shared = (1 to 20).map(i => s"tok$i").mkString(" ")
    val docs = Seq(
      (0L, s"$shared"),                       // canonical: survives
      (1L, s"a b c $shared x y z"),           // span [3,22] excised
      (2L, s"$shared"),                       // entirely one span -> ""
      (3L, s"P Q $shared"),                   // case survives the strip
      (4L, "entirely unrelated tokens with no duplicated run at all")
    ).toDF("doc_id", "text")
    val spans = Dedup.exactSubstringSpans(docs, "doc_id", "text", 15)
    val out = Dedup.stripSpans(docs, spans, "doc_id", "text")
      .as[(Long, String)].collect().toMap
    assert(out(0L) == shared)                 // canonical, verbatim
    assert(out(1L) == "a b c x y z", out(1L)) // surgical excision
    assert(out(2L) == "", out(2L))            // fully-duplicated doc
    assert(out(3L) == "P Q", out(3L))         // original case preserved
    assert(out(4L) == // no spans: raw text untouched, spacing included
      "entirely unrelated tokens with no duplicated run at all")
    // composition sanity: re-running the span finder on the stripped
    // corpus finds nothing left to remove
    val again = Dedup.exactSubstringSpans(
      out.toSeq.toDF("doc_id", "text"), "doc_id", "text", 15)
    assert(again.count() == 0, "strip left duplicated spans behind")
  }

  test("simhash multi-table blocking finds EXACTLY the brute-force " +
      "hamming<=3 pairs") {
    // 40 short docs with overlapping token sets: plenty of organic
    // near-collisions in signature space. The Manku 3-of-6-block keys
    // must reproduce the full brute-force cross-join pair set.
    val docs = (0 until 40).map { i =>
      (i.toLong, (0 until 12).map(j => s"t${(i * 7 + j * j) % 23}").mkString(" "))
    }.toDF("doc_id", "text")
    val got = Dedup.simhashDups(docs, "doc_id", "text", maxHamming = 3)
      .select("id_a", "id_b", "hamming")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val sigs = docs.select(col("doc_id"),
      graft.functions.expressions.HashExpressions
        .simhash64(split(lower(col("text")), "\\s+")).as("sig"))
    val a = sigs.select(col("doc_id").as("id_a"), col("sig").as("sa"))
    val b = sigs.select(col("doc_id").as("id_b"), col("sig").as("sb"))
    val brute = a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .withColumn("hamming",
        bit_count(col("sa").bitwiseXOR(col("sb"))).cast("int"))
      .filter(col("hamming") <= 3)
      .select("id_a", "id_b", "hamming")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(brute.nonEmpty, "fixture produced no near pairs - weak test")
    assert(got == brute,
      s"missing: ${brute -- got}, spurious: ${got -- brute}")
  }
}
