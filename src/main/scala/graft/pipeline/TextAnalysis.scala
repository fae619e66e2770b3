package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{functions => F}

import graft.functions.expressions.TextScore

/**
 * Text analysis for training-data pipelines: token counting, quality
 * scoring, language ID, and document fingerprinting. Per-row, no UDFs,
 * no shuffle. The per-document scores are native expressions
 * (`TextScore`) that stay in whole-stage codegen; the
 * `filter`/`aggregate` lambdas that `gopherFilter` and `bm25` still use
 * run interpreted.
 */
object TextAnalysis {

  /** The canonical lowercased whitespace tokenizer every text operator
    * (and its DuckDB oracle) shares — one definition so the token
    * arithmetic can never desynchronize between operators. */
  def tokensLower(text: Column): Column = split(lower(trim(text)), "\\s+")

  /** Whitespace token count; empty/blank text counts 0. */
  def tokenCount(text: Column): Column = score(text, TextScore.NTokens)

  /** A BPE-ish subword proxy: count of runs matching word pieces /
    * digits / punctuation (approximates tokenizer token counts without
    * a vocab). */
  def subwordCount(text: Column): Column =
    when(trim(text) === "", 0)
      .otherwise(size(split(trim(text), "(?<=[a-z])(?=[A-Z])|\\s+|(?=[^\\w\\s])")))
      .cast("long")

  /** Ratio of punctuation chars (.,!?;:) to total chars; 0 for empty. */
  def punctRatio(text: Column): Column =
    when(length(text) === 0, lit(0.0)).otherwise(
      (length(text) - length(regexp_replace(text, "[.,!?;:]", "")))
        .cast("double") / length(text).cast("double"))

  /** Ratio of whitespace-separated tokens that are pure ASCII letters. */
  def alphaTokenRatio(text: Column): Column = score(text, TextScore.AlphaRatio)

  private[graft] val stopwords = Map(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "that", "for"),
    "de" -> Seq("der", "die", "und", "das", "ist", "nicht", "ein", "mit"),
    "fr" -> Seq("le", "la", "et", "les", "des", "est", "une", "dans"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "los", "una"))

  /** One output of the native scoring kernel over the stopword table:
    * the tokens are `split(trim(text), "\\s+")`, stopwords match them
    * lowercased, and blank text scores 0 (see `TextScore`). */
  private def score(text: Column, out: TextScore.Out): Column =
    TextScore.text_score(text, out, stopwords.toSeq)

  /** Fraction of tokens that are stopwords of `lang` — the quality
    * signal ("natural prose has stopwords") and the language-ID score. */
  def stopwordRatio(text: Column, lang: String): Column =
    score(text, TextScore.StopRatio(lang))

  /** Heuristic language ID: argmax of per-language stopword ratios,
    * 'und' (undetermined) when no stopwords hit at all. */
  def langId(text: Column): Column = score(text, TextScore.Lang)

  /** Composite quality score in [0,1]: rewards prose-like length,
    * stopword presence and alpha tokens; penalizes punctuation soup.
    * round((min(chars/500, 1) + min(4 * stopwordRatio(en), 1) +
    * alphaTokenRatio + max(1 - 5 * punctRatio, 0)) / 4, 4). */
  def qualityScore(text: Column): Column = score(text, TextScore.Quality("en"))

  /** Deterministic document fingerprint: polynomial rolling hash of the
    * normalized (lowercased, whitespace-collapsed) text, base 31 mod
    * the prime 1e9+7 — a native codegen'd Expression (the builtin
    * formulation would split the text into one single-char string per
    * character and fold an interpreted aggregate over them). */
  def fingerprint(text: Column): Column =
    graft.functions.expressions.GraftExpressions.poly_hash(
      regexp_replace(lower(trim(text)), "\\s+", " "))

  /** Document scoring: (id, text, lang, quality, n_tokens). Each score
    * is its own native `TextScore` instance that tokenizes the text in
    * one pass, so the plan is one codegen'd projection, and a filter on
    * `lang` that Catalyst pushes below it evaluates only the language
    * ID; unselected scores are pruned and never run. */
  def scoreDocuments(df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val text = col(textCol)
    df.select(col(idCol), text, langId(text).as("lang"),
      qualityScore(text).as("quality"), tokenCount(text).as("n_tokens"))
  }

  // PII patterns kept to the regex subset RE2 (DuckDB) and
  // java.util.regex execute identically: character classes, bounded
  // repetition, no backrefs/lookaround.
  private val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val phoneRe = "\\+[0-9][0-9()./ -]{7,}[0-9]"

  /** Count of email-shaped substrings. */
  def emailCount(text: Column): Column =
    size(regexp_extract_all(text, lit(emailRe), lit(0))).cast("long")

  /** Count of international-phone-shaped substrings (+CC digits). */
  def phoneCount(text: Column): Column =
    size(regexp_extract_all(text, lit(phoneRe), lit(0))).cast("long")

  /** PII scrub for training corpora: emails → `<EMAIL>`, +CC phone
    * runs → `<PHONE>` — a per-row codegen'd regexp_replace pass, the
    * standard redaction step before a corpus ships to training. */
  def redactPii(text: Column): Column =
    regexp_replace(regexp_replace(text, emailRe, "<EMAIL>"),
      phoneRe, "<PHONE>")

  /**
   * TF-IDF document scores: sum over the document's terms of
   * tf · ln(N / df) — the classic corpus-statistics quality/salience
   * signal. Fully distributed: term frequencies aggregate on
   * (doc, term), document frequencies on term (the explode is
   * row-local and runs once per consumer — recomputing a projection
   * scan beats persisting a tokens×corpus blow-up), the corpus size
   * joins in as a broadcast scalar, and the final rollup shuffles doc
   * ids only.
   */
  def tfidf(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = df.select(col(idCol),
      explode(tokensLower(col(textCol))).as("term"))
    val tf = toks.groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = toks.groupBy(col("term"))
      .agg(countDistinct(col(idCol)).as("df"))
    val n = df.agg(count(lit(1)).as("n"))
    tf.join(dfreq, "term").crossJoin(broadcast(n))
      .groupBy(col(idCol))
      .agg(round(sum(col("tf") *
        log(col("n").cast("double") / col("df"))), 4).as("tfidf"))
  }

  /**
   * N-gram language-model quality score — the perplexity-proxy filter
   * of large-corpus pipelines: per document, the mean Laplace-smoothed
   * bigram log-probability `avg ln((c(w1,w2)+1) / (c(w1)+V))` against
   * corpus-wide gram tables. Low scores flag gibberish / boilerplate /
   * wrong-language text without any external model.
   *
   * Scale shape: unigram + bigram counts are two aggregation shuffles
   * over exploded grams; both tables are then cut to a BOUNDED top-K
   * (deterministic order: count desc, gram asc — a TakeOrdered, no
   * global sort) and broadcast, so the scoring pass is explode + two
   * broadcast joins + one final doc-id aggregation. Out-of-table grams
   * back off to count 0 — at 100 TB the table stays K entries no
   * matter the vocabulary; V (distinct-token count) is exact.
   * Only documents with >= 2 tokens appear in the output.
   */
  def lmScore(df: DataFrame, idCol: String, textCol: String,
      minCount: Int = 2, topK: Int = 50000): DataFrame = {
    val nonEmpty = df.filter(trim(col(textCol)) =!= "")
      .select(col(idCol), tokensLower(col(textCol)).as("__ts"))
    val unis = nonEmpty.select(explode(col("__ts")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cu"))
    val vocab = unis.agg(count(lit(1)).as("v"))
    val uniTop = unis.filter(col("cu") >= minCount)
      .orderBy(col("cu").desc, col("w")).limit(topK)
    val pairsOf = (d: DataFrame) => d
      .filter(size(col("__ts")) >= 2)
      .select(col(idCol), col("__ts"), posexplode(slice(col("__ts"), lit(1),
        size(col("__ts")) - 1)).as(Seq("__p", "w1")))
      .withColumn("w2", expr("__ts[__p + 1]"))
      .select(col(idCol), col("w1"), col("w2"))
    // recompute the projection scan per consumer (same call as tfidf:
    // cheaper than persisting a grams-by-corpus blow-up)
    val bigs = pairsOf(nonEmpty).groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("cb"))
      .filter(col("cb") >= minCount)
      .orderBy(col("cb").desc, col("w1"), col("w2")).limit(topK)
    pairsOf(nonEmpty)
      .join(broadcast(bigs), Seq("w1", "w2"), "left")
      .join(broadcast(uniTop), col("w1") === uniTop("w"), "left")
      .crossJoin(broadcast(vocab))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg(log((coalesce(col("cb"), lit(0L)) + lit(1.0)) /
          (coalesce(col("cu"), lit(0L)) + col("v")))), 4).as("lm_score"))
  }

  /**
   * BM25 relevance of every document against a fixed query term set
   * (Robertson–Spärck Jones weighting in the Lucene `ln(1 + …)` form,
   * so scores stay positive) — the lexical-retrieval side of a
   * training-data pipeline: sourcing topical documents, building
   * retrieval-eval sets, hard-negative mining against a query log.
   *
   * score(d) = Σ_{t∈Q} ln(1 + (N − df + 0.5)/(df + 0.5))
   *              · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
   *
   * Scale shape (100 TB): the corpus pass filters each token array to
   * the query set BEFORE exploding — only query-term hits (a sliver
   * of the corpus) enter the (doc, term) aggregation shuffle. The
   * per-term document frequencies (|Q| rows) and the (N, avgdl)
   * scalars are tiny broadcast frames. Output is one row per document
   * with ≥ 1 hit; a top-k presentation is a TakeOrdered over this
   * frame, never a global sort.
   */
  def bm25(df: DataFrame, idCol: String, textCol: String,
      query: Seq[String], k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(query.nonEmpty, "bm25: empty query")
    val base = df.select(col(idCol), tokensLower(col(textCol)).as("__ts"))
      .select(col(idCol), col("__ts"),
        size(col("__ts")).cast("double").as("__dl"))
    val stats = base.agg(count(lit(1)).as("__nn"),
      avg(col("__dl")).as("__avgdl"))
    val hits = base.select(col(idCol), col("__dl"),
      explode(F.filter(col("__ts"), t => t.isin(query: _*))).as("term"))
    val tf = hits.groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("__tf"), first(col("__dl")).as("__dl"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("__df"))
    val idf = log(lit(1.0) +
      (col("__nn") - col("__df") + 0.5) / (col("__df") + 0.5))
    val tfNorm = (col("__tf") * (k1 + 1.0)) /
      (col("__tf") + lit(k1) *
        (lit(1.0) - b + lit(b) * col("__dl") / col("__avgdl")))
    tf.join(broadcast(dfreq), "term")
      .crossJoin(broadcast(stats))
      .groupBy(col(idCol))
      .agg(round(sum(idf * tfNorm), 4).as("bm25"))
  }

  /** One-stop per-document stats frame. */
  def stats(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(
      col(idCol),
      length(col(textCol)).cast("long").as("n_chars_c"),
      tokenCount(col(textCol)).as("n_tokens"),
      round(punctRatio(col(textCol)), 4).as("punct_ratio"),
      round(stopwordRatio(col(textCol), "en"), 4).as("stopword_ratio_en"))

  /**
   * Intra-document repetition signals in the Gopher/MassiveText style
   * (Rae et al. 2021, §A1.1: "top n-gram character fraction" and
   * "duplicate n-gram character fraction" — the strongest public
   * heuristics for machine-generated / boilerplate text).
   *
   * Complements `CorpusOps.repetitionStats`, which computes the
   * COUNT-based cousins (distinct-token fraction, duplicated-2-gram
   * occurrence fraction, top-token share): the paper's thresholds are
   * stated over CHARACTER mass, which weights long repeated phrases
   * more than short ones, and extend to n = 3, 4.
   *
   * For each n in `ns`, per document:
   *   - `top{n}_frac`: characters covered by the single most frequent
   *     word n-gram (count x gram length) over all n-gram characters;
   *   - `dup{n}_frac`: characters covered by n-grams occurring more
   *     than once, over all n-gram characters.
   *
   * Scale shape: ROW-LOCAL, ZERO exchanges — a document's n-gram
   * histogram needs only that document's tokens, so instead of the
   * explode -> groupBy(doc, gram) shuffle of corpus-scale token
   * traffic, each row sorts its own gram array and folds run lengths
   * with one `aggregate` HOF (count of a gram = length of its run in
   * the sorted array). The plan is a pure projection: filters/limits
   * push below it, and it composes with scoreDocuments in one pass.
   */
  def repetitionSignals(df: DataFrame, idCol: String, textCol: String,
      ns: Seq[Int] = Seq(2, 3, 4)): DataFrame = {
    require(ns.nonEmpty && ns.forall(_ >= 1), s"bad n-gram sizes: $ns")
    // null text folds to the no-grams case (0.0 everywhere), not a
    // null row that comparisons would silently skip
    val staged = df.select(col(idCol),
      tokensLower(coalesce(col(textCol), lit(""))).as("__t"))
    // one native pass over the token array computes every n's signals
    // (codegen CSE folds the per-field struct accesses onto a single
    // evaluation); the HOF formulation below stays as the parity
    // oracle, exercised property-style in CorpusOpsSpec
    val agg = graft.functions.expressions.GramRunStats
      .gram_run_stats(col("__t"), ns)
    val metrics = ns.flatMap { n =>
      Seq(agg.getField(s"top$n").as(s"top${n}_frac"),
        agg.getField(s"dup$n").as(s"dup${n}_frac"))
    }
    staged.select(col(idCol) +: metrics: _*)
  }

  /** Fold over the SORTED n-grams of token-array column `tokCol`:
    * equal grams are adjacent, so one pass recovers every gram's count
    * as a run length. `best` peaks at count*len of the most frequent
    * gram; `dup` adds 2*len when a run reaches 2 and len for each
    * further repeat (= count*len for every gram with count >= 2);
    * `tot` is all occurrence chars. Returns struct(top, dup) —
    * character fractions rounded to 4 decimals, 0.0 on no grams.
    * Rounding is the explicit floor half-up form, not round(): Spark
    * rounds the shortest decimal repr where DuckDB rounds the binary
    * value, and they diverge on .xxxx5 (see timeseries_resample).
    *
    * SUPERSEDED on the hot path by the native
    * [[graft.functions.expressions.GramRunStats]] (one hashed pass vs
    * this fold's per-gram struct allocation + array_sort); kept as the
    * independent parity oracle for that expression's property tests. */
  private[graft] def gramRunStatsHof(tokCol: String, n: Int): Column =
    expr(s"""aggregate(
      array_sort(if(size($tokCol) < $n, array(),
        transform(sequence(1, size($tokCol) - $n + 1),
          i -> array_join(slice($tokCol, i, $n), ' ')))),
      named_struct('prev', cast(null as string), 'run', 0L,
                   'best', 0L, 'dup', 0L, 'tot', 0L),
      (a, x) -> named_struct(
        'prev', x,
        'run', if(x <=> a.prev, a.run + 1L, 1L),
        'best', greatest(a.best,
          if(x <=> a.prev, a.run + 1L, 1L) * length(x)),
        'dup', a.dup + if(x <=> a.prev,
          if(a.run = 1L, 2L, 1L) * length(x), 0L),
        'tot', a.tot + length(x)),
      a -> if(a.tot = 0L, named_struct('top', 0.0D, 'dup', 0.0D),
        named_struct(
          'top', floor(a.best / a.tot * 10000.0D + 0.5D) / 10000.0D,
          'dup', floor(a.dup / a.tot * 10000.0D + 0.5D) / 10000.0D)))""")

  /**
   * The Gopher quality-filter RULESET composed into one keep/drop
   * verdict per document (Rae et al. 2021 §A1.1 structure; thresholds
   * parameterized — defaults tuned to split rather than pass-all).
   * Emits every signal, the verdict, and `fail_reasons` (the failing
   * rule tags in fixed order) so a pipeline can audit WHY a document
   * dropped — the form every production corpus filter takes.
   *
   * Scale shape: row-local projection like `repetitionSignals` — zero
   * exchanges, composes with it and `scoreDocuments` in one pass.
   */
  def gopherFilter(df: DataFrame, idCol: String, textCol: String,
      minTokens: Int = 30, maxTokens: Int = 100000,
      minMeanWordLen: Double = 4.0, maxMeanWordLen: Double = 10.0,
      minDistinctStopwords: Int = 1,
      maxTop2Frac: Double = 0.06, maxDup2Frac: Double = 0.10): DataFrame = {
    val stopEn = stopwords("en")
    // null text must DROP (n_tokens 0 -> tokens_lo), not ride null
    // comparisons past every rule into a keep verdict
    val staged = df.select(col(idCol),
      tokensLower(coalesce(col(textCol), lit(""))).as("__t"))
    val nTokens = size(F.filter(col("__t"), t => length(t) > 0))
      .cast("long").as("n_tokens")
    // explicit floor half-up (cross-engine .xxxx5 parity, see
    // gramRunStats)
    val meanWlen = (floor(
      expr("aggregate(__t, 0L, (a, x) -> a + length(x))") /
        greatest(size(col("__t")).cast("long"), lit(1L)) * 10000.0 + 0.5)
      .cast("long") / 10000.0).as("mean_wlen")
    // array_intersect dedups — distinct stopword count, not occurrences
    val nStop = size(array_intersect(col("__t"),
      array(stopEn.map(lit): _*))).cast("long").as("n_stop")
    val rep = graft.functions.expressions.GramRunStats
      .gram_run_stats(col("__t"), Seq(2))
    val sig = staged.select(col(idCol), nTokens, meanWlen, nStop,
      rep.getField("top2").as("top2_frac"),
      rep.getField("dup2").as("dup2_frac"))
    val rules = Seq(
      (col("n_tokens") < minTokens, "tokens_lo"),
      (col("n_tokens") > maxTokens, "tokens_hi"),
      (col("mean_wlen") < minMeanWordLen, "wordlen_lo"),
      (col("mean_wlen") > maxMeanWordLen, "wordlen_hi"),
      (col("n_stop") < minDistinctStopwords, "stopwords"),
      (col("top2_frac") > maxTop2Frac, "rep_top2"),
      (col("dup2_frac") > maxDup2Frac, "rep_dup2"))
    val reasons = array_join(F.filter(
      array(rules.map { case (c, tag) =>
        when(c, lit(tag)).otherwise(lit(null).cast("string")) }: _*),
      x => x.isNotNull), ",")
    sig.select(col(idCol), col("n_tokens"), col("mean_wlen"),
      col("n_stop"), col("top2_frac"), col("dup2_frac"),
      (reasons === "").as("keep"), reasons.as("fail_reasons"))
  }

  // ---- BPE tokenizer training (see graft.functions.Bpe scaladoc for
  // ---- the bounded-driver-fit scale story) ----

  /** The distributed word histogram every BPE stage starts from:
    * term + corpus count, map-side-combined before the one exchange. */
  private def wordCounts(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(tokensLower(col(textCol))).as("w"))
      .filter(col("w") =!= "")
      .groupBy("w").agg(count(lit(1)).as("c"))

  /** Weighted adjacent-character-pair counts — BPE iteration 0, fully
    * distributed and DuckDB-oracle-comparable. Counting happens on the
    * DEDUPLICATED word histogram, so the char explode touches |vocab|
    * rows, not |corpus| tokens. Top-`k` by (count desc, pair) plans
    * TakeOrderedAndProject — per-partition k-heaps, never a full sort. */
  def bpePairCounts(df: DataFrame, textCol: String, k: Int = 100): DataFrame =
    wordCounts(df, textCol)
      .filter(length(col("w")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))"))
        .as("pair"), col("c"))
      .groupBy("pair").agg(sum("c").as("n"))
      .orderBy(col("n").desc, col("pair"))
      .limit(k)

  /** Learn a BPE merge table from the corpus: the driver collects only
    * the top-`maxWords` histogram rows (TakeOrdered k-heap — bounded,
    * like the k-means fits in `Similarity`) and runs the merge loop on
    * that. `maxWords` trades tail-word fidelity for driver memory; the
    * Zipf head dominates pair counts, so modest bounds converge to the
    * full-corpus table. */
  def bpeLearn(df: DataFrame, textCol: String, maxWords: Int = 65536,
      numMerges: Int = 256, minCount: Long = 2L,
      byteLevel: Boolean = false, endOfWord: Boolean = false)
      : Array[graft.functions.Bpe.Merge] = {
    val hist = wordCounts(df, textCol)
      .orderBy(col("c").desc, col("w"))
      .limit(maxWords)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)))
    graft.functions.Bpe.train(hist.toSeq, numMerges, minCount,
      byteLevel, endOfWord)
  }

  /** Learned merges as a frame: rank, left, right, pair count. */
  def bpeMerges(spark: org.apache.spark.sql.SparkSession,
      merges: Array[graft.functions.Bpe.Merge]): DataFrame = {
    import spark.implicits._
    merges.toSeq.toDF("rank", "left", "right", "n")
  }

  /** Encode every document with a learned table: id + subword tokens.
    * One codegen'd pass (`BpeEncodeWords`), no shuffle, no UDF. Null
    * text encodes like blank text (empty token array) so downstream
    * concat/count algebra never sees a null row. */
  def bpeEncodeDocs(df: DataFrame, idCol: String, textCol: String,
      merges: Array[graft.functions.Bpe.Merge],
      byteLevel: Boolean = false, endOfWord: Boolean = false): DataFrame =
    df.select(col(idCol),
      graft.functions.expressions.BpeEncodeWords
        .bpe_encode(tokensLower(coalesce(col(textCol), lit(""))),
          new graft.functions.Bpe.BpeTable(merges, byteLevel, endOfWord))
        .as("tokens"))

  /** Decode a `tokens` array column back to document text under the
    * same table configuration (boundaries need `endOfWord=true`). */
  def bpeDecodeDocs(df: DataFrame, idCol: String, tokensCol: String,
      merges: Array[graft.functions.Bpe.Merge],
      byteLevel: Boolean = false, endOfWord: Boolean = false): DataFrame =
    df.select(col(idCol),
      graft.functions.expressions.BpeDecodeTokens
        .bpe_decode(col(tokensCol),
          new graft.functions.Bpe.BpeTable(merges, byteLevel, endOfWord))
        .as("text"))
}
