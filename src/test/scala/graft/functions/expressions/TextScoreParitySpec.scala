package graft.functions.expressions

import java.lang.Double.doubleToRawLongBits

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.pipeline.{TextAnalysis, TextScoreReference}

/** The native TextScore kernel must be BIT-identical to the builtin
  * compositions it replaced (kept in the test tree as
  * `TextScoreReference`): same trim, same Java `\s` split with its
  * leading empty token, Spark's own lowercasing, Java `$` before a
  * final line terminator, the same double arithmetic order and Spark's
  * round(_, 4). Doubles compare as raw bits, nulls as nulls. */
class TextScoreParitySpec extends SparkSpec {
  import spark.implicits._

  private val langs = TextAnalysis.stopwords.keys.toSeq.sorted

  /** Seeded documents in the style of the benchmark corpus (stopword
    * prose over a random vocabulary) with the noise a crawl carries:
    * mixed case, punctuation, tabs and newlines, non-ASCII words. */
  private def corpus(seed: Long, n: Int): Seq[String] = {
    val r = new java.util.SplittableRandom(seed)
    val stop = TextAnalysis.stopwords.values.flatten.toArray
    val vocab = Array.fill(500) {
      new String(Array.fill(1 + r.nextInt(9))(('a' + r.nextInt(26)).toChar))
    }
    val odd = Array("été", "Straße", "中文", "naïve", "123", "4.5", "...",
      "!?", "e-mail", "don't", "Kelvin", "İ", "𝒰nicode", "🜚",
      "abc ", "x\u0085", "ünd", "THE", "Und", "La")
    val seps = Array(" ", " ", " ", " ", "  ", "\t", "\n", " \r\n ",
      " ", "\u000B")
    Seq.fill(n) {
      val words = Seq.fill(r.nextInt(60)) {
        val w = r.nextInt(100) match {
          case x if x < 30 => stop(r.nextInt(stop.length))
          case x if x < 40 => odd(r.nextInt(odd.length))
          case _ => vocab(r.nextInt(vocab.length))
        }
        val cased = if (r.nextInt(10) == 0) w.toUpperCase else w
        if (r.nextInt(8) == 0) cased + ".,!?;:".charAt(r.nextInt(6)) else cased
      }
      val body = words.map(_ + seps(r.nextInt(seps.length))).mkString
      (if (r.nextInt(10) == 0) "\t" else if (r.nextInt(10) == 0) "  " else "") +
        body
    }
  }

  private val adversarial: Seq[String] = Seq(
    null, "", " ", "   ",
    "\tthe cat", "the cat\t", "\t", " \t ", "\t\t", "\u000Bthe and",
    "the\u000Band", "\fthe\r", "the\r\nand",
    "the and of", " the", "the\u0085 and", "the\u0085",
    "abc ", "abc  the", "abc  and", "abc\u0085\u0085 of",
    " ", "a b", "\u0085abc",
    "THE AND OF", "The Cat And The Dog", "K", "the Kelvin",
    "İstanbul is the", "DİE und DAS", "ΣΑΣ the ΌΣΟΣ",
    ".,!?;:", "... !!! ???", "the. and, of!",
    "𝒰nicode the 🜚 and", "🜚🜚 🜚", "\uD800 the",
    "der the", "la", "la el le", "de", "y", "en", "und",
    "der die und das ist nicht ein mit the",
    "x" * 600, "the " * 200,
    ("the cat and dog " * 25000).trim)

  private lazy val texts: Seq[String] = corpus(20240917L, 1500) ++ adversarial

  private lazy val frame: DataFrame =
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")

  /** (name, native, reference) for every score. */
  private def pairs(t: Column): Seq[(String, Column, Column)] = Seq(
    ("lang", TextAnalysis.langId(t), TextScoreReference.langId(t)),
    ("quality", TextAnalysis.qualityScore(t), TextScoreReference.qualityScore(t)),
    ("n_tokens", TextAnalysis.tokenCount(t), TextScoreReference.tokenCount(t)),
    ("alpha", TextAnalysis.alphaTokenRatio(t),
      TextScoreReference.alphaTokenRatio(t))) ++
    langs.map(l => (s"stop_$l", TextAnalysis.stopwordRatio(t, l),
      TextScoreReference.stopwordRatio(t, l)))

  private def same(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Double, y: Double) => doubleToRawLongBits(x) == doubleToRawLongBits(y)
    case _ => a == b
  }

  /** The frame as an RDD scan: a local relation would be folded by
    * the optimizer through interpreted evaluation. */
  private def rddFrame(s: SparkSession): DataFrame =
    s.createDataFrame(frame.rdd, frame.schema)

  private val scoreNames = pairs(col("text")).map(_._1)

  /** Per id: the native scores and the reference scores. */
  private def scoreRows(df: DataFrame): Seq[(Long, Row, Row)] = {
    val ps = pairs(col("text"))
    df.select(col("id") +: ps.flatMap(p => Seq(p._2, p._3)): _*)
      .collect().sortBy(_.getLong(0)).toSeq.map(r => (r.getLong(0),
        Row.fromSeq(ps.indices.map(j => r.get(1 + 2 * j))),
        Row.fromSeq(ps.indices.map(j => r.get(2 + 2 * j)))))
  }

  private def assertRowsEqual(what: String, rows: Seq[(Long, Row, Row)],
      names: Seq[String] = scoreNames): Unit = {
    val bad = rows.iterator.flatMap { case (id, got, want) =>
      names.indices.collect {
        case j if !same(got.get(j), want.get(j)) =>
          val shown = Option(texts(id.toInt)).map(_.take(60)).orNull
          s"${names(j)} id=$id text=$shown native=${got.get(j)} " +
            s"reference=${want.get(j)}"
      }
    }.take(10).toSeq
    assert(bad.isEmpty, s"$what:\n${bad.mkString("\n")}")
    assert(rows.nonEmpty, what)
  }

  private def withSession(confs: (String, String)*)(f: SparkSession => Unit): Unit = {
    val s = spark.newSession()
    confs.foreach { case (k, v) => s.conf.set(k, v) }
    f(s)
  }

  test("every score matches the reference bit for bit, compiled") {
    // no silent fallback: a generated-code compile error must fail here
    withSession("spark.sql.codegen.fallback" -> "false",
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY") { s =>
      assertRowsEqual("codegen", scoreRows(rddFrame(s)))
    }
  }

  test("every score matches the reference bit for bit, interpreted") {
    withSession("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") { s =>
      assertRowsEqual("interpreted", scoreRows(rddFrame(s)))
    }
  }

  test("scoreDocuments matches the token-staged reference bit for bit") {
    def scored(f: (DataFrame, String, String) => DataFrame) =
      f(rddFrame(spark), "id", "text").select("id", "lang", "quality", "n_tokens")
        .collect().sortBy(_.getLong(0)).toSeq
    val got = scored(TextAnalysis.scoreDocuments)
    val want = scored(TextScoreReference.scoreDocuments)
    assert(got.map(_.getLong(0)) == want.map(_.getLong(0)))
    assertRowsEqual("scoreDocuments", got.zip(want).map { case (g, w) =>
      (g.getLong(0), Row(g.get(1), g.get(2), g.get(3)),
        Row(w.get(1), w.get(2), w.get(3))) },
      Seq("lang", "quality", "n_tokens"))
  }

  test("the language gate has no lambda and filters inside whole-stage " +
      "codegen, computing the language ID only") {
    val dir = java.nio.file.Files.createTempDirectory("text_gate").toFile
    val path = new java.io.File(dir, "docs.parquet").getPath
    try {
      frame.filter(col("text").isNotNull && length(col("text")) < 2000)
        .write.parquet(path)
      val gated = TextAnalysis.scoreDocuments(spark.read.parquet(path), "id", "text")
        .filter(col("lang") === "en")
      val plan = gated.queryExecution.executedPlan.toString
      assert(!plan.toLowerCase.contains("lambdafunction"), plan)
      assert("""\*\(\d+\) Filter""".r.findFirstIn(plan).isDefined, plan)
      val pruned = gated.select("id", "text").queryExecution.executedPlan.toString
      assert(!pruned.contains("Quality") && !pruned.contains("NTokens"), pruned)
      assert(gated.count() > 0)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir)
  }
}
