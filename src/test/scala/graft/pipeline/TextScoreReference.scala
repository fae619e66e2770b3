package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{functions => F}

/** The builtin compositions `TextAnalysis` scored documents with before
  * the native `TextScore` kernel: the parity reference for
  * `TextScoreParitySpec`. Their `filter(tokens, t -> ...)` lambdas run
  * interpreted (`CodegenFallback`), and `langId` splits every document
  * once per language, so they are kept here only to pin the kernel's
  * results. */
object TextScoreReference {
  import TextAnalysis.{punctRatio, stopwords, tokensLower}

  def tokenCount(text: Column): Column =
    when(trim(text) === "", 0)
      .otherwise(size(split(trim(text), "\\s+"))).cast("long")

  def alphaTokenRatio(text: Column): Column = {
    val toks = split(trim(text), "\\s+")
    when(trim(text) === "", lit(0.0)).otherwise(
      size(F.filter(toks, t => t.rlike("^[A-Za-z]+$"))).cast("double") /
        size(toks).cast("double"))
  }

  def stopwordRatio(text: Column, lang: String): Column = {
    val words = stopwords(lang)
    val toks = tokensLower(text)
    when(trim(text) === "", lit(0.0)).otherwise(
      size(F.filter(toks, t => t.isin(words: _*))).cast("double") /
        size(toks).cast("double"))
  }

  def langId(text: Column): Column = {
    val scores = stopwords.keys.toSeq.sorted.map(l =>
      struct(stopwordRatio(text, l).as("s"), lit(l).as("l")))
    val best = array_max(array(scores: _*))
    when(best.getField("s") > 0, best.getField("l")).otherwise("und")
  }

  def qualityScore(text: Column): Column = {
    val lenScore = least(length(text).cast("double") / 500.0, lit(1.0))
    val stopScore = least(stopwordRatio(text, "en") * 4.0, lit(1.0))
    val alphaScore = alphaTokenRatio(text)
    val punctPenalty = greatest(lit(1.0) - punctRatio(text) * 5.0, lit(0.0))
    round((lenScore + stopScore + alphaScore + punctPenalty) / 4.0, 4)
  }

  /** The token-staged `scoreDocuments`: token arrays computed once as
    * columns and every ratio derived from the attribute. */
  def scoreDocuments(df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val text = col(textCol)
    val staged = df.select(col(idCol), text,
      split(trim(text), "\\s+").as("__tk"),
      tokensLower(text).as("__tkl"))
    val n = size(col("__tk")).cast("double")
    val empty = trim(text) === ""
    def ratio(lang: String): Column = {
      val words = stopwords(lang)
      when(empty, lit(0.0)).otherwise(
        size(F.filter(col("__tkl"), t => t.isin(words: _*))) / n)
    }
    val scores = stopwords.keys.toSeq.sorted.map(l =>
      struct(ratio(l).as("s"), lit(l).as("l")))
    val best = array_max(array(scores: _*))
    val lang = when(best.getField("s") > 0, best.getField("l"))
      .otherwise("und")
    val lenScore = least(length(text).cast("double") / 500.0, lit(1.0))
    val stopScore = least(ratio("en") * 4.0, lit(1.0))
    val alphaScore = when(empty, lit(0.0)).otherwise(
      size(F.filter(col("__tk"), t => t.rlike("^[A-Za-z]+$"))) / n)
    val punctPenalty = greatest(lit(1.0) - punctRatio(text) * 5.0, lit(0.0))
    val quality = round(
      (lenScore + stopScore + alphaScore + punctPenalty) / 4.0, 4)
    staged.select(col(idCol), text,
      lang.as("lang"), quality.as("quality"),
      when(empty, 0L).otherwise(size(col("__tk")).cast("long"))
        .as("n_tokens"))
  }
}
