package graft.functions.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{CollationFactory, CollationSupport}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * Native document scoring for the corpus language gate and quality
 * score: one pass over a document's whitespace tokens counts, per
 * language, the tokens that are stopwords, plus the tokens, the
 * pure-ASCII-letter tokens and the sentence punctuation. Each
 * [[TextScore.Out]] is its own expression instance over that pass, so
 * a filter on `lang` never computes `quality`, and the generated code
 * calls the static `TextScore.scan`, so a gate stays inside
 * whole-stage codegen.
 *
 * Replaces builtin compositions whose `filter(tokens, t -> ...)`
 * lambdas Spark runs interpreted (`CodegenFallback`): the language ID
 * alone split every document 8 times by regex and ran 4 interpreted
 * lambdas, and the whole gate fell out of whole-stage codegen. The
 * compositions stay in the test tree as the parity reference
 * (`TextScoreParitySpec`), and the results are bit-identical to them:
 *  - text = `trim(s)`, which strips spaces (0x20) only;
 *  - tokens = `split(text, "\\s+", -1)`: Java's `\s` is exactly
 *    `[ \t\n\x0B\f\r]`, a leading tab yields a leading empty token and
 *    a trailing one a trailing empty token; blank text counts 0;
 *  - stopwords match the tokens of Spark's own `lower(text)`
 *    (`CollationSupport.Lower`, ICU case mappings per
 *    `spark.sql.icu.caseMappings.enabled`); full-ASCII text takes
 *    Spark's ASCII fast path, lowered byte by byte here;
 *  - an alpha token matches `^[A-Za-z]+$` under `find`: Java's `$`
 *    also matches before one final line terminator, so a letter run
 *    followed by a single U+0085, U+2028 or U+2029 counts;
 *  - punctuation counts `[.,!?;:]` over the untrimmed text, over its
 *    length in characters;
 *  - ratios divide doubles in the reference's order, and quality is
 *    rounded with the code Spark generates for `round(double, 4)`;
 *  - null text gives `lang = "und"` and null elsewhere, as the
 *    reference does under ANSI (Spark's default). With ANSI off and
 *    `spark.sql.legacy.sizeOfNull`, the reference read null text as -1
 *    tokens and scored it `lang = "fr"`, quality 0.75; that is not
 *    reproduced.
 * Input is assumed to be valid UTF-8, as every string Spark builds
 * from a Java string is.
 */
case class TextScore(child: Expression, out: TextScore.Out,
    stopwords: Seq[(String, Seq[String])]) extends UnaryExpression {
  import TextScore._

  /** The language whose stopword ratio this output reads, if any. */
  private val ratioLang: Option[String] = out match {
    case StopRatio(l) => Some(l)
    case Quality(l) => Some(l)
    case _ => None
  }
  ratioLang.foreach(l => require(stopwords.exists(_._1 == l),
    s"text score: no stopwords for language '$l'"))

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case s: StringType if s.collationId == CollationFactory.UTF8_BINARY_COLLATION_ID =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_text_score expects a UTF8_BINARY string, got $other")
  }
  override def dataType: DataType = out match {
    case Lang => StringType
    case NTokens => LongType
    case _ => DoubleType
  }
  override def nullable: Boolean = out != Lang && child.nullable
  override def prettyName: String = "graft_text_score"
  // the stopword table would flood every plan line that shows this
  override def stringArgs: Iterator[Any] = Iterator(child, out)

  @transient private lazy val table: Table = Table(stopwords,
    SQLConf.get.getConf(SQLConf.ICU_CASE_MAPPINGS_ENABLED))
  private def needStops: Boolean = out match {
    case NTokens | AlphaRatio => false
    case _ => true
  }
  private def needPunct: Boolean = out.isInstanceOf[Quality]
  @transient private lazy val slot: Int =
    ratioLang.fold(ALPHA)(l => STOP0 + table.index(l))

  override def eval(input: InternalRow): Any = {
    val c = scan(child.eval(input).asInstanceOf[UTF8String], table,
      needStops, needPunct)
    out match {
      case Lang => langOf(c, table)
      case _ if c == null => null
      case NTokens => tokensOf(c)
      case Quality(_) => qualityOf(c, slot)
      case _ => ratioOf(c, slot)
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val in = child.genCode(ctx)
    val tb = ctx.addReferenceObj("textScoreTable", table, classOf[Table].getName)
    val obj = "graft.functions.expressions.TextScore"
    val counts =
      s"$obj.scan(${in.isNull} ? null : ${in.value}, $tb, $needStops, $needPunct)"
    out match {
      case Lang =>
        ev.copy(code = code"""
          ${in.code}
          UTF8String ${ev.value} = $obj.langOf($counts, $tb);""",
          isNull = FalseLiteral)
      case _ =>
        val c = ctx.freshName("counts")
        val value = out match {
          case NTokens => s"$obj.tokensOf($c)"
          case Quality(_) => s"$obj.qualityOf($c, $slot)"
          case _ => s"$obj.ratioOf($c, $slot)"
        }
        ev.copy(code = code"""
          ${in.code}
          int[] $c = $counts;
          boolean ${ev.isNull} = $c == null;
          ${CodeGenerator.javaType(dataType)} ${ev.value} = ${ev.isNull} ?
            ${CodeGenerator.defaultValue(dataType)} : $value;""")
    }
  }

  override protected def withNewChildInternal(newChild: Expression): TextScore =
    copy(child = newChild)
}

object TextScore {
  /** Which value an instance yields. */
  sealed trait Out
  /** The language whose stopword ratio is highest (ties go to the
    * later language code), or "und" when no token is a stopword. */
  case object Lang extends Out
  /** Whitespace token count, 0 for blank text. */
  case object NTokens extends Out
  /** Share of tokens that are ASCII letters only. */
  case object AlphaRatio extends Out
  /** Share of tokens that are stopwords of `lang`. */
  final case class StopRatio(lang: String) extends Out
  /** Composite quality in [0, 1], rounded to 4 places: length, the
    * stopword ratio of `lang`, the alpha ratio and a punctuation
    * penalty, averaged. */
  final case class Quality(lang: String) extends Out

  // layout of the counts array `scan` fills
  final val N = 0      // tokens; 0 marks blank text
  final val ALPHA = 1
  final val PUNCT = 2
  final val CHARS = 3
  final val STOP0 = 4  // one stopword count per language, in table order

  private val UND = UTF8String.fromString("und")

  /** Languages sorted by code, each stopword packed with its byte
    * length into one long key (see `key`), and the bit set of the
    * languages it belongs to. */
  final case class Table(stopwords: Seq[(String, Seq[String])], useICU: Boolean) {
    private val sorted = stopwords.sortWith((a, b) =>
      UTF8String.fromString(a._1).binaryCompare(UTF8String.fromString(b._1)) < 0)
    require(sorted.nonEmpty && sorted.size <= 31 &&
      sorted.map(_._1).distinct.size == sorted.size,
      s"text score: need 1 to 31 distinct languages, got ${stopwords.map(_._1)}")
    val langs: Array[UTF8String] = sorted.map(l => UTF8String.fromString(l._1)).toArray
    def index(lang: String): Int = sorted.indexWhere(_._1 == lang)
    private val masks: Seq[(Long, Int)] = sorted.zipWithIndex
      .flatMap { case ((_, ws), i) => ws.map(w => wordKey(w) -> (1 << i)) }
      .groupMapReduce(_._1)(_._2)(_ | _).toSeq.sortBy(_._1)
    val keys: Array[Long] = masks.map(_._1).toArray
    val langMask: Array[Int] = masks.map(_._2).toArray
    val maxLen: Int = sorted.flatMap(_._2).map(_.getBytes("UTF-8").length).max

    private def wordKey(w: String): Long = {
      val b = w.getBytes("UTF-8")
      require(b.nonEmpty && b.length <= MaxWordBytes,
        s"text score: stopword '$w' must be 1 to $MaxWordBytes UTF-8 bytes")
      var k = 0L
      b.foreach(x => k = (k << 8) | (x & 0xff))
      key(k, b.length)
    }
  }

  private final val MaxWordBytes = 7

  /** A token of `len` <= 7 bytes packed big-endian into `bytes`: the
    * length on top keeps tokens of different lengths apart. */
  @inline private def key(bytes: Long, len: Int): Long =
    (len.toLong << (8 * len)) | bytes

  /** Java's `\s` without UNICODE_CHARACTER_CLASS: `[ \t\n\x0B\f\r]`. */
  @inline private def isSpace(b: Byte): Boolean = b == ' ' || (b >= 9 && b <= 13)

  @inline private def isLetter(b: Byte): Boolean =
    (b >= 'a' && b <= 'z') || (b >= 'A' && b <= 'Z')

  /** Counts of one document, laid out as N, ALPHA, PUNCT, CHARS, then
    * one stopword count per language; null for null text. `stops` and
    * `punct` skip work the caller's output does not read. */
  def scan(s: UTF8String, table: Table, stops: Boolean,
      punct: Boolean): Array[Int] = {
    if (s == null) return null
    val c = new Array[Int](STOP0 + table.langs.length)
    if (punct) {
      c(CHARS) = s.numChars()
      var i = 0
      var p = 0
      while (i < s.numBytes()) {
        val b = s.getByte(i)
        if (b == '.' || b == ',' || b == '!' || b == '?' || b == ';' || b == ':') p += 1
        i += 1
      }
      c(PUNCT) = p
    }
    val t = s.trim()
    if (t.numBytes() == 0) return c
    if (t.isFullAscii()) {
      // Spark lowers full-ASCII text byte by byte: one pass serves both
      tokens(t, if (stops) table else null, c, countTokens = true)
    } else {
      tokens(t, null, c, countTokens = true)
      if (stops) tokens(CollationSupport.Lower.exec(t,
        CollationFactory.UTF8_BINARY_COLLATION_ID, table.useICU), table, c,
        countTokens = false)
    }
    c
  }

  /** One pass over the `\s+`-separated tokens of `t` (non-empty, not
    * starting or ending with a space): counts tokens and alpha tokens
    * when `countTokens`, and stopwords of the ASCII-lowered tokens when
    * `table` is given. */
  private def tokens(t: UTF8String, table: Table, c: Array[Int],
      countTokens: Boolean): Unit = {
    val len = t.numBytes()
    var n = 0
    var alpha = 0
    var i = 0
    var more = true
    while (more) {
      val start = i
      var letters = 0      // leading ASCII letters
      var allLetters = true
      var k = 0L
      while (i < len && !isSpace(t.getByte(i))) {
        val b = t.getByte(i)
        if (allLetters) { if (isLetter(b)) letters += 1 else allLetters = false }
        k = (k << 8) | ((if (b >= 'A' && b <= 'Z') b + 32 else b) & 0xff)
        i += 1
      }
      val tl = i - start
      n += 1
      if (letters > 0 && (letters == tl || endsInTerminator(t, start + letters, i)))
        alpha += 1
      if (table != null && tl > 0 && tl <= table.maxLen) {
        val at = java.util.Arrays.binarySearch(table.keys, key(k, tl))
        if (at >= 0) {
          var m = table.langMask(at)
          var l = 0
          while (m != 0) {
            if ((m & 1) != 0) c(STOP0 + l) += 1
            m >>>= 1
            l += 1
          }
        }
      }
      if (i == len) more = false
      else while (i < len && isSpace(t.getByte(i))) i += 1
    }
    if (countTokens) { c(N) = n; c(ALPHA) = alpha }
  }

  /** Whether bytes [from, to) of `t` are exactly one of the line
    * terminators `$` may precede that a token can hold: U+0085,
    * U+2028, U+2029. */
  private def endsInTerminator(t: UTF8String, from: Int, to: Int): Boolean =
    (to - from == 2 && (t.getByte(from) & 0xff) == 0xc2 &&
      (t.getByte(from + 1) & 0xff) == 0x85) ||
    (to - from == 3 && (t.getByte(from) & 0xff) == 0xe2 &&
      (t.getByte(from + 1) & 0xff) == 0x80 &&
      ((t.getByte(from + 2) & 0xff) == 0xa8 || (t.getByte(from + 2) & 0xff) == 0xa9))

  /** Count in `slot` over the tokens; 0.0 for blank text. */
  def ratioOf(c: Array[Int], slot: Int): Double =
    if (c(N) == 0) 0.0 else c(slot).toDouble / c(N).toDouble

  def tokensOf(c: Array[Int]): Long = c(N).toLong

  def langOf(c: Array[Int], table: Table): UTF8String = {
    if (c == null) return UND
    // array_max over struct(ratio, lang): the ratio decides, then the
    // larger code, so scanning codes in order keeps the last maximum
    var best = 0
    var bestRatio = ratioOf(c, STOP0)
    var l = 1
    while (l < table.langs.length) {
      val r = ratioOf(c, STOP0 + l)
      if (r >= bestRatio) { best = l; bestRatio = r }
      l += 1
    }
    if (bestRatio > 0) table.langs(best) else UND
  }

  def qualityOf(c: Array[Int], stopSlot: Int): Double = {
    val lenScore = math.min(c(CHARS).toDouble / 500.0, 1.0)
    val stopScore = math.min(ratioOf(c, stopSlot) * 4.0, 1.0)
    val alphaScore = ratioOf(c, ALPHA)
    val punctRatio =
      if (c(CHARS) == 0) 0.0 else c(PUNCT).toDouble / c(CHARS).toDouble
    val punctPenalty = math.max(1.0 - punctRatio * 5.0, 0.0)
    val v = (lenScore + stopScore + alphaScore + punctPenalty) / 4.0
    // the code Spark generates for round(double, 4)
    if (v.isNaN || v.isInfinite) v
    else java.math.BigDecimal.valueOf(v)
      .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()
  }

  /** Column helper: one output of the kernel over `text`, with
    * `stopwords` as (language code, words) pairs. */
  def text_score(text: Column, out: Out,
      stopwords: Seq[(String, Seq[String])]): Column =
    ColumnBridge.column(TextScore(ColumnBridge.expression(text), out, stopwords))
}
