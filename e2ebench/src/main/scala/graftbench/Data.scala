package graftbench

import java.util.SplittableRandom

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seed-generated inputs. Every value is a pure function of (seed, key),
  * so Spark writes the files from the same formula the oracle reads
  * back in plain Scala. */
object Data {

  /** One TPC-H-shaped lineitem row (the columns the workflows touch). */
  final case class Line(orderkey: Long, suppkey: Int, linenumber: Int,
      quantity: Double, extendedprice: Double)

  /** Lines of order `ok` (1 to 7 lines, about 4 on average, so scale
    * factor 0.1 gives 150,000 orders and about 600,000 rows). */
  def orderLines(seed: Long, ok: Long, nSupp: Int): Seq[Line] = {
    val r = new SplittableRandom(seed * 1000003L + ok)
    val n = 1 + r.nextInt(7)
    (1 to n).map { ln =>
      val q = (1 + r.nextInt(50)).toDouble
      val part = 1 + r.nextInt(20000)
      val price = q * (900 + part % 1000) / 100.0
      Line(ok, 1 + r.nextInt(nSupp), ln, q, price)
    }
  }

  final case class Lineitem(sf: Double, seed: Long) {
    val nOrders: Int = math.round(150000 * sf).toInt
    val nSupp: Int = math.max(10, math.round(10000 * sf).toInt)
    lazy val lines: Array[Line] =
      (1L to nOrders).iterator.flatMap(ok => orderLines(seed, ok, nSupp)).toArray
  }

  val lineitemSchema: StructType = StructType(Seq(
    StructField("l_orderkey", LongType, nullable = false),
    StructField("l_suppkey", IntegerType, nullable = false),
    StructField("l_linenumber", IntegerType, nullable = false),
    StructField("l_quantity", DoubleType, nullable = false),
    StructField("l_extendedprice", DoubleType, nullable = false)))

  /** Write the table as parquet; Spark regenerates each order's lines
    * on the executors from the same formula. */
  def writeLineitemParquet(spark: SparkSession, li: Lineitem,
      path: String): Unit = {
    val seed = li.seed
    val nSupp = li.nSupp
    val par = spark.sparkContext.defaultParallelism
    val rows = spark.sparkContext.range(1L, li.nOrders + 1L, 1L, par)
      .flatMap(ok => orderLines(seed, ok, nSupp).map(l =>
        Row(l.orderkey, l.suppkey, l.linenumber, l.quantity, l.extendedprice)))
    spark.createDataFrame(rows, lineitemSchema).write.parquet(path)
  }

  /** NetCDF-3 classic copy of the table: a `row` dimension with one
    * double variable per column (the layout oph_exportnc writes). */
  def writeLineitemNc(li: Lineitem, path: String): Unit = {
    import graft.sources.NetCDF3
    val ls = li.lines
    def col(f: Line => Double) = ls.map(f)
    NetCDF3.write(path, Seq(NetCDF3.Dim("row", ls.length)), Seq(
      ("l_orderkey", Seq(0), col(_.orderkey.toDouble)),
      ("l_suppkey", Seq(0), col(_.suppkey.toDouble)),
      ("l_linenumber", Seq(0), col(_.linenumber.toDouble)),
      ("l_quantity", Seq(0), col(_.quantity)),
      ("l_extendedprice", Seq(0), col(_.extendedprice))))
  }

  // ------------------------------------------------------------ corpus

  /** A generated corpus with its planted near-duplicate structure.
    * `cluster(i)` is the planted cluster of document i (-1 = none);
    * `english(i)` is false for the documents the language gate drops. */
  final case class Corpus(texts: Array[String], cluster: Array[Int],
      english: Array[Boolean], exactDups: Int, largestCluster: Int) {
    def size: Int = texts.length
    def clusteredShare: Double = cluster.count(_ >= 0).toDouble / size
  }

  private val enStop = Array("the", "and", "of", "to", "in", "is", "that", "for")
  private val deStop = Array("der", "die", "und", "das", "ist", "nicht", "ein", "mit")

  /** `n` documents of about 100 words. About 30% sit in planted
    * clusters whose sizes are heavy-tailed (one cluster holds 1% of the
    * corpus); about 5% of the corpus are exact copies of a cluster's
    * base, the other members differ from it in one word. About 4% of
    * the documents are German and fall to the language gate. */
  def corpus(seed: Long, n: Int): Corpus = {
    val r = new SplittableRandom(seed ^ 0x5DEECE66DL)
    val vocab = Array.fill(4000) {
      val len = 3 + r.nextInt(7)
      new String(Array.fill(len)(('a' + r.nextInt(26)).toChar))
    }
    def doc(stop: Array[String]): Array[String] = Array.fill(90 + r.nextInt(21)) {
      if (r.nextInt(100) < 35) stop(r.nextInt(stop.length))
      else vocab(r.nextInt(vocab.length))
    }
    val texts = new Array[String](n)
    val cluster = Array.fill(n)(-1)
    val english = Array.fill(n)(true)
    // planted cluster sizes: one at 1% of the corpus, the rest drawn
    // from a Pareto tail (2 .. 60) until 30% of the corpus is covered
    val sizes = scala.collection.mutable.ArrayBuffer(math.max(3, n / 100))
    var covered = sizes.head
    while (covered < n * 3 / 10) {
      val s = math.min(60, math.max(2,
        (2.0 / math.pow(1.0 - r.nextDouble(), 1.0 / 1.3)).toInt))
      sizes += s
      covered += s
    }
    val exactBudget = n / 20
    var exact = 0
    var next = 0
    sizes.zipWithIndex.foreach { case (s, cid) =>
      val base = doc(enStop)
      (0 until s).foreach { m =>
        val words =
          if (m == 0) base
          else if (exact < exactBudget && m % 2 == 1) { exact += 1; base }
          else {
            val w = base.clone()
            w(r.nextInt(w.length)) = vocab(r.nextInt(vocab.length)) + "x"
            w
          }
        texts(next) = words.mkString(" ")
        cluster(next) = cid
        next += 1
      }
    }
    while (next < n) {
      val de = r.nextInt(100) < 4
      texts(next) = doc(if (de) deStop else enStop).mkString(" ")
      english(next) = !de
      next += 1
    }
    // shuffle positions so clusters are not id-contiguous
    val perm = (0 until n).toArray
    var i = n - 1
    while (i > 0) {
      val j = r.nextInt(i + 1)
      val t = perm(i); perm(i) = perm(j); perm(j) = t
      i -= 1
    }
    Corpus(perm.map(texts), perm.map(cluster), perm.map(english), exact,
      sizes.head)
  }
}
