package graftbench

import java.nio.{ByteBuffer, ByteOrder}

/** Checks that live outside the engine: plain Scala over the generated
  * inputs. Each returns None when the output is right, or Some(reason). */
object Oracle {

  private val Num = """-?\d+(?:\.\d+)?(?:[eE][-+]?\d+)?""".r

  /** Every number in a rendered cell ("12", "3.0", "ArraySeq(1.0, 2.0)"). */
  def numbers(cell: String): Seq[Double] =
    Num.findAllIn(cell).map(_.toDouble).toSeq

  def close(a: Double, b: Double): Boolean =
    math.abs(a - b) <= 1e-9 * math.max(1.0, math.max(math.abs(a), math.abs(b)))

  def closeAll(a: Seq[Double], b: Seq[Double]): Boolean =
    a.size == b.size && a.zip(b).forall { case (x, y) => close(x, y) }

  /** A keyed grid: every row's key must be expected and its value match;
    * the row count must be `rows`. */
  def keyedGrid(g: Resp.Grid, keyCol: String, valCol: String, rows: Int,
      expected: Long => Option[Seq[Double]]): Option[String] = {
    val ki = g.col(keyCol)
    val vi = g.col(valCol)
    if (ki < 0 || vi < 0) Some(s"grid lacks $keyCol/$valCol: ${g.keys}")
    else if (g.rows.size != rows) Some(s"grid has ${g.rows.size} rows, want $rows")
    else g.rows.iterator.map { r =>
      val key = numbers(r(ki)).headOption.map(_.toLong).getOrElse(-1L)
      expected(key) match {
        case None => Some(s"unexpected key $key")
        case Some(want) =>
          val got = numbers(r(vi))
          if (closeAll(got, want)) None else Some(s"key $key: got $got want $want")
      }
    }.collectFirst { case Some(e) => e }
  }

  /** Sums of many doubles: equal up to summation order. */
  def approx(x: Double, y: Double): Boolean =
    math.abs(x - y) <= 1e-6 * math.max(1.0, math.abs(y))

  /** An oph_exportnc result: the reported row count and the file's
    * (key, value) rows must both match the oracle's per-key values. */
  def export(message: String, vars: Map[String, Array[Double]],
      measure: String, want: Map[Long, Double]): Option[String] = {
    val keys = vars.getOrElse("l_suppkey", Array.empty[Double])
    val vals = vars.getOrElse(measure, Array.empty[Double])
    if (!message.contains(s"exported ${want.size} rows"))
      Some(s"export said '$message', want ${want.size} rows")
    else if (keys.length != want.size || vals.length != keys.length ||
        !keys.indices.forall(i => want.get(keys(i).toLong).exists(approx(vals(i), _))))
      Some(s"exported file differs from the oracle (${keys.length} rows)")
    else None
  }

  private val Summary = """total rows: (\d+); displayed: (\d+)""".r.unanchored

  def summary(text: String, total: Long, shown: Long): Option[String] =
    text match {
      case Summary(t, d) if t.toLong == total && d.toLong == shown => None
      case _ => Some(s"summary '$text', want total $total displayed $shown")
    }

  // ------------------------------------------------------ NetCDF-3 read

  /** Variables of a NetCDF-3 classic file (CDF-1/CDF-2, fixed-size
    * dimensions only) as double arrays, read without the engine. */
  def readNc(path: java.nio.file.Path): Map[String, Array[Double]] = {
    val bytes = java.nio.file.Files.readAllBytes(path)
    val b = ByteBuffer.wrap(bytes).order(ByteOrder.BIG_ENDIAN)
    require(bytes.length > 4 && bytes(0) == 'C' && bytes(1) == 'D' &&
      bytes(2) == 'F', s"$path is not NetCDF classic")
    val version = bytes(3).toInt
    b.position(4)
    b.getInt() // numrecs
    def name(): String = {
      val n = b.getInt()
      val s = new String(bytes, b.position(), n, "UTF-8")
      b.position(b.position() + ((n + 3) & ~3))
      s
    }
    def typeSize(t: Int): Int = t match {
      case 1 | 2 => 1; case 3 => 2; case 4 | 5 => 4; case 6 => 8
      case other => throw new IllegalArgumentException(s"nc type $other")
    }
    def skipAtts(): Unit = {
      val tag = b.getInt(); val n = b.getInt()
      require(tag == 0 || tag == 0x0C, s"bad attribute tag $tag")
      (0 until n).foreach { _ =>
        name()
        val t = b.getInt(); val cnt = b.getInt()
        b.position(b.position() + ((cnt * typeSize(t) + 3) & ~3))
      }
    }
    val dimTag = b.getInt(); val nDims = b.getInt()
    require(dimTag == 0 || dimTag == 0x0A, s"bad dim tag $dimTag")
    val dimLen = (0 until nDims).map { _ => name(); b.getInt() }
    require(!dimLen.contains(0), "record dimensions are not supported")
    skipAtts()
    val varTag = b.getInt(); val nVars = b.getInt()
    require(varTag == 0 || varTag == 0x0B, s"bad var tag $varTag")
    (0 until nVars).map { _ =>
      val n = name()
      val dims = (0 until b.getInt()).map(_ => b.getInt())
      skipAtts()
      val t = b.getInt()
      b.getInt() // vsize
      val begin = if (version == 2) b.getLong() else b.getInt().toLong
      require(t == 6, s"variable $n: only doubles are read")
      val count = dims.map(dimLen).product
      val vb = ByteBuffer.wrap(bytes, begin.toInt, count * 8)
        .order(ByteOrder.BIG_ENDIAN)
      n -> Array.fill(count)(vb.getDouble())
    }.toMap
  }

  // ------------------------------------------------------------ dedup

  /** Character k-shingle set Jaccard, computed on the strings. */
  def shingles(s: String, k: Int): Set[String] =
    if (s.length <= k) Set(s)
    else (0 to s.length - k).map(i => s.substring(i, i + k)).toSet

  def jaccard(sa: Set[String], sb: Set[String]): Double = {
    val inter = sa.count(sb.contains)
    inter.toDouble / (sa.size + sb.size - inter)
  }

  /** Union-find over `vertices`; `find` gives a component's min vertex. */
  final class UnionFind(vertices: Seq[Long]) {
    private val parent = scala.collection.mutable.HashMap[Long, Long]()
    vertices.foreach(v => parent(v) = v)
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    def union(a: Long, b: Long): Unit = {
      val ra = find(a); val rb = find(b)
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
  }

  /** Components of `vertices` under `pairs`, as vertex -> min vertex. */
  def components(vertices: Seq[Long], pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val uf = new UnionFind(vertices)
    pairs.foreach { case (a, b) => uf.union(a, b) }
    vertices.map(v => v -> uf.find(v)).toMap
  }

  /** A dedup pass output: the candidate pairs it kept, and the
    * component label of every document the language gate kept. */
  final case class DedupOut(pairs: Seq[(Long, Long)], labels: Map[Long, Long]) {
    def representatives: Set[Long] = labels.groupBy(_._2).map(_._2.keys.min).toSet
  }

  /** Planted-cluster pairs whose true Jaccard is at least this are
    * "clearly" near-duplicates: 8x8 MinHash-LSH misses such a pair about
    * 1% of the time, and a whole cluster's link almost never. */
  val Strong = 0.9

  /** Full check of a pass against the planted corpus: the gate keeps
    * exactly the English documents; every pair is a true near-duplicate
    * (Jaccard >= tau) inside one planted cluster; the component labels
    * are exactly the union-find components of those pairs (precision);
    * and documents of one planted cluster joined by pairs of Jaccard
    * >= `Strong` share one component (recall). */
  def dedup(c: Data.Corpus, out: DedupOut, k: Int, tau: Double): Option[String] = {
    val english = c.english.indices.filter(c.english(_)).map(_.toLong)
    if (out.labels.keySet != english.toSet)
      return Some(s"gate kept ${out.labels.size} docs, want ${english.size}")
    val sets = scala.collection.mutable.HashMap[Long, Set[String]]()
    def sh(i: Long) = sets.getOrElseUpdate(i, shingles(c.texts(i.toInt), k))
    out.pairs.iterator.map { case (a, b) =>
      if (c.cluster(a.toInt) < 0 || c.cluster(a.toInt) != c.cluster(b.toInt))
        Some(s"pair ($a,$b) crosses planted clusters")
      else if (jaccard(sh(a), sh(b)) < tau - 1e-12)
        Some(s"pair ($a,$b) below tau")
      else None
    }.collectFirst { case Some(e) => e }.orElse {
      val want = components(english, out.pairs)
      if (want != out.labels) {
        val bad = out.labels.find { case (v, l) => want(v) != l }
        Some(s"component labels differ from union-find, e.g. $bad")
      } else None
    }.orElse {
      // components of the strong-pair graph; a pair already joined needs
      // no Jaccard, so a dense cluster costs about one per member
      val clustered = english.filter(v => c.cluster(v.toInt) >= 0)
      val strong = new UnionFind(clustered)
      clustered.groupBy(v => c.cluster(v.toInt)).values.foreach { vs =>
        for ((a, i) <- vs.zipWithIndex; b <- vs.drop(i + 1))
          if (strong.find(a) != strong.find(b) && jaccard(sh(a), sh(b)) >= Strong)
            strong.union(a, b)
      }
      clustered.groupBy(strong.find).values
        .find(m => m.map(out.labels).toSet.size > 1)
        .map(m => s"near-duplicates ${m.sorted.take(5)} split over " +
          s"${m.map(out.labels).toSet.size} components")
    }
  }
}
