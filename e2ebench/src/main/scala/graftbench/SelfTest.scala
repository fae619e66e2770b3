package graftbench

/** Proves the oracle catches wrong outputs: a corrupted explorecube
  * grid, a wrong exported row count, a wrong connected-components
  * merge and a dedup pass that finds no pairs must each be counted as a
  * failed op, and their uncorrupted twins must pass. None = the
  * self-test holds. */
object SelfTest {

  def run(): Option[String] = {
    // explorecube grid: order 1 and 2 of an apply(x2) over quantities
    val want: Long => Option[Seq[Double]] = k =>
      if (k == 1) Some(Seq(2.0, 4.0)) else if (k == 2) Some(Seq(6.0)) else None
    val grid = Resp.Grid(Seq("l_orderkey", "l_quantity"),
      Seq(Seq("1", "ArraySeq(2.0, 4.0)"), Seq("2", "ArraySeq(6.0)")))
    val corruptGrid = grid.copy(rows = grid.rows.updated(1, Seq("2", "ArraySeq(6.5)")))
    def gridCheck(g: Resp.Grid) = Oracle.keyedGrid(g, "l_orderkey", "l_quantity", 2, want)

    // oph_exportnc: the file holds 2 suppliers; the message must say so
    val vars = Map("l_suppkey" -> Array(1.0, 2.0), "l_quantity" -> Array(10.0, 20.0))
    val perKey = Map(1L -> 10.0, 2L -> 20.0)
    def exportCheck(msg: String) = Oracle.export(msg, vars, "l_quantity", perKey)

    // connected components over a small planted corpus: the true pairs
    // are every within-cluster pair of kept documents
    val corpus = Data.corpus(7L, 400)
    val kept = corpus.english.indices.filter(corpus.english(_))
    val pairs = for {
      (i, ii) <- kept.zipWithIndex; j <- kept.drop(ii + 1)
      if corpus.cluster(i) >= 0 && corpus.cluster(i) == corpus.cluster(j)
    } yield (i.toLong, j.toLong)
    val labels = Oracle.components(kept.map(_.toLong), pairs)
    val two = labels.values.toSeq.distinct.sorted.take(2)
    val merged = labels.map { case (v, l) => v -> (if (l == two(1)) two(0) else l) }
    def ccCheck(l: Map[Long, Long]) =
      Oracle.dedup(corpus, Oracle.DedupOut(pairs, l), k = 5, tau = 0.8)
    // no pairs at all: every label is its own document (a pass with no
    // LSH recall), consistent with its own empty pair set
    val alone = Oracle.DedupOut(Nil, kept.map(v => v.toLong -> v.toLong).toMap)

    val cases = Seq(
      ("explorecube grid", gridCheck(grid), false),
      ("corrupted explorecube grid", gridCheck(corruptGrid), true),
      ("export row count", exportCheck("exported 2 rows to x.nc"), false),
      ("wrong export row count", exportCheck("exported 3 rows to x.nc"), true),
      ("connected components", ccCheck(labels), false),
      ("wrong connected-components merge", ccCheck(merged), true),
      ("dedup pass with no pairs", Oracle.dedup(corpus, alone, k = 5, tau = 0.8), true))
    val ops = cases.map { case (name, why, _) =>
      OpRec(0, 0, "selftest", name, 1L, why.isEmpty, why.getOrElse("")) }
    val s = Main.summarize(ops, rate = 1.0)
    val wrong = cases.zip(ops).collect {
      case ((name, _, corrupt), op) if op.ok == corrupt =>
        if (corrupt) s"$name was not counted as a failure" else s"$name failed: ${op.why}"
    }
    if (two.size < 2) Some("self-test corpus has fewer than two components")
    else if (wrong.nonEmpty) Some(wrong.mkString("; "))
    else if (s.failed != 4) Some(s"error count ${s.failed}, want 4")
    else None
  }
}
