package graft.pipeline

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Parity oracle for the r19 contract-and-iterate
  * [[Dedup.connectedComponents]]: a plain-Scala union-find computes
  * every graph's (vertex -> min reachable id) map and the Spark
  * result must match EXACTLY — across random graphs, adversarial
  * partition-boundary shapes (the two-star chain that would fool a
  * naive fixpoint check), descending chains, duplicate vertex ids,
  * self-loops, endpoints missing from the vertex frame, and empty
  * edge lists. */
class CcParitySpec extends SparkSpec {
  import spark.implicits._

  /** Plain-Scala reference: union-find with min-id roots. */
  private def oracle(vertices: Seq[Long],
      edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val ids = (vertices ++ edges.flatMap(e => Seq(e._1, e._2))).distinct
    val parent = scala.collection.mutable.Map(ids.map(i => i -> i): _*)
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.foreach { case (a, b) =>
      val ra = find(a); val rb = find(b)
      if (ra != rb) {
        if (ra < rb) parent(rb) = ra else parent(ra) = rb
      }
    }
    ids.map(i => i -> find(i)).toMap
  }

  private def run(vertices: Seq[Long],
      edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val v = vertices.toDF("id")
    val e = edges.toDF("src", "dst")
    Dedup.connectedComponents(v, e)
      .as[(Long, Long)].collect().toMap
  }

  private def check(vertices: Seq[Long], edges: Seq[(Long, Long)],
      clue: String): Unit = {
    val got = run(vertices, edges)
    val want = oracle(vertices, edges)
    assert(got == want, s"$clue: got $got, want $want")
  }

  test("two stars chained through a shared vertex across ranges") {
    // (5 -> 1) and (9 -> 5): a pure child-range fixpoint check that
    // ignored the swapped copies would terminate with the component
    // split in two — the exact counter-example the changed-witness
    // must catch ({1, 5, 9} -> all 1)
    check(Seq(1L, 5L, 9L), Seq((5L, 1L), (9L, 5L)), "two-star chain")
  }

  test("descending chain, ascending chain, and a ring") {
    val n = 64L
    check((1L to n), (1L until n).map(i => (i + 1, i)), "descending")
    check((1L to n), (1L until n).map(i => (i, i + 1)), "ascending")
    check((1L to n), (1L until n).map(i => (i, i + 1)) :+ ((n, 1L)), "ring")
  }

  test("duplicate vertex ids, self-loops, missing endpoints, empties") {
    check(Seq(3L, 3L, 3L, 7L), Seq((3L, 3L), (7L, 8L)), "dups+selfloop")
    check(Seq(5L), Seq((5L, 1L)), "endpoint not in vertex frame")
    check(Seq(2L, 4L, 6L), Seq.empty, "no edges: singletons")
    check(Seq.empty, Seq((1L, 2L)), "no vertices: endpoints only")
  }

  test("random graphs match the union-find oracle (seeded)") {
    val rnd = new scala.util.Random(4219)
    (1 to 8).foreach { trial =>
      val nV = 20 + rnd.nextInt(180)
      // sparse id space so components span range-partition boundaries
      val ids = Seq.fill(nV)(rnd.nextLong(10000L)).distinct
      val nE = rnd.nextInt(2 * ids.size + 1)
      val edges = Seq.fill(nE) {
        val a = ids(rnd.nextInt(ids.size))
        // some endpoints deliberately OUTSIDE the vertex frame
        val b = if (rnd.nextBoolean()) ids(rnd.nextInt(ids.size))
          else rnd.nextLong(10000L)
        (a, b)
      }
      check(ids, edges, s"random trial $trial")
    }
  }

  test("long chain converges within maxRounds and matches") {
    val n = 500L
    val verts = (1L to n)
    val edges = (1L until n).map(i => (i, i + 1))
    val got = run(verts, edges)
    assert(got.size == n && got.values.forall(_ == 1L))
  }

  test("non-integral id columns are rejected by name") {
    // a cast to long would turn these ids into nulls and drop edges
    val longV = Seq(1L, 2L).toDF("id")
    val longE = Seq((1L, 2L)).toDF("src", "dst")
    val cases = Seq(
      ("id", Seq("a", "b").toDF("id"), longE),
      ("src", longV, Seq(("a", 2L)).toDF("src", "dst")),
      ("dst", longV, Seq((1L, 2.5)).toDF("src", "dst")))
    for ((c, v, e) <- cases) {
      val err = intercept[IllegalArgumentException](
        Dedup.connectedComponents(v, e))
      assert(err.getMessage.contains(s"'$c'"), s"$c: ${err.getMessage}")
    }
    // narrower integral types are accepted and widened
    val got = Dedup.connectedComponents(Seq(1, 2, 3).toDF("id"),
      Seq((1, 2)).toDF("src", "dst")).as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 3L))
  }
}
