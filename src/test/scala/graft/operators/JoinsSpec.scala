package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkSpec

class JoinsSpec extends SparkSpec {
  import spark.implicits._

  test("asof picks the latest right row at or before each left time") {
    val quotes = Seq((1L, 10L, 100.0), (1L, 20L, 110.0), (2L, 5L, 50.0))
      .toDF("k", "t", "px")
    val trades = Seq((1L, 10L, "a"), (1L, 15L, "b"), (1L, 25L, "c"),
      (2L, 4L, "d"), (3L, 9L, "e")).toDF("k", "t", "tag")
    val out = Joins.asof(trades, quotes, Seq("k"), "t", "t", Seq("px"))
      .select($"k", $"t", $"tag", $"matched_t", $"px")
      .as[(Long, Long, String, Long, Double)].collect().toSet
    // t=10 matches the equal-time quote (inclusive); t=15 the t=10 one;
    // t=25 the t=20 one; k=2 t=4 has no preceding quote -> dropped;
    // k=3 has no quotes at all -> dropped
    assert(out == Set((1L, 10L, "a", 10L, 100.0), (1L, 15L, "b", 10L, 100.0),
      (1L, 25L, "c", 20L, 110.0)))
  }

  test("asof carries the matched row WHOLE: null payload stays null") {
    // the latest quote has a null px: per-column filling would pair
    // matched_t=10 with the t=5 row's 100.0 — a tuple that never
    // existed; the whole-row fill must report (10, null)
    val quotes = Seq((1L, 5L, Some(100.0)),
      (1L, 10L, None: Option[Double])).toDF("k", "t", "px")
    val trades = Seq((1L, 15L, "a")).toDF("k", "t", "tag")
    val out = Joins.asof(trades, quotes, Seq("k"), "t", "t", Seq("px"))
      .collect().map(r => (r.getLong(3),
        Option(r.get(4)).map(_.asInstanceOf[Double]))).toSet
    assert(out === Set((10L, None)))
  }

  test("asof leftOuter keeps unmatched left rows with null payload") {
    val quotes = Seq((1L, 10L, 100.0)).toDF("k", "t", "px")
    val trades = Seq((1L, 5L, "early"), (1L, 15L, "late"),
      (3L, 9L, "nokey")).toDF("k", "t", "tag")
    val out = Joins.asof(trades, quotes, Seq("k"), "t", "t", Seq("px"),
        leftOuter = true)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        Option(r.get(3)).map(_.asInstanceOf[Long]),
        Option(r.get(4)).map(_.asInstanceOf[Double]))).toSet
    assert(out === Set(
      (1L, 5L, "early", None, None),
      (1L, 15L, "late", Some(10L), Some(100.0)),
      (3L, 9L, "nokey", None, None)))
  }

  test("asof strict mode excludes equal-time matches") {
    val quotes = Seq((1L, 10L, 100.0), (1L, 20L, 110.0)).toDF("k", "t", "px")
    val trades = Seq((1L, 10L, "a"), (1L, 20L, "b")).toDF("k", "t", "tag")
    val out = Joins.asof(trades, quotes, Seq("k"), "t", "t", Seq("px"),
      strict = true)
      .select($"t", $"tag", $"matched_t").as[(Long, String, Long)]
      .collect().toSet
    // t=10 has no STRICTLY earlier quote; t=20 matches the t=10 quote
    assert(out == Set((20L, "b", 10L)))
  }

  test("asof resolves equal-time right ties deterministically (max payload)") {
    val quotes = Seq((1L, 10L, 100.0), (1L, 10L, 105.0)).toDF("k", "t", "px")
    val trades = Seq((1L, 12L, "a")).toDF("k", "t", "tag")
    val out = Joins.asof(trades, quotes, Seq("k"), "t", "t", Seq("px"))
      .select($"px").as[Double].collect().toSeq
    assert(out == Seq(105.0))
  }

  test("asofNative: same fixtures as asof (inclusive, strict, ties)") {
    val quotes = Seq((1L, 10L, 100.0), (1L, 20L, 110.0), (2L, 5L, 50.0))
      .toDF("k", "t", "px")
    val trades = Seq((1L, 10L, "a"), (1L, 15L, "b"), (1L, 25L, "c"),
      (2L, 4L, "d"), (3L, 9L, "e")).toDF("k", "t", "tag")
    val out = Joins.asofNative(trades, quotes, Seq("k"), "t", "t", Seq("px"))
      .select($"k", $"t", $"tag", $"matched_t", $"px")
      .as[(Long, Long, String, Long, Double)].collect().toSet
    assert(out == Set((1L, 10L, "a", 10L, 100.0), (1L, 15L, "b", 10L, 100.0),
      (1L, 25L, "c", 20L, 110.0)))

    val strictOut = Joins.asofNative(
      Seq((1L, 10L, "a"), (1L, 20L, "b")).toDF("k", "t", "tag"),
      Seq((1L, 10L, 100.0), (1L, 20L, 110.0)).toDF("k", "t", "px"),
      Seq("k"), "t", "t", Seq("px"), strict = true)
      .select($"t", $"tag", $"matched_t").as[(Long, String, Long)]
      .collect().toSet
    assert(strictOut == Set((20L, "b", 10L)))

    val tieOut = Joins.asofNative(
      Seq((1L, 12L, "a")).toDF("k", "t", "tag"),
      Seq((1L, 10L, 100.0), (1L, 10L, 105.0)).toDF("k", "t", "px"),
      Seq("k"), "t", "t", Seq("px"))
      .select($"px").as[Double].collect().toSeq
    assert(tieOut == Seq(105.0))
  }

  test("asofNative: randomized parity with asof") {
    val rnd = new scala.util.Random(7)
    // duplicate (key, time) pairs on both sides, keys with no partner,
    // payload ties at the same instant — every edge the window
    // formulation resolves must resolve identically in the merge
    val left = (0 until 600).map(i =>
      (rnd.nextInt(12).toLong, rnd.nextInt(60).toLong, i.toLong))
      .toDF("k", "t", "tag")
    val right = (0 until 400).map(_ =>
      (rnd.nextInt(14).toLong, rnd.nextInt(60).toLong,
        (rnd.nextInt(50) / 10.0)))
      .toDF("k", "t", "px")
    for (strict <- Seq(false, true)) {
      val a = Joins.asof(left, right, Seq("k"), "t", "t", Seq("px"), strict)
        .select($"k", $"t", $"tag", $"matched_t", $"px")
        .as[(Long, Long, Long, Long, Double)].collect()
      val b = Joins.asofNative(left, right, Seq("k"), "t", "t", Seq("px"),
        strict)
        .select($"k", $"t", $"tag", $"matched_t", $"px")
        .as[(Long, Long, Long, Long, Double)].collect()
      assert(a.length == b.length)
      assert(a.toSet == b.toSet, s"strict=$strict")
    }
  }

  test("asofNative: parity holds across seeds and input layouts") {
    for (seed <- 1 to 4) {
      val rnd = new scala.util.Random(seed)
      val left = (0 until 200).map(i =>
        (rnd.nextInt(6).toLong, rnd.nextInt(40).toLong, i.toLong))
        .toDF("k", "t", "tag")
      val right = (0 until 150).map(_ =>
        (rnd.nextInt(8).toLong, rnd.nextInt(40).toLong,
          rnd.nextInt(30).toDouble)).toDF("k", "t", "px")
      val expect = Joins.asof(left, right, Seq("k"), "t", "t", Seq("px"))
        .select($"k", $"t", $"tag", $"matched_t", $"px")
        .as[(Long, Long, Long, Long, Double)].collect().toSet
      // pathological input layouts: single partition, many small,
      // pre-sorted descending — the operator re-establishes its own
      // distribution + ordering, so none of these may change output
      val layouts = Seq(
        (left.coalesce(1), right.repartition(9)),
        (left.repartition(11), right.coalesce(1)),
        (left.orderBy($"t".desc), right.orderBy($"k".desc, $"t".desc)))
      layouts.foreach { case (l, r) =>
        val got = Joins.asofNative(l, r, Seq("k"), "t", "t", Seq("px"))
          .select($"k", $"t", $"tag", $"matched_t", $"px")
          .as[(Long, Long, Long, Long, Double)].collect().toSet
        assert(got == expect, s"seed=$seed")
      }
    }
  }

  test("asofNative: string keys and timestamp times") {
    def ts(min: Int) = new java.sql.Timestamp(1700000000000L + min * 60000L)
    val quotes = Seq(("aa", ts(10), 1.0), ("aa", ts(20), 2.0),
      ("bb", ts(5), 3.0)).toDF("sym", "t", "px")
    val trades = Seq(("aa", ts(15), 1L), ("aa", ts(25), 2L),
      ("bb", ts(4), 3L), ("cc", ts(9), 4L)).toDF("sym", "t", "tid")
    val out = Joins.asofNative(trades, quotes, Seq("sym"), "t", "t",
      Seq("px"))
      .select($"sym", $"tid", $"px").as[(String, Long, Double)]
      .collect().toSet
    assert(out == Set(("aa", 1L, 1.0), ("aa", 2L, 2.0)))
  }

  test("asofNative: AQE partition coalescing keeps both sides aligned") {
    // many tiny shuffle partitions force AQE's coalescer to act; the
    // custom node's two exchanges must stay co-partitioned through the
    // rewrite or zipPartitions throws a partition-count mismatch
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "64")
    try {
      val rnd = new scala.util.Random(3)
      val left = (0 until 400).map(i =>
        (rnd.nextInt(10).toLong, rnd.nextInt(50).toLong, i.toLong))
        .toDF("k", "t", "tag")
      val right = (0 until 300).map(_ =>
        (rnd.nextInt(10).toLong, rnd.nextInt(50).toLong,
          rnd.nextInt(20).toDouble)).toDF("k", "t", "px")
      val a = Joins.asof(left, right, Seq("k"), "t", "t", Seq("px"))
        .select($"k", $"t", $"tag", $"px")
        .as[(Long, Long, Long, Double)].collect().toSet
      val b = Joins.asofNative(left, right, Seq("k"), "t", "t", Seq("px"))
        .select($"k", $"t", $"tag", $"px")
        .as[(Long, Long, Long, Double)].collect().toSet
      assert(a == b)
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  test("asofNative plans the custom operator: no Window, no Union") {
    val left = Seq((1L, 10L, "a")).toDF("k", "t", "tag")
    val right = Seq((1L, 5L, 1.0)).toDF("k", "t", "px")
    val df = Joins.asofNative(left, right, Seq("k"), "t", "t", Seq("px"))
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("AsofJoin"), s"expected the native exec node:\n$p")
    assert(!p.contains("Window") && !p.contains("Union"),
      s"the native plan must not fall back to union+window:\n$p")
    assert(df.count() == 1)
  }

  test("range join matches containment across bin boundaries, no dups") {
    // interval [5, 25) spans several width-4 bins; values on both
    // boundaries check half-open semantics
    val iv = Seq((1L, 5.0, 25.0), (2L, 20.0, 30.0)).toDF("iid", "lo", "hi")
    val facts = Seq(4.9, 5.0, 13.0, 20.0, 24.9, 25.0, 29.0).map(Tuple1(_))
      .toDF("v")
    val out = Joins.rangeJoinBinned(facts, "v", iv, "lo", "hi", 4.0)
      .select($"iid", $"v").as[(Long, Double)].collect()
        .groupBy(identity).view.mapValues(_.length).toMap
    assert(out.values.forall(_ == 1), "each (interval, fact) at most once")
    assert(out.keySet == Set((1L, 5.0), (1L, 13.0), (1L, 20.0), (1L, 24.9),
      (2L, 20.0), (2L, 24.9), (2L, 25.0), (2L, 29.0)))
  }

  test("range join plans an equi-join, not a nested-loop product") {
    val iv = Seq((1L, 5.0, 25.0)).toDF("iid", "lo", "hi")
    val facts = Seq(Tuple1(13.0)).toDF("v")
    val plan = Joins.rangeJoinBinned(facts, "v", iv, "lo", "hi", 4.0)
      .queryExecution.optimizedPlan.toString
    assert(!plan.contains("Cross"), s"cartesian in plan:\n$plan")
  }
}
