package graft.cube

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.core.Subset

class CubeOpsSpec extends SparkSpec {
  import spark.implicits._

  private def toyCube(): Cube = {
    // 2 keys x 4 in-cell values, fully deterministic
    val raw = Seq(
      (1L, 1, 10.0), (1L, 2, 20.0), (1L, 3, 30.0), (1L, 4, 40.0),
      (2L, 1, 5.0), (2L, 2, 7.0), (2L, 3, 9.0), (2L, 4, 11.0)
    ).toDF("k", "i", "v")
    CubeOps.build(raw, "v", Seq("k"), Some("i"), "test", "mem")
  }

  test("build serializes the implicit dim ordered by its value") {
    val c = toyCube()
    val row = c.df.filter($"k" === 1L).select("v").as[Seq[Double]].head()
    assert(row == Seq(10.0, 20.0, 30.0, 40.0))
  }

  test("subsetIndex compiles to a pushable predicate") {
    val flat = CubeOps.build(
      Seq((1L, 1, 1.0), (1L, 2, 2.0), (1L, 3, 3.0), (1L, 8, 8.0))
        .toDF("k", "i", "v"), "v", Seq("k", "i"), None, "t", "mem")
    val sub = CubeOps.subsetIndex(flat, "i", "1:2:7")
    assert(sub.df.select("i").as[Int].collect().sorted.toSeq == Seq(1, 3))
    // predicate survives into the optimized plan (no UDF barrier)
    val plan = sub.df.queryExecution.optimizedPlan.toString
    assert(!plan.toLowerCase.contains("udf"))
  }

  test("subsetImplicit keeps matching 1-based in-cell positions") {
    val sub = CubeOps.subsetImplicit(toyCube(), "2:3")
    val row = sub.df.filter($"k" === 1L).select("v").as[Seq[Double]].head()
    assert(row == Seq(20.0, 30.0))
    val dim = sub.df.filter($"k" === 1L).select("__dim_i").as[Seq[Int]].head()
    assert(dim == Seq(2, 3))
  }

  test("reduce ops match hand-computed values") {
    val c = toyCube()
    def red(op: String): Map[Long, Double] =
      CubeOps.reduce(c, op).df.select($"k", $"v".cast("double"))
        .as[(Long, Double)].collect().toMap
    assert(red("sum") == Map(1L -> 100.0, 2L -> 32.0))
    assert(red("avg") == Map(1L -> 25.0, 2L -> 8.0))
    assert(red("max") == Map(1L -> 40.0, 2L -> 11.0))
    assert(red("min") == Map(1L -> 10.0, 2L -> 5.0))
    assert(red("count") == Map(1L -> 4.0, 2L -> 4.0))
    // population variance of (10,20,30,40) = 125
    assert(math.abs(red("var")(1L) - 125.0) < 1e-9)
    assert(math.abs(red("std")(1L) - math.sqrt(125.0)) < 1e-9)
    // nearest-rank median of 4 = 2nd element
    assert(red("quantile") == Map(1L -> 20.0, 2L -> 7.0))
    assert(red("arg_max") == Map(1L -> 4.0, 2L -> 4.0))
  }

  test("reduce moments: raw, absolute, central") {
    val c = toyCube()
    def m(op: String, order: Double): Double =
      c.df.filter($"k" === 1L)
        .select(CubeOps.reduceExpr($"v", op, order).as("r"))
        .as[Double].head()
    // values (10,20,30,40): E[x^1]=25, E[x^2]=750, E[(x-25)^2]=125,
    // E[|x-25|^1]=10
    assert(m("rmoment", 1.0) == 25.0)
    assert(m("rmoment", 2.0) == 750.0)
    assert(m("cmoment", 2.0) == 125.0)
    assert(m("acmoment", 1.0) == 10.0)
    assert(m("armoment", 1.0) == 25.0)
  }

  test("reduce with group_size blocks") {
    val r = CubeOps.reduce(toyCube(), "sum", groupSize = Some(2))
    val row = r.df.filter($"k" === 1L).select("v").as[Seq[Double]].head()
    assert(row == Seq(30.0, 70.0))
  }

  test("reduce group_size with ragged tail") {
    val raw = Seq((1L, 1, 1.0), (1L, 2, 2.0), (1L, 3, 3.0)).toDF("k", "i", "v")
    val c = CubeOps.build(raw, "v", Seq("k"), Some("i"), "t", "mem")
    val r = CubeOps.reduce(c, "sum", groupSize = Some(2))
    val row = r.df.select("v").as[Seq[Double]].head()
    assert(row == Seq(3.0, 3.0))
  }

  test("aggregate collapses explicit dims with map-side partials") {
    val flat = CubeOps.build(
      Seq(("a", 1, 1.0), ("a", 2, 2.0), ("b", 1, 5.0))
        .toDF("g", "i", "v"), "v", Seq("g", "i"), None, "t", "mem")
    val agg = CubeOps.aggregate(flat, Seq("g"), "sum")
    assert(agg.df.as[(String, Double)].collect().toMap ==
      Map("a" -> 3.0, "b" -> 5.0))
  }

  test("intercube zip_with on array measures") {
    val a = toyCube()
    val b = toyCube()
    val ic = CubeOps.intercube(a, b, "sum", "s")
    val row = ic.df.filter($"k" === 1L).select("s").as[Seq[Double]].head()
    assert(row == Seq(20.0, 40.0, 60.0, 80.0))
  }

  test("intercubeN: elementwise ops across 3 cubes, avg divides once") {
    val a = toyCube(); val b = toyCube(); val c = toyCube()
    val avg = CubeOps.intercubeN(Seq(a, b, c), "avg", "m")
    val row = avg.df.filter($"k" === 1L).select("m").as[Seq[Double]].head()
    assert(row == Seq(10.0, 20.0, 30.0, 40.0)) // avg of 3 equals = self
    val mx = CubeOps.intercubeN(Seq(a, b), "max", "m")
    assert(mx.df.filter($"k" === 1L).select("m").as[Seq[Double]].head() ==
      Seq(10.0, 20.0, 30.0, 40.0))
    intercept[IllegalArgumentException](
      CubeOps.intercubeN(Seq(a), "sum", "m"))
    intercept[IllegalArgumentException](
      CubeOps.intercubeN(Seq(a, b), "corr", "m"))
  }

  test("intercube missingvalue poisons cells, avg keeps the sentinel whole") {
    val a = toyCube(); val b = toyCube()
    // mark one source cell missing via apply-style rewrite
    val aMiss = graft.cube.Cube(
      a.df.withColumn("v", org.apache.spark.sql.functions.transform(
        $"v", x => org.apache.spark.sql.functions.when(x === 10.0, -999.0)
          .otherwise(x))), a.desc)
    val ic = CubeOps.intercube(aMiss, b, "sum", "s",
      missingValue = Some(-999.0))
    val row = ic.df.filter($"k" === 1L).select("s").as[Seq[Double]].head()
    assert(row == Seq(-999.0, 40.0, 60.0, 80.0))
    val av = CubeOps.intercubeN(Seq(aMiss, b, b), "avg", "m",
      missingValue = Some(-999.0))
    val arow = av.df.filter($"k" === 1L).select("m").as[Seq[Double]].head()
    assert(arow == Seq(-999.0, 20.0, 30.0, 40.0))
  }

  test("mergecubes concatenates along the implicit dim") {
    val m = CubeOps.mergecubes(toyCube(), toyCube())
    val row = m.df.filter($"k" === 2L).select("v").as[Seq[Double]].head()
    assert(row == Seq(5.0, 7.0, 9.0, 11.0, 5.0, 7.0, 9.0, 11.0))
  }

  test("mergecubes2 stacks along a new explicit dim") {
    val m = CubeOps.mergecubes2(Seq("x" -> toyCube(), "y" -> toyCube()), "src")
    assert(m.df.count() == 4)
    assert(m.desc.explicitDims.map(_.name) == Seq("k", "src"))
  }

  test("rollup/drilldown round-trip preserves rows") {
    val flat = CubeOps.build(
      Seq((1L, 1, 1.0), (1L, 2, 2.0), (2L, 1, 3.0))
        .toDF("k", "i", "v"), "v", Seq("k", "i"), None, "t", "mem")
    val rt = CubeOps.drilldown(CubeOps.rollup(flat, "i"))
    assert(rt.df.select("k", "i", "v").as[(Long, Int, Double)]
      .collect().sorted.toSeq ==
      Seq((1L, 1, 1.0), (1L, 2, 2.0), (2L, 1, 3.0)))
  }

  test("permuteReverse reverses measure and dim arrays together") {
    val p = CubeOps.permuteReverse(toyCube())
    val row = p.df.filter($"k" === 1L).select("v").as[Seq[Double]].head()
    assert(row == Seq(40.0, 30.0, 20.0, 10.0))
    val dim = p.df.filter($"k" === 1L).select("__dim_i").as[Seq[Int]].head()
    assert(dim == Seq(4, 3, 2, 1))
  }

  test("split/merge re-fragment and record the partition count") {
    val c = toyCube()
    assert(CubeOps.split(c, 4).df.rdd.getNumPartitions == 4)
    assert(CubeOps.merge(CubeOps.split(c, 4), 2).df.rdd.getNumPartitions == 2)
    assert(CubeOps.split(c, 4).desc.fragments == 4)
  }

  test("cubeelements = rows x array length") {
    val n = CubeOps.cubeelements(toyCube()).as[Long].head()
    assert(n == 8L)
  }

  test("randcube is deterministic for a fixed seed") {
    val a = CubeOps.randcube(spark, 10, 4, seed = 7)
      .df.select("measure").as[Seq[Double]].collect().toSeq
    val b = CubeOps.randcube(spark, 10, 4, seed = 7)
      .df.select("measure").as[Seq[Double]].collect().toSeq
    assert(a == b)
  }

  test("timeFilter grammar: years, months, days, ranges, seasons") {
    val df = Seq(
      "1995-12-15", "1996-01-10", "1996-04-15", "1996-07-01",
      "1997-02-28", "1997-07-15", "1998-11-02"
    ).map(d => java.sql.Timestamp.valueOf(d + " 00:00:00"))
      .map(Tuple1(_)).toDF("ts")
    def sel(filter: String): Set[String] =
      df.filter(Subset.timeFilter(filter, $"ts"))
        .select(date_format($"ts", "yyyy-MM-dd")).as[String].collect().toSet
    assert(sel("1996") == Set("1996-01-10", "1996-04-15", "1996-07-01"))
    assert(sel("1996-04") == Set("1996-04-15"))
    assert(sel("1996-04-15") == Set("1996-04-15"))
    assert(sel("1996-04_1997-02") == Set("1996-04-15", "1996-07-01", "1997-02-28"))
    assert(sel("JJA") == Set("1996-07-01", "1997-07-15"))
    assert(sel("DJF") == Set("1995-12-15", "1996-01-10", "1997-02-28"))
    assert(sel("1995,1998") == Set("1995-12-15", "1998-11-02"))
  }

  test("subset Column predicate agrees with Spec.contains") {
    val spec = Subset.parse("2:3:20,25")
    val df = spark.range(1, 31).toDF("i")
    val got = df.filter(spec.toColumn($"i")).as[Long].collect().sorted.toSeq
    assert(got == (1L to 30L).filter(spec.contains))
  }
}
