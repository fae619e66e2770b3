package graft.functions.expressions

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.pipeline.Similarity

/** The fused NormalizeVec must be BIT-identical to the interpreted
  * `when(sqrt(aggregate(v, x*x)) > 0, transform(v, x/norm))
  * .otherwise(v)` pair it replaced (VERDICT r17 #4): same
  * left-to-right norm accumulation, same divide, the same
  * pass-through for zero-norm and null-element vectors, and the same
  * all-NaN output for NaN norms (Spark orders NaN above zero). */
class NormalizeVecParitySpec extends SparkSpec {
  import spark.implicits._

  private val vecs: Seq[Seq[java.lang.Double]] = Seq(
    Seq[java.lang.Double](3.0, 4.0),
    Seq[java.lang.Double](1.0, 2.0, 3.0, 4.0, 5.0),
    Seq[java.lang.Double](0.0, 0.0, 0.0),           // zero norm -> unchanged
    Seq[java.lang.Double](-1.5, 2.5, -3.5),
    Seq[java.lang.Double](Double.NaN, 1.0),         // NaN norm -> all-NaN
                                                    // (NaN > 0 is TRUE
                                                    // in Spark ordering)
    Seq[java.lang.Double](1e-200, 1e-200),          // tiny but positive norm
    Seq[java.lang.Double](1.0, null, 3.0),          // null element -> unchanged
    Seq[java.lang.Double]())                        // empty -> unchanged

  test("native normalization is bit-identical to the HOF form") {
    val df = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("vec_id", "embedding")
    def collect(frame: org.apache.spark.sql.DataFrame) =
      frame.select(col("id"), col("nvec")).as[(Long, Seq[java.lang.Double])]
        .collect().toMap
    val nat = collect(Similarity.normalized(df, "vec_id", "embedding"))
    val hof = collect(Similarity.normalizedHof(df, "vec_id", "embedding"))
    assert(nat.keySet == hof.keySet)
    nat.keySet.toSeq.sorted.foreach { id =>
      val (a, b) = (nat(id), hof(id))
      assert(a.length == b.length, s"id=$id: $a vs $b")
      a.zip(b).foreach { case (x, y) =>
        val same = (x == null && y == null) ||
          (x != null && y != null &&
            java.lang.Double.doubleToLongBits(x.doubleValue()) ==
              java.lang.Double.doubleToLongBits(y.doubleValue()))
        assert(same, s"id=$id: $a vs $b")
      }
    }
    // spot-pin: the unit vector really is unit
    assert(math.abs(nat(0L)(0) - 0.6) < 1e-15 &&
      math.abs(nat(0L)(1) - 0.8) < 1e-15)
    assert(nat(2L) == Seq(0.0, 0.0, 0.0)) // zero vector untouched
  }

  test("native normalization executes inside whole-stage codegen") {
    val df = spark.range(16)
      .select($"id", array($"id".cast("double"), lit(1.0)).as("v"))
      .select(GraftExpressions.normalize_vec(col("v")).as("nv"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project"), plan)
    val rows = df.as[Seq[Double]].collect()
    rows.foreach { v =>
      val n = math.sqrt(v.map(x => x * x).sum)
      assert(math.abs(n - 1.0) < 1e-12, v.toString)
    }
  }
}
