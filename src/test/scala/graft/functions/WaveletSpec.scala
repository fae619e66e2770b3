package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/**
 * DWT kernel + oph_gsl_dwt primitive + explorenc wavelet_family=db4.
 * The families are orthonormal filter banks, so the invariants are
 * exact up to float error: Parseval (energy preservation) and
 * inverse-of-forward identity.
 */
class WaveletSpec extends SparkSpec {

  private val series16 =
    Array.tabulate(16)(i => ((i * 37) % 19 + 0.5): Double)

  test("haar/db4 pyramids preserve energy and invert exactly") {
    for (fam <- Wavelet.families) {
      val fw = Wavelet.forward(series16, fam)
      val eIn = series16.map(x => x * x).sum
      val eOut = fw.map(x => x * x).sum
      assert(math.abs(eIn - eOut) < 1e-9, s"$fam Parseval: $eIn vs $eOut")
      val back = Wavelet.inverse(fw, fam)
      series16.indices.foreach(i =>
        assert(math.abs(back(i) - series16(i)) < 1e-9, s"$fam idx $i"))
    }
  }

  test("db4 annihilates linear series (two vanishing moments)") {
    // Daubechies-4's high-pass has two vanishing moments: the FINEST
    // level details of an exactly-linear signal are zero (periodic
    // wrap pollutes only the windows crossing the boundary)
    val lin = Array.tabulate(32)(i => 3.0 * i + 7.0)
    val fw = Wavelet.forward(lin, "db4")
    // finest details at [16, 32): all but the last two windows (which
    // wrap past the boundary) must vanish
    (16 until 30).foreach(i =>
      assert(math.abs(fw(i)) < 1e-9, s"detail $i = ${fw(i)}"))
    assert(math.abs(fw(30)) > 1.0 || math.abs(fw(31)) > 1.0,
      "wrap windows should carry the boundary jump")
  }

  test("db6/db8 annihilate quadratics/cubics (their vanishing moments)") {
    // wrong published constants would break BOTH Parseval (covered
    // above) and these exact-annihilation properties — together they
    // pin the filters to the real Daubechies coefficients
    val quad = Array.tabulate(64)(i => 0.5 * i * i - 3.0 * i + 7.0)
    val fwQ = Wavelet.forward(quad, "db6")
    (32 until 58).foreach(i => // windows clear of the periodic wrap
      assert(math.abs(fwQ(i)) < 1e-6, s"db6 quad detail $i = ${fwQ(i)}"))
    val cubic = Array.tabulate(64)(i => 0.01 * i * i * i - i * i + 2.0 * i)
    val fwC = Wavelet.forward(cubic, "db8")
    (32 until 56).foreach(i =>
      assert(math.abs(fwC(i)) < 1e-5, s"db8 cubic detail $i = ${fwC(i)}"))
    // db4 (two moments) must NOT annihilate the quadratic interior
    val fwQ4 = Wavelet.forward(quad, "db4")
    assert((34 until 58).exists(i => math.abs(fwQ4(i)) > 1e-3),
      "db4 unexpectedly annihilated a quadratic")
  }

  test("haar pyramid matches the hand arithmetic on a 4-series") {
    val fw = Wavelet.forward(Array(1.0, 3.0, 2.0, 6.0), "haar")
    val s = math.sqrt(2.0)
    // step1: smooth = (4/s, 8/s), detail = (-2/s, -4/s)
    // step2: smooth = 12/2 = 6, detail = -4/2 = -2
    assert(math.abs(fw(0) - 6.0) < 1e-12)
    assert(math.abs(fw(1) + 2.0) < 1e-12)
    assert(math.abs(fw(2) + 2.0 / s) < 1e-12)
    assert(math.abs(fw(3) + 4.0 / s) < 1e-12)
  }

  test("unknown family fails at plan time with a named error") {
    val err = intercept[IllegalArgumentException] {
      Wavelet.forward(series16, "sym9")
    }
    assert(err.getMessage.contains("sym9"))
  }

  test("oph_gsl_dwt primitive equals the kernel, inside codegen") {
    import spark.implicits._
    val df = Seq(Tuple1(series16.toSeq)).toDF("m")
    val got = df.select(ArrayPrimitives("oph_gsl_dwt(measure, 'db4')",
      col("m")).as("c")).head.getSeq[Double](0)
    val want = Wavelet.forward(series16, "db4")
    got.indices.foreach(i =>
      assert(math.abs(got(i) - want(i)) < 1e-12, s"idx $i"))
    // default family is haar
    val gotH = df.select(ArrayPrimitives("oph_gsl_dwt(measure)",
      col("m")).as("c")).head.getSeq[Double](0)
    val wantH = Wavelet.forward(series16, "haar")
    gotH.indices.foreach(i =>
      assert(math.abs(gotH(i) - wantH(i)) < 1e-12, s"haar idx $i"))
  }

  test("explorenc wavelet_family=db4: kept-all coefficients reconstruct") {
    import spark.implicits._
    val eng = new graft.workflow.Engine(spark, new graft.core.Catalog("s"))
    // 16 rows, measure = the fixed series, x axis = idx
    val df = series16.zipWithIndex.map { case (v, i) => (i + 1, v) }
      .toSeq.toDF("idx", "m")
    val tmp = java.io.File.createTempFile("wave", ".parquet")
    tmp.delete()
    df.coalesce(1).write.parquet(tmp.getPath)
    val res = eng.runDataOperator("oph_explorenc", Map(
      "src_path" -> tmp.getPath, "measure" -> "m", "dim" -> "idx",
      "wavelet" -> "yes", "wavelet_family" -> "db4",
      "wavelet_coeff" -> "16"))
    val rows = res.grid.get.values.sortBy(_(0).toInt)
    assert(rows.length == 16)
    rows.foreach { r =>
      assert(math.abs(r(1).toDouble - r(2).toDouble) < 1e-9,
        s"denoised with ALL coeffs kept must equal the input: $r")
    }
    // top-k coeff grid rides along
    assert(res.aux.exists {
      case g: graft.core.Grid => g.objkey == "explorenc_wavelet_coeff"
      case _ => false
    })
  }
}
