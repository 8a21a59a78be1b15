package graft.contract

import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.functions.{ExactMath, GraftFunctions}

/** Three-way bit-equality pins for the IEEE-only exp/ln series.
  *
  * Each series has THREE emissions that must be bit-identical:
  * the Spark HOF text (ExactExp.spark / ExactLn.spark), the codegen'd
  * expression (graft_exp / graft_ln → ExactMath), and the JVM method
  * itself (used by CcmLocal). The DuckDB text is the same
  * operation tree as the HOF text by construction (ExactLn precedent,
  * confirmed by every oracle run), so pinning HOF == codegen == JVM
  * closes the loop: any emission drifting from the shared op order
  * fails here before it can split a driver hash.
  */
class ExactSeriesSpec extends SparkTestBase {

  // Kernel-shaped arguments: exp(-d/dmin) with d >= dmin gives x <= -1
  // down to deep negatives; Smap exp(-theta*d/dbar) spans (-20, 0].
  private val expArgs = Seq(
    0.0, -1e-12, -1e-6, -0.001, -0.03125, -0.2, -0.34657359027997264,
    -0.5, -0.6931471805599453, -1.0, -1.0000000001, -2.5, -3.999999,
    -7.77, -15.0, -42.42424242, -88.0, -123.456, -300.0, -708.0,
    -744.999, -745.0, -746.0, -10000.0, 0.5, 1.0, 7.5, 88.125, 300.25, 709.0,
    709.001, 800.0, 1e18
  )

  private val lnArgs = Seq(
    1e-6, 1e-4, 0.03, 0.5, 0.9999, 1.0, 1.0001, 2.0, math.E, 10.0,
    123.456, 9999.25, 1e6, 0.6931471805599453, 42.4242424242
  )

  private def bits(d: Double): Long = java.lang.Double.doubleToRawLongBits(d)

  test("exp: HOF text, codegen graft_exp, and ExactMath.exp are bit-identical") {
    import spark.implicits._
    GraftFunctions.register(spark)
    val rows = expArgs
      .toDF("x")
      .repartition(3)
      .withColumn("hof", expr(ExactExp.spark("x")))
      .withColumn("cg", expr("graft_exp(x)"))
      .orderBy("x")
      .collect()
      .map(r => (r.getDouble(0), r.getDouble(1), r.getDouble(2)))
    rows.foreach { case (x, hof, cg) =>
      assert(bits(hof) == bits(cg), s"exp($x): HOF $hof vs codegen $cg differ in bits")
      assert(bits(cg) == bits(ExactMath.exp(x)), s"exp($x): codegen vs JVM differ in bits")
    }
  }

  test("exp: series matches Math.exp to 5e-13 relative across the domain") {
    expArgs.filter(x => x >= -700.0 && x <= 709.0).foreach { x =>
      val got = ExactMath.exp(x)
      val ref = math.exp(x)
      val err = math.abs(got - ref) / math.max(ref, java.lang.Double.MIN_NORMAL)
      assert(err < 5e-13, s"exp($x): series $got vs libm $ref (rel err $err)")
    }
    // Below the clamp: zero, deterministically.
    assert(ExactMath.exp(-746.0) == 0.0)
    assert(ExactMath.exp(-1e18) == 0.0)
  }

  test("ln: HOF text, codegen graft_ln, and ExactMath.ln are bit-identical") {
    import spark.implicits._
    GraftFunctions.register(spark)
    val rows = lnArgs
      .toDF("y")
      .repartition(3)
      .withColumn("hof", expr(ExactLn.spark("y")))
      .withColumn("cg", expr("graft_ln(y)"))
      .orderBy("y")
      .collect()
      .map(r => (r.getDouble(0), r.getDouble(1), r.getDouble(2)))
    rows.foreach { case (y, hof, cg) =>
      assert(bits(hof) == bits(cg), s"ln($y): HOF $hof vs codegen $cg differ in bits")
      assert(bits(cg) == bits(ExactMath.ln(y)), s"ln($y): codegen vs JVM differ in bits")
    }
  }

  test("dense grid: 4096 kernel-shaped args keep HOF, codegen, and JVM exp/ln bit-identical") {
    import spark.implicits._
    GraftFunctions.register(spark)
    // Deterministic LCG grid (no Math.random — resume/replay discipline):
    // exp args concentrate where the weight kernels live, x in (-50, 0],
    // with a sparse wide tail into (-740, 60); ln args span (1e-6, 1e6).
    val u = (0 until 4096).map(i => ((i * 2654435761L + 1013904223L) & 0xffffffffL).toDouble / 4294967296.0)
    val xs = u.zipWithIndex.map { case (f, i) =>
      if (i % 8 == 7) -740.0 + f * 800.0 else -50.0 * f
    }
    val ys = u.map(f => math.max(1e-6, f * f * 1e6))
    val expRows = xs.toDF("x")
      .repartition(8)
      .withColumn("hof", expr(ExactExp.spark("x")))
      .withColumn("cg", expr("graft_exp(x)"))
      .collect()
    expRows.foreach { r =>
      val (x, hof, cg) = (r.getDouble(0), r.getDouble(1), r.getDouble(2))
      assert(bits(hof) == bits(cg), s"exp($x): HOF vs codegen")
      assert(bits(cg) == bits(ExactMath.exp(x)), s"exp($x): codegen vs JVM")
    }
    val lnRows = ys.toDF("y")
      .repartition(8)
      .withColumn("hof", expr(ExactLn.spark("y")))
      .withColumn("cg", expr("graft_ln(y)"))
      .collect()
    lnRows.foreach { r =>
      val (y, hof, cg) = (r.getDouble(0), r.getDouble(1), r.getDouble(2))
      assert(bits(hof) == bits(cg), s"ln($y): HOF vs codegen")
      assert(bits(cg) == bits(ExactMath.ln(y)), s"ln($y): codegen vs JVM")
    }
  }

  test("exp kernel form: graft_exp(-d/(dmin+1e-8)) stays within a half-ulp of libm weights") {
    // The weight kernel's published consumers round at 6 dp; this pins
    // that swapping libm for the series moves weights by < 1e-12
    // relative — far below any published boundary.
    val cases = Seq((0.5, 0.5), (1.75, 0.5), (3.0, 0.25), (10.0, 0.125), (1e-3, 1e-3))
    cases.foreach { case (d, dmin) =>
      val x = -d / (dmin + 1e-8)
      val rel = math.abs(ExactMath.exp(x) - math.exp(x)) / math.exp(x)
      assert(rel < 1e-12, s"kernel exp($x) rel err $rel")
    }
  }
}
