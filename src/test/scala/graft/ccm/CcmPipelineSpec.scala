package graft.ccm

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** The DataFrame pipeline must produce the same numbers as the pure-Scala
  * kernel (which is the executable spec ported from the reference). This is
  * the equivalence test that makes the distributed path trustworthy.
  */
class CcmPipelineSpec extends SparkTestBase {
  import spark.implicits._

  private val spec = CcmSpec(embeddingDim = 3, tau = 1, numSamples = 4, seed = 42)
  private val libSizes = Seq(20, 40, 60)

  private lazy val wide = {
    // three series with different coupling, as one DataFrame
    val rows = for {
      (c, k) <- Seq((0.4, 1L), (0.15, 2L), (0.0, 3L))
      (xy, t) = Generators.coupledLogisticMaps(80, c) match {
        case (xs, ys) => ((xs, ys), 0)
      }
      i <- 0 until 80
    } yield (k, i.toLong, xy._1(i), xy._2(i))
    rows.toDF("skey", "ord", "x", "y")
  }

  test("pipeline skill+convergence matches local kernel on all series and directions") {
    // Seq(3, 20): a lib size below E+1 makes k = min(E+1, L) a per-cell
    // column instead of a literal limit
    for (libs <- Seq(libSizes, Seq(3, 20))) {
      val df = Ccm
        .bidirectional(wide, $"skey", Seq("ord"), $"x", $"y", spec, libs)
        .collect()
        .map(r =>
          (r.getAs[Long]("skey"), r.getAs[String]("direction"), r.getAs[Int]("lib_size")) ->
            (r.getAs[Double]("rho"), r.getAs[Boolean]("convergent"))
        )
        .toMap

      for (k <- Seq(1L, 2L, 3L)) {
        val (xs, ys) = Generators.coupledLogisticMaps(80, Seq(0.4, 0.15, 0.0)(k.toInt - 1))
        val local = CcmLocal.bidirectional(xs, ys, spec.copy(libSizes = Some(libs)), k)
        for ((dirName, dirRes) <- Seq(
            Ccm.DirXCausesY -> local.xCausesY,
            Ccm.DirYCausesX -> local.yCausesX
          ); (l, rho) <- dirRes.results) {
          val (pRho, pConv) = df((k, dirName, l))
          assert(math.abs(pRho - rho) < 1e-9, s"skey=$k $dirName L=$l: pipeline $pRho vs local $rho")
          assert(pConv == dirRes.convergent, s"skey=$k $dirName convergent mismatch")
        }
      }
    }
  }

  test("perSeries (mapGroups scale path) matches local kernel exactly") {
    val rows = Ccm.perSeries(wide, spec, Some(libSizes)).collect()
    val (xs, ys) = Generators.coupledLogisticMaps(80, 0.4)
    val local = CcmLocal.bidirectional(xs, ys, spec.copy(libSizes = Some(libSizes)), 1L)
    val got = rows.filter(r => r.skey == 1L && r.direction == Ccm.DirXCausesY)
    assert(got.map(r => (r.lib_size, r.rho)).sortBy(_._1).toSeq == local.xCausesY.results)
    assert(got.forall(_.convergent == local.xCausesY.convergent))
  }

  test("constant target: zero-variance cells score 0.0 instead of throwing, matching the local kernel") {
    // ANSI corr() throws DIVIDE_BY_ZERO on a zero-variance group; the
    // skill must take the reference's degenerate -> 0.0 path instead
    val (xs, _) = Generators.coupledLogisticMaps(60, 0.4)
    val ys = Array.fill(60)(0.5)
    val libs = Seq(10, 20, 30, 40)
    val s2 = CcmSpec(numSamples = 2)
    val rows = xs.indices.map(i => (1L, i.toLong, xs(i), ys(i))).toDF("skey", "ord", "x", "y")
    val got = Ccm
      .bidirectional(rows, $"skey", Seq("ord"), $"x", $"y", s2, libs)
      .collect()
      .map(r =>
        (r.getAs[String]("direction"), r.getAs[Int]("lib_size")) ->
          (r.getAs[Double]("rho"), r.getAs[Boolean]("convergent"))
      )
      .toMap
    val local = CcmLocal.bidirectional(xs, ys, s2.copy(libSizes = Some(libs)), 1L)
    for ((dirName, dirRes) <- Seq(Ccm.DirXCausesY -> local.xCausesY, Ccm.DirYCausesX -> local.yCausesX);
         (l, rho) <- dirRes.results) {
      val (pRho, pConv) = got((dirName, l))
      assert(math.abs(pRho - rho) < 1e-9, s"$dirName L=$l: pipeline $pRho vs local $rho")
      assert(pConv == dirRes.convergent, s"$dirName convergent mismatch")
    }
    assert(got.size == 2 * libs.size)
  }

  test("guard parity: lib_size >= n_points contributes rho 0.0") {
    val one = wide.filter($"skey" === 1L)
    // embedding rows n = 80 - 2 = 78; lib 78 triggers the guard, lib 77
    // leaves 1 prediction point -> corr over 1 pair -> 0.0 as well
    val df = Ccm
      .bidirectional(one, $"skey", Seq("ord"), $"x", $"y", spec, Seq(40, 77, 78))
      .filter($"direction" === Ccm.DirXCausesY)
      .select($"lib_size", $"rho")
      .collect()
      .map(r => r.getInt(0) -> r.getDouble(1))
      .toMap
    assert(df(78) == 0.0)
    assert(df(77) == 0.0)
    assert(df(40) != 0.0)
    val (xs, ys) = Generators.coupledLogisticMaps(80, 0.4)
    val local =
      CcmLocal.crossMap(ys, xs, spec.copy(libSizes = Some(Seq(40))), 1L).results.head._2
    assert(math.abs(df(40) - local) < 1e-9)
  }
}
