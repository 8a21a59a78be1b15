package ccmbench

import graft.ccm.{Ccm, CcmLocal, CcmSpec, FnnDim, Simplex, Smap}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col

/** One public library call of an analysis, named after the layer it drives. */
final case class Call(name: String, build: () => DataFrame)

/** Single-thread `CcmLocal` timing of the reference computation. */
final case class Floor(totalS: Double, seriesS: Seq[Double])

/** Checks one analysis' collected rows (one array per call); None if correct. */
final case class Reference(check: Seq[Array[Row]] => Option[String], floor: Option[Floor])

sealed trait Workload {
  def name: String
  def nSeries: Int
  def length: Int
  /** Untimed calls before the first timed one; they are part of setup. */
  def warmups: Int
  /** Pair evaluations a brute-force implementation makes, from the shape. */
  def refPairs: Long
  def shape: String
  def calls(df: DataFrame): Seq[Call]
  def reference(inputs: IndexedSeq[SeriesPair], warm: Seq[Array[Row]]): Reference
}

/** CCM through `Ccm.bidirectional` (`perSeries = false`) or `Ccm.perSeries`. */
final case class CcmWorkload(
    name: String,
    nSeries: Int,
    length: Int,
    samples: Int,
    explicitLibs: Option[Seq[Int]],
    perSeries: Boolean,
    warmups: Int
) extends Workload {
  val E = 3
  val Tau = 1
  val spec: CcmSpec = CcmSpec(embeddingDim = E, tau = Tau, numSamples = samples)
  val nEmb: Int = length - (E - 1) * Tau
  val libs: Seq[Int] = explicitLibs.getOrElse(CcmSpec.libSizeLadder(nEmb))
  val keys = Seq("skey", "direction")

  /** Σ over series, direction, sample and lib size of L·(n_emb − L). */
  def refPairs: Long =
    nSeries.toLong * 2 * samples * libs.map(l => l.toLong * math.max(0, nEmb - l)).sum

  def shape: String =
    s"$nSeries series x $length points, E=$E tau=$Tau S=$samples, " +
      s"${libs.size} lib sizes ${libs.head}..${libs.last}" +
      (if (explicitLibs.isEmpty) " (auto ladder)" else "") +
      (if (perSeries) ", Ccm.perSeries" else ", Ccm.bidirectional")

  def calls(df: DataFrame): Seq[Call] =
    if (perSeries) Seq(Call("perseries", () => Ccm.perSeries(df, spec).toDF()))
    else Seq(Call("ccm", () => Ccm.bidirectional(df, col("skey"), Seq("ord"), col("x"), col("y"), spec, libs)))

  /** `CcmLocal.bidirectional` on every series, in this thread. */
  def reference(inputs: IndexedSeq[SeriesPair], warm: Seq[Array[Row]]): Reference = {
    val local = spec.copy(libSizes = Some(libs))
    val timed = inputs.map { p =>
      val t0 = System.nanoTime()
      val r = CcmLocal.bidirectional(p.x, p.y, local, p.key)
      (p.key, r, (System.nanoTime() - t0) / 1e9)
    }
    val expected: Map[(Long, String, Int), (Double, Boolean)] = timed.flatMap { case (k, r, _) =>
      Seq(Ccm.DirXCausesY -> r.xCausesY, Ccm.DirYCausesX -> r.yCausesX).flatMap { case (dir, d) =>
        d.results.map { case (l, rho) => (k, dir, l) -> (rho, d.convergent) }
      }
    }.toMap
    val seriesS = timed.map(_._3)
    Reference(out => CcmWorkload.compare(out.head, expected), Some(Floor(seriesS.sum, seriesS)))
  }
}

object CcmWorkload {
  val Tol = 1e-9

  /** Skill rows against the local kernel: same cells, |Δrho| <= 1e-9 and
    * the same `convergent` flag for every (series, direction, lib size).
    */
  def compare(rows: Array[Row], expected: Map[(Long, String, Int), (Double, Boolean)]): Option[String] = {
    val got = rows.map(r =>
      (r.getAs[Long]("skey"), r.getAs[String]("direction"), r.getAs[Int]("lib_size")) ->
        (r.getAs[Double]("rho"), r.getAs[Boolean]("convergent"))
    )
    if (got.length != expected.size || got.map(_._1).toSet != expected.keySet)
      Some(s"${got.length} rows, expected ${expected.size} (series, direction, lib size) cells")
    else
      got.collectFirst {
        case (k, (rho, conv)) if math.abs(rho - expected(k)._1) > Tol || conv != expected(k)._2 =>
          s"cell $k: rho=$rho convergent=$conv, local kernel ${expected(k)}"
      }
  }
}

/** The leave-one-out E-sweep operators, in order: Simplex, FNN, S-map. */
final case class EdmWorkload(name: String, nSeries: Int, length: Int, warmups: Int) extends Workload {
  val MaxE = 5

  /** Σ over operator, series and E of m_E·(m_E − 1); S-map (E = 1) joins
    * once per direction.
    */
  def refPairs: Long = {
    def pairs(m: Long) = m * (m - 1)
    val simplex = (1 to MaxE).map(e => pairs(length - e)).sum // rows with e_{E-1} and f_E
    val fnn = (1 to MaxE).map(e => pairs(length - e)).sum // rows with coordinate e_E
    val smap = 2 * pairs(length)
    nSeries.toLong * (simplex + fnn + smap)
  }

  def shape: String =
    s"$nSeries series x $length points, Simplex.curve + FnnDim.fnnCurve (maxE=$MaxE), " +
      s"Smap.bidirectional (${Smap.DefaultThetas.size} thetas)"

  def calls(df: DataFrame): Seq[Call] = Seq(
    Call("simplex", () => Simplex.curve(df, Seq("skey"), Seq(col("ord")), col("x"), MaxE)),
    Call("fnn", () => FnnDim.fnnCurve(df, Seq("skey"), Seq(col("ord")), col("x"), MaxE)),
    Call("smap", () => Smap.bidirectional(df, col("skey"), Seq("ord"), col("x"), col("y")))
  )

  private def sorted(rows: Array[Row]): Seq[String] = rows.map(_.toString).sorted.toSeq

  /** Rows identical to the warm-up call's, values in range, counts as the shape. */
  def reference(inputs: IndexedSeq[SeriesPair], warm: Seq[Array[Row]]): Reference = {
    val warmSorted = warm.map(sorted)
    val counts = Seq(nSeries * MaxE, nSeries * MaxE, nSeries * 2 * Smap.DefaultThetas.size)
    val ranges = Seq("rho" -> (-1.0, 1.0), "fnn_frac" -> (0.0, 1.0), "rho" -> (-1.0, 1.0))
    def check(out: Seq[Array[Row]]): Option[String] =
      out.indices.iterator.map { i =>
        val (field, (lo, hi)) = ranges(i)
        val rows = out(i)
        if (rows.length != counts(i)) Some(s"call $i: ${rows.length} rows, expected ${counts(i)}")
        else
          rows.map(_.getAs[Double](field)).find(v => !(v >= lo && v <= hi)) match {
            case Some(v) => Some(s"call $i: $field=$v outside [$lo, $hi]")
            case None =>
              if (sorted(rows) != warmSorted(i)) Some(s"call $i: rows differ from the warm-up call")
              else None
          }
      }.collectFirst { case Some(msg) => msg }
    Reference(check, None)
  }
}

object Workloads {
  val all: Seq[Workload] = Seq(
    CcmWorkload("long_exact", 8, 100, 2, Some(Seq(7, 20, 33, 47, 60)), perSeries = false, warmups = 2),
    CcmWorkload("panel_short", 24, 50, 8, None, perSeries = false, warmups = 2),
    CcmWorkload("panel_local", 8, 200, 4, None, perSeries = true, warmups = 1),
    EdmWorkload("edm_sweep", 16, 60, warmups = 1)
  )

  def byName(name: String): Option[Workload] = all.find(_.name == name)
}
