package ccmbench

import java.util.SplittableRandom

/** One generated series pair; `key` is the series id the library sees. */
final case class SeriesPair(key: Long, x: Array[Double], y: Array[Double], coupling: Double)

/** Seeded benchmark inputs.
  *
  * The recurrence is the reference's coupled-series generator (X drives Y,
  * `y' = clamp(rY*y*(1-y) + c*(x-y))`, logistic X), written out here rather
  * than called from `graft.ccm.Generators`, so that no change to the library
  * can alter what the benchmark feeds it. Every draw comes from one
  * `SplittableRandom` seeded by the run's seed and the workload name.
  */
object Inputs {
  val RX = 3.8
  val RY = 3.6
  val MaxCoupling = 0.4
  /** Share of series drawn with no coupling at all, so that uncoupled
    * series occur alongside coupled ones.
    */
  val UncoupledShare = 0.25
  val Noise = 0.01

  private def clamp(v: Double): Double = math.max(0.001, math.min(0.999, v))

  def pair(key: Long, length: Int, rng: SplittableRandom): SeriesPair = {
    val c = if (rng.nextDouble() < UncoupledShare) 0.0 else rng.nextDouble(0.0, MaxCoupling)
    var x = rng.nextDouble(0.1, 0.9)
    var y = rng.nextDouble(0.1, 0.9)
    val xs = new Array[Double](length)
    val ys = new Array[Double](length)
    var i = 0
    while (i < length) {
      xs(i) = x + rng.nextDouble(-Noise, Noise)
      ys(i) = y + rng.nextDouble(-Noise, Noise)
      val nx = clamp(RX * x * (1 - x))
      val ny = clamp(RY * y * (1 - y) + c * (x - y))
      x = nx; y = ny
      i += 1
    }
    SeriesPair(key, xs, ys, c)
  }

  /** `nSeries` pairs of `length` points, keys 1..nSeries. */
  def panel(workload: String, seed: Long, nSeries: Int, length: Int): IndexedSeq[SeriesPair] = {
    val rng = new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ workload.hashCode.toLong)
    (1 to nSeries).map(k => pair(k.toLong, length, rng))
  }

  def sameInputs(a: Seq[SeriesPair], b: Seq[SeriesPair]): Boolean =
    a.length == b.length && a.zip(b).forall { case (p, q) =>
      p.key == q.key && java.util.Arrays.equals(p.x, q.x) && java.util.Arrays.equals(p.y, q.y)
    }

  /** Same seed gives identical inputs; another seed gives different ones. */
  def selfCheck(workload: String, seed: Long, nSeries: Int, length: Int): Boolean = {
    val a = panel(workload, seed, nSeries, length)
    sameInputs(a, panel(workload, seed, nSeries, length)) &&
    !sameInputs(a, panel(workload, seed + 1, nSeries, length))
  }
}
