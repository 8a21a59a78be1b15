package graft.ccm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Simplex projection — leave-one-out kNN forecasting (Sugihara & May 1990,
  * "Nonlinear forecasting as a way of distinguishing chaos from measurement
  * error in time series"). The reference implements exactly this forecaster
  * as CCM's cross-mapping core (`lib/ccm.ex:139-177`: top-(E+1) neighbors +
  * exponential weights) but only ever points it ACROSS series; the
  * univariate self-prediction form is the standard EDM diagnostic the
  * README's workflow presumes (E chosen "via FNN or simplex", README:77):
  *
  *  - embed the series at dimension E (forward lags, the [[FnnDim]]
  *    orientation: point i = (x_i, x_{i+tau}, .., x_{i+(E-1)tau}), so the
  *    point's "present" is time i+(E-1)tau);
  *  - for each point with a known future x_{i+(E-1)tau+tp}, find its E+1
  *    nearest neighbors among the OTHER points of the same series
  *    (leave-one-out: the self-pair idx==idx is excluded);
  *  - predict the future as the exponentially weighted neighbor average
  *    with the reference's exact weight contract (`lib/ccm.ex:246-262`,
  *    C8): w = exp(-d / (d_min + 1e-8)), exact hits (d < 1e-12) weigh 1;
  *  - skill(E) = guarded Pearson rho(actual, predicted); sweeping E gives
  *    the embedding-dimension selection curve (best E = argmax rho — the
  *    complement of [[FnnDim]]'s false-neighbor criterion), sweeping the
  *    horizon tp at fixed E gives the prediction-decay curve whose fall-off
  *    separates chaos (skill decays with tp) from measurement noise (flat).
  *
  * Scale: pairs are generated per series only (equi-join on the series
  * key) — a million independent series parallelize freely; top-(E+1) is a
  * literal-limit row_number window, so InferWindowGroupLimit turns it into
  * a map-side TopK heap before the shuffle. The tp-sweep computes the kNN
  * ONCE: the library is pinned to rows carrying the full maxTp horizon, so
  * the neighbor set (and the weights) are tp-invariant and each extra
  * horizon only widens rows through one shared groupBy — no per-tp join.
  */
object Simplex {

  /** Per-(series, E) forecast skill for E = 1..maxE at horizon tp.
    * Output: (keys..., e: int, n_pred: long, rho: double) — rho rounded to
    * 6 dp (cross-engine aggregation-order ulp absorption, the family rule).
    */
  def curve(
      df: DataFrame,
      keys: Seq[String],
      order: Seq[Column],
      value: Column,
      maxE: Int,
      tau: Int = 1,
      tp: Int = 1
  ): DataFrame = {
    require(maxE >= 1 && tau >= 1 && tp >= 1, "maxE, tau, tp must be >= 1")
    val k = keys.map(col)
    val w = Window.partitionBy(k: _*).orderBy(order: _*)
    // one pass materializes every coordinate any E needs: e0..e{maxE-1}
    // plus the per-E forecast target f{e} = lead((e-1)*tau + tp)
    val leadCols = (0 until maxE).map { j =>
      (if (j == 0) value else lead(value, j * tau).over(w)).as(s"e$j")
    } ++ (1 to maxE).map { e =>
      lead(value, (e - 1) * tau + tp).over(w).as(s"f$e")
    }
    // localCheckpoint: the embedded relation feeds BOTH sides of maxE
    // self-joins (the FnnDim/LagCcm lesson — without it the scan + windows
    // re-execute 2*maxE times)
    val emb = df
      .select(k ++ Seq((row_number().over(w) - 1).cast("long").as("idx")) ++ leadCols: _*)
      .localCheckpoint()

    val perE = (1 to maxE).map { e =>
      val rows = emb.filter(col(s"e${e - 1}").isNotNull && col(s"f$e").isNotNull)
      val pairs = Knn
        .leaveOneOut(rows, keys)
        .select(
          (keys.map(kn => col(s"q.$kn").as(kn)) ++ Seq(
            col("q.idx").as("t_idx"),
            col("q.f" + e).as("actual"),
            col("l.idx").as("lib_idx"),
            col("l.f" + e).as("i_f"),
            Knn.dist(Knn.coords(e)).as("dist")
          )): _*
        )
      val query = k :+ col("t_idx")
      val nn = Knn.weighted(Knn.nearest(pairs, query, lit(e + 1)), query)
      Knn
        .average(nn, query :+ col("actual"), "i_f", "pred")
        .select((k :+ lit(e).as("e") :+ col("actual") :+ col("pred")): _*)
    }
    Knn
      .pearsonOr0(
        perE.reduce(_ unionByName _).groupBy((k :+ col("e")): _*),
        col("actual"),
        col("pred"),
        "rho",
        count(lit(1)).as("n_pred")
      )
      .select((k :+ col("e") :+ col("n_pred") :+ (round(col("rho"), 6) + lit(0.0)).as("rho")): _*)
  }

  /** Prediction-decay sweep: per-(series, tp) skill for tp = 1..maxTp at a
    * FIXED embedding dimension e. The library is every point carrying the
    * full horizon (f{maxTp} non-null), so the neighbor set and weights are
    * identical across tp — the kNN runs once and the horizons share one
    * groupBy (per-tp weighted sums as parallel aggregate columns, then an
    * in-stage unpivot). Output: (keys..., tp: int, n_pred: long, rho).
    */
  def tpSweep(
      df: DataFrame,
      keys: Seq[String],
      order: Seq[Column],
      value: Column,
      e: Int,
      maxTp: Int,
      tau: Int = 1
  ): DataFrame = {
    require(e >= 1 && tau >= 1 && maxTp >= 1, "e, tau, maxTp must be >= 1")
    val k = keys.map(col)
    val w = Window.partitionBy(k: _*).orderBy(order: _*)
    val leadCols = (0 until e).map { j =>
      (if (j == 0) value else lead(value, j * tau).over(w)).as(s"e$j")
    } ++ (1 to maxTp).map { t =>
      lead(value, (e - 1) * tau + t).over(w).as(s"f$t")
    }
    val emb = df
      .select(k ++ Seq((row_number().over(w) - 1).cast("long").as("idx")) ++ leadCols: _*)
      // the full-horizon restriction that makes the neighbor set tp-invariant
      .filter(col(s"f$maxTp").isNotNull)
      .localCheckpoint()

    val pairs = Knn
      .leaveOneOut(emb, keys)
      .select(
        (keys.map(kn => col(s"q.$kn").as(kn)) ++ Seq(
          col("q.idx").as("t_idx"),
          col("l.idx").as("lib_idx"),
          Knn.dist(Knn.coords(e)).as("dist")
        ) ++ (1 to maxTp).flatMap(t =>
          Seq(col(s"q.f$t").as(s"tf$t"), col(s"l.f$t").as(s"if$t"))
        )): _*
      )
    val query = k :+ col("t_idx")
    val nn = Knn.weighted(Knn.nearest(pairs, query, lit(e + 1)), query)
    // ONE aggregation carries every horizon as a column pair (actual via
    // group key, weighted neighbor sum via agg) ...
    val horizons = 1 to maxTp
    val sums = Knn.weightSums(nn, query ++ horizons.map(t => col(s"tf$t")), horizons.map(t => s"if$t"): _*)
    // ... then unpivots in-stage (stack generator — no shuffle, no per-tp
    // re-join) to (tp, actual, pred) rows
    val stacked = stack(lit(maxTp) +: horizons.flatMap(t => Seq(lit(t), col(s"tf$t"), Knn.averageOf(s"if$t"))): _*)
    val unpivoted = sums.select(k :+ stacked.as(Seq("tp", "actual", "pred")): _*)
    Knn
      .pearsonOr0(
        unpivoted.groupBy((k :+ col("tp")): _*),
        col("actual"),
        col("pred"),
        "rho",
        count(lit(1)).as("n_pred")
      )
      .select((k :+ col("tp") :+ col("n_pred") :+ (round(col("rho"), 6) + lit(0.0)).as("rho")): _*)
  }
}
