package graft.ccm

import org.apache.spark.sql.{Column, DataFrame, RelationalGroupedDataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The kNN cross-map every CCM-family operator shares — the reference's
  * one forecaster (`lib/ccm.ex:142-177,246-262`) and its skill
  * (`lib/ccm.ex:187-213`), written once as Catalyst expressions:
  *
  *  - [[join]] / [[leaveOneOut]]: the keyed self-join that enumerates
  *    candidate (query, library) pairs, sides aliased `q` and `l`;
  *  - [[dist]]: Euclidean distance `sqrt(Σ (q.c − l.c)·(q.c − l.c))`;
  *  - [[nearest]]: top-k per query ordered by `(dist, lib_idx)`;
  *  - [[weighted]]: the exact-hit / stabilizer weight `w`;
  *  - [[weightSums]] / [[averageOf]] / [[average]]: the weighted
  *    neighbour average, `sw = 0` → 0.0;
  *  - [[pearsonOr0]]: Pearson skill, degenerate → 0.0.
  *
  * Pair relations carry a `dist` column and a `lib_idx` column (the
  * library row's index, the deterministic tie-break). Every piece keeps
  * whole-stage codegen and is replayed verbatim by the DuckDB oracle SQL.
  */
object Knn {

  /** Candidate pairs: `q` joined to `l` on equal `keys` and `cond`. */
  def join(q: DataFrame, l: DataFrame, keys: Seq[String], cond: Column): DataFrame =
    q.as("q").join(l.as("l"), keys.map(k => col(s"q.$k") === col(s"l.$k")).reduce(_ && _) && cond)

  /** Leave-one-out pairs: every other row with the same `keys` (the self
    * pair `q.idx = l.idx` is excluded).
    */
  def leaveOneOut(rel: DataFrame, keys: Seq[String]): DataFrame =
    join(rel, rel, keys, col("q.idx") =!= col("l.idx"))

  /** Embedding coordinate names e0..e{E-1}. */
  def coords(e: Int): Seq[String] = (0 until e).map(j => s"e$j")

  /** Euclidean distance between the `q` and `l` sides over `coords`
    * (`lib/ccm.ex:179-185`). Products, not pow(): the oracle replays the
    * identical multiply.
    */
  def dist(coords: Seq[String]): Column =
    sqrt(coords.map(c => (col(s"q.$c") - col(s"l.$c")) * (col(s"q.$c") - col(s"l.$c"))).reduce(_ + _))

  /** The `k` nearest pairs per `query` by `(dist, lib_idx)`
    * (`lib/ccm.ex:147-160`). A literal `k` lets InferWindowGroupLimit
    * rewrite the rank filter into a partial + final TopK, so only k rows
    * per query cross the shuffle; a column-valued limit keeps the full
    * pair relation flowing through the exchange.
    */
  def nearest(pairs: DataFrame, query: Seq[Column], k: Column): DataFrame = {
    val w = Window.partitionBy(query: _*).orderBy(col("dist").asc, col("lib_idx").asc)
    pairs.withColumn("nn_rank", row_number().over(w)).filter(col("nn_rank") <= k)
  }

  /** Adds `min_dist` (per `query`) and the weight `w` (`lib/ccm.ex:246-262`):
    * exact hits (dist < 1e-12) weigh 1.0, others exp(-dist / (min_dist + 1e-8)).
    * graft_exp is the codegen'd IEEE-only exp series, bit-identical to the
    * oracle's ExactExp tree.
    */
  def weighted(nn: DataFrame, query: Seq[Column]): DataFrame = {
    graft.functions.GraftFunctions.register(nn.sparkSession)
    nn.withColumn("min_dist", min(col("dist")).over(Window.partitionBy(query: _*)))
      .withColumn(
        "w",
        when(col("dist") < 1e-12, 1.0).otherwise(expr("graft_exp((- dist) / (min_dist + 1e-8D))"))
      )
  }

  /** Weight sums per `group`: `sw` = Σ w, and `swt_<t>` = Σ w·t for each
    * target column t (targets share one weight sum).
    */
  def weightSums(weighted: DataFrame, group: Seq[Column], targets: String*): DataFrame =
    weighted
      .groupBy(group: _*)
      .agg(sum(col("w")).as("sw"), targets.map(t => sum(col("w") * col(t)).as(s"swt_$t")): _*)

  /** The weighted neighbour average of `target` over [[weightSums]]'
    * columns (`lib/ccm.ex:168-175`); a zero weight sum predicts 0.0.
    */
  def averageOf(target: String): Column =
    when(col("sw") === 0.0, 0.0).otherwise(col(s"swt_$target") / col("sw"))

  /** [[weightSums]] + [[averageOf]] for one target, as column `out`. */
  def average(weighted: DataFrame, group: Seq[Column], target: String, out: String): DataFrame =
    weightSums(weighted, group, target).select(group :+ averageOf(target).as(out): _*)

  /** Pearson correlation of `a` and `b` per group of `grouped`, as column
    * `out` next to the `more` aggregates (`lib/ccm.ex:187-213`): 0.0 when
    * a group has fewer than two rows, a NaN moment or zero variance. Built
    * from co-moments, not corr(): under ANSI mode corr throws
    * DIVIDE_BY_ZERO on a zero-variance group, so the guard must sit before
    * the division.
    */
  def pearsonOr0(
      grouped: RelationalGroupedDataset,
      a: Column,
      b: Column,
      out: String,
      more: Column*
  ): DataFrame = {
    val (cv, s1, s2) = (col("__cv"), col("__s1"), col("__s2"))
    grouped
      .agg(covar_samp(a, b).as("__cv"), stddev_samp(a).as("__s1") +: stddev_samp(b).as("__s2") +: more: _*)
      .withColumn(
        out,
        when(
          cv.isNull || s1.isNull || s2.isNull || isnan(cv) || isnan(s1) || isnan(s2) ||
            s1 === 0.0 || s2 === 0.0,
          0.0
        ).otherwise(cv / (s1 * s2))
      )
      .drop("__cv", "__s1", "__s2")
  }
}
