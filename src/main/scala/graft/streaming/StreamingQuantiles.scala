package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.BinSpec
import graft.operators.HistogramOps

/** Streaming twin of the RankOps cut-key machinery (round 9): maintain the
  * machinery's HISTOGRAM STATE incrementally and read ntile cuts off it at
  * any time — no re-ranking of history, ever.
  *
  * The batch family (RankOps.ntileCuts / multiNtileCuts) derives exact
  * quantile cuts from two bounded passes: a fixed-bin histogram locates
  * each boundary's bin, a rank pass inside the boundary bins recovers the
  * exact key. Under Structured Streaming the second pass is impossible by
  * definition (history is gone), but the FIRST is a per-bin `count`
  * aggregate — associative and commutative (the same merge the reference
  * folds per-tile histograms with, compute_histogram/main.py:244-245), so
  * it incrementally folds into the state store. Cuts read from that state
  * are exact at BIN RESOLUTION: the true order statistic provably lies in
  * the reported bin, so the cut value (the bin's upper edge) is within one
  * bin width of the exact batch cut — the error bound travels with every
  * output row as `err_hi − err_lo`. Narrow bins or a second offline pass
  * recover exactness; StreamingQuantilesSpec pins state equivalence, cut
  * agreement, and the bracket property against the exact batch operator.
  *
  * State size: ≤ `spec.bins` rows per group — bounded by a constant, the
  * family's cardinality-reduction-before-state invariant.
  *
  * The bin spec comes from configuration or a prior stats pass (the same
  * trade [[StreamingHistogram]] makes): a fixed quantization domain is the
  * price of mergeable streaming state.
  */
object StreamingQuantiles {

  /** The incremental state: per-(group, bin) counts. The same expression
    * tree runs batch or streaming (update/complete mode aggregate). State
    * is ≤ `spec.bins` rows PER GROUP — bounded per key, the shape the
    * state store needs.
    */
  def binCountsBy(values: DataFrame, spec: BinSpec, grpCols: Seq[String]): DataFrame =
    values
      .filter(col("value").isNotNull && !isnan(col("value")))
      .select(grpCols.map(col) :+ HistogramOps.quantize(col("value"), spec).as("code"): _*)
      .filter(HistogramOps.inRange(col("code"), spec.lo, spec.hi))
      .select(grpCols.map(col) :+ HistogramOps.clampToLastBin(col("code"), spec.hi).as("bin"): _*)
      .groupBy((grpCols :+ "bin").map(col): _*)
      .agg(count(lit(1)).as("cnt"))

  /** Ungrouped [[binCountsBy]]. */
  def binCounts(values: DataFrame, spec: BinSpec): DataFrame =
    binCountsBy(values, spec, Seq.empty)

  /** ntile(k) cuts read from a bin-count state relation `(bin, cnt)`:
    * one row per boundary j ∈ [1, k) with the boundary rank, the bin
    * holding it, and the bin's value interval `[err_lo, err_hi]` — the
    * exact batch cut key provably lies inside it, and `err_hi` is the
    * deterministic streaming cut value. The window runs over the ≤ bins
    * aggregated state, never over data.
    */
  def cutsFromState(state: DataFrame, spec: BinSpec, k: Int): DataFrame =
    cutsFromStateBy(state, spec, k, Seq.empty)

  /** Per-group [[cutsFromState]]: both windows (running total, group
    * total) run over the ≤ bins-per-group aggregated state, never over
    * data — the family's cardinality-reduction-before-window rule.
    */
  def cutsFromStateBy(
      state: DataFrame,
      spec: BinSpec,
      k: Int,
      grpCols: Seq[String]): DataFrame = {
    require(k >= 2, "cutsFromState needs k >= 2")
    val wOrd = Window
      .partitionBy(grpCols.map(col): _*)
      .orderBy(col("bin"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val wAll = Window
      .partitionBy(grpCols.map(col): _*)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    state
      .withColumn("cum", sum(col("cnt")).over(wOrd))
      .withColumn("cum_prev", col("cum") - col("cnt"))
      .withColumn("n", sum(col("cnt")).over(wAll))
      .select(
        grpCols.map(col) ++ Seq(
          col("bin"), col("cum"), col("cum_prev"), col("n"),
          explode(array((1 until k).map { j =>
            struct(
              lit(j).as("j"),
              (expr(s"n div $k") * j + least(lit(j.toLong), expr(s"n % $k"))).as("t"))
          }: _*)).as("tj")): _*)
      .filter(col("tj.t") > col("cum_prev") && col("tj.t") <= col("cum"))
      .select(
        grpCols.map(col) ++ Seq(
          col("tj.j").as("j"),
          col("tj.t").as("boundary_rank"),
          col("bin"),
          HistogramOps.binEdge(col("bin"), spec).as("err_lo"),
          HistogramOps.binEdge(col("bin") + 1, spec).as("err_hi")): _*)
      .orderBy((grpCols :+ "j").map(col): _*)
  }
}
