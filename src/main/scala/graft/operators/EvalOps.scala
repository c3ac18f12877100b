package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Model/data-evaluation audits: the metrics a training-data pipeline
  * computes to judge a quality-score model or detect distribution shift —
  * ranking power (AUC), probability calibration (reliability table + ECE),
  * population stability (PSI), and first-digit conformance (Benford).
  *
  * Every operator is one scan plus a bounded final reduction:
  *  - continuous values are quantized to integer keys up front
  *    (`cast` truncation, mirrored by `trunc()` in the DuckDB oracles);
  *  - unbounded-cardinality keys are gridded to a FIXED bin count via a
  *    1-row min/max stats relation (broadcast cross join), so every
  *    ORDER BY window in the final step runs over ≤ `bins` rows — the
  *    same bounded-window discipline as `drift_ks`/RankOps;
  *  - cross-row float accumulation never happens: sums run over exact
  *    BIGINT (or DECIMAL(38,0) where products can pass 2^63), and each
  *    exposed double is a single per-row arithmetic chain over those
  *    integers, rounded to 6 decimals — bit-reproducible cross-engine.
  *
  * Reference scope note: the reference pipeline (main.py) stops at
  * histogram/decile summaries; these audits are the adjacent consumers of
  * exactly that binned machinery (AUC/ECE/PSI are all computations ON a
  * histogram), which is why they share its bin-grid idiom.
  */
object EvalOps {

  /** Distinct-score ceiling for [[upliftQini]]'s single-partition
    * cumulative window — 2¹⁶ rows is far beyond any sane score binning
    * (deciles/percentiles/micro-buckets) yet small enough that the
    * unpartitioned window stays a trivial task.
    */
  val MaxQiniScores: Int = 65536

  /** Binned Mann-Whitney AUC of an integer-quantized score against a
    * binary label, on a fixed `bins`-cell grid.
    *
    * The exact Mann-Whitney statistic needs a global rank of every score
    * — at 100 TB that is an unpartitioned window over the corpus (the
    * §3.3 anti-pattern). Like `drift_ks`, the engine grids scores first:
    * one min/max stats pass, then per-bin positive/negative counts, then
    * the pair count U = Σ_b pos_b · (negBelow_b + neg_b / 2) — ties
    * within a bin count 1/2, so the result IS the exact AUC of the
    * grid-quantized score (grid resolution is the documented knob). The
    * ECDF window runs over ≤ `bins` rows; pair products run in
    * DECIMAL(38,0) because pos × neg overflows BIGINT near 10^10 rows.
    *
    * `scoreQ` must already be an integral quantization of the score (the
    * caller picks the `trunc(score · 10^k)` resolution); `posFlag` must
    * be 1L / 0L. Output: one row `(n_pos, n_neg, auc)`.
    */
  def binnedAuc(df: DataFrame, scoreQ: Column, posFlag: Column,
                bins: Int = 256): DataFrame = {
    val e = df.select(scoreQ.cast("bigint").as("c"), posFlag.cast("bigint").as("y"))
    val st = e.agg(min(col("c")).as("minc"), max(col("c")).as("maxc"))
    val g = e.crossJoin(st)
      .select(expr(s"((c - minc) * $bins) DIV (maxc - minc + 1)").as("bin"), col("y"))
      .groupBy(col("bin"))
      .agg(sum(col("y")).as("n_pos"), sum(lit(1L) - col("y")).as("n_neg"))
    val cum = Window.orderBy(col("bin"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val dbl = (c: Column) => c.cast("double")
    g.select(
      col("n_pos"), col("n_neg"),
      (sum(col("n_neg")).over(cum) - col("n_neg")).as("neg_below"))
      .agg(
        sum(col("n_pos")).as("n_pos"),
        sum(col("n_neg")).as("n_neg"),
        // 2U in one integer sum: pos·(2·negBelow + neg) — exact, no halves
        sum(col("n_pos").cast("decimal(38,0)") *
          (lit(2L) * col("neg_below") + col("n_neg")).cast("decimal(38,0)"))
          .as("u2"))
      .select(
        col("n_pos"), col("n_neg"),
        round(dbl(col("u2")) / (lit(2.0) * dbl(col("n_pos")) * dbl(col("n_neg"))), 6)
          .as("auc"))
  }

  /** [[binnedAuc]] with a DeLong 95% confidence interval, from the same
    * ≤ `bins`-row binned relation. DeLong's estimator needs each
    * observation's placement value; under binning all observations in a
    * cell are tied, so the placement is constant per cell —
    * v_b = (negBelow_b + neg_b/2)/N for positives,
    * w_b = (posAbove_b + pos_b/2)/P for negatives — and the component
    * variances S10/S01 are cell-weighted sums over the bin relation, not
    * over rows. Var(AUC) = S10/P + S01/N (DeLong, Biometrics 1988).
    *
    * Cross-row double accumulation would be merge-order-dependent, so each
    * cell's variance term is quantized to integer NANOS before the sum
    * (the repo's `round(x·1e9)` convention) — the result is
    * bit-reproducible cross-engine. Output: one row
    * `(n_pos, n_neg, auc, se, ci_lo, ci_hi)`.
    */
  def binnedAucCi(df: DataFrame, scoreQ: Column, posFlag: Column,
                  bins: Int = 256): DataFrame = {
    val e = df.select(scoreQ.cast("bigint").as("c"), posFlag.cast("bigint").as("y"))
    val st = e.agg(min(col("c")).as("minc"), max(col("c")).as("maxc"))
    val g = e.crossJoin(st)
      .select(expr(s"((c - minc) * $bins) DIV (maxc - minc + 1)").as("bin"), col("y"))
      .groupBy(col("bin"))
      .agg(sum(col("y")).as("n_pos"), sum(lit(1L) - col("y")).as("n_neg"))
    val cum = Window.orderBy(col("bin"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val rcum = Window.orderBy(col("bin").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val all = Window.orderBy(col("bin"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val dbl = (c: Column) => c.cast("double")
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val w = g.select(
      col("bin"), col("n_pos"), col("n_neg"),
      (sum(col("n_neg")).over(cum) - col("n_neg")).as("neg_below"),
      (sum(col("n_pos")).over(rcum) - col("n_pos")).as("pos_above"),
      sum(col("n_pos")).over(all).as("p"),
      sum(col("n_neg")).over(all).as("n"))
      .withColumn("u2",
        sum(dec(col("n_pos")) * dec(lit(2L) * col("neg_below") + col("n_neg"))).over(all))
    // every per-row double below is a chain over exact integers shared by
    // all rows (u2, p, n are window constants) — deterministic
    val auc = dbl(col("u2")) / (lit(2.0) * dbl(col("p")) * dbl(col("n")))
    val vB = (lit(2.0) * dbl(col("neg_below")) + dbl(col("n_neg"))) /
      (lit(2.0) * dbl(col("n")))
    val wB = (lit(2.0) * dbl(col("pos_above")) + dbl(col("n_pos"))) /
      (lit(2.0) * dbl(col("p")))
    val t10 = round(dbl(col("n_pos")) * (vB - auc) * (vB - auc) * lit(1e9)).cast("bigint")
    val t01 = round(dbl(col("n_neg")) * (wB - auc) * (wB - auc) * lit(1e9)).cast("bigint")
    val folded = w
      .select(col("n_pos"), col("n_neg"), col("p"), col("n"), col("u2"),
        t10.as("t10"), t01.as("t01"))
      .agg(
        max(col("p")).as("n_pos"),
        max(col("n")).as("n_neg"),
        max(dbl(col("u2"))).as("u2d"),
        sum(col("t10")).as("s10n"),
        sum(col("t01")).as("s01n"))
    val aucOut = col("u2d") / (lit(2.0) * dbl(col("n_pos")) * dbl(col("n_neg")))
    val s10 = dbl(col("s10n")) / (lit(1e9) * (dbl(col("n_pos")) - lit(1.0)))
    val s01 = dbl(col("s01n")) / (lit(1e9) * (dbl(col("n_neg")) - lit(1.0)))
    val se = sqrt(s10 / dbl(col("n_pos")) + s01 / dbl(col("n_neg")))
    val defined = col("n_pos") > 1L && col("n_neg") > 1L
    folded.select(
      col("n_pos"), col("n_neg"),
      round(aucOut, 6).as("auc"),
      when(defined, round(se, 6)).as("se"),
      when(defined, round(greatest(aucOut - lit(1.959964) * se, lit(0.0)), 6)).as("ci_lo"),
      when(defined, round(least(aucOut + lit(1.959964) * se, lit(1.0)), 6)).as("ci_hi"))
  }

  /** Paired DeLong comparison of TWO scores' AUCs on the SAME labeled
    * items — "does the new quality signal rank documents better than the
    * old one, beyond correlated-sample noise?". Unpaired z-tests overstate
    * significance because both scores see the same items; DeLong's paired
    * variance subtracts the placement covariance.
    *
    * Both scores are gridded (one shared min/max stats pass) and the
    * corpus reduced ONCE to the ≤ bins² joint (b1, b2) cell relation —
    * the only corpus aggregation; per-score margins, placements (v for
    * positives, w for negatives — constant per bin under binned ties) and
    * U-statistics all derive from that cached relation. Var(AUC₁ − AUC₂) =
    * [S10₁₁ + S10₂₂ − 2·S10₁₂]/P + [S01₁₁ + S01₂₂ − 2·S01₁₂]/N with each
    * S a cell-weighted (co)variance of placements, per-cell terms
    * integer-nano quantized before the sum (bit-reproducible; same
    * convention as [[binnedAucCi]]). Output: one row
    * `(n_pos, n_neg, auc1, auc2, d_auc, se, z)`; se NULL unless both
    * classes have > 1 item, z additionally NULL when the paired variance
    * is ≤ 0 (identical placements).
    */
  def binnedAucCompare(df: DataFrame, s1Q: Column, s2Q: Column, posFlag: Column,
                       bins: Int = 256): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val dbl = (c: Column) => c.cast("double")
    val e = df.select(s1Q.cast("bigint").as("c1"), s2Q.cast("bigint").as("c2"),
      posFlag.cast("bigint").as("y"))
    val st = e.agg(
      min(col("c1")).as("min1"), max(col("c1")).as("max1"),
      min(col("c2")).as("min2"), max(col("c2")).as("max2"))
    // the one corpus pass; ≤ bins² cells, reused by both margins + final.
    val joint = DedupOps.registerCache(
      e.crossJoin(st)
        .select(
          expr(s"((c1 - min1) * $bins) DIV (max1 - min1 + 1)").as("b1"),
          expr(s"((c2 - min2) * $bins) DIV (max2 - min2 + 1)").as("b2"),
          col("y"))
        .groupBy(col("b1"), col("b2"))
        .agg(sum(col("y")).as("n_pos"), sum(lit(1L) - col("y")).as("n_neg"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    def margin(b: String): DataFrame = {
      val g = joint.groupBy(col(b).as("bin"))
        .agg(sum(col("n_pos")).as("mp"), sum(col("n_neg")).as("mn"))
      val cum = Window.orderBy(col("bin"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val rcum = Window.orderBy(col("bin").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      g.select(col("bin"), col("mp"), col("mn"),
        (sum(col("mn")).over(cum) - col("mn")).as("negb"),
        (sum(col("mp")).over(rcum) - col("mp")).as("posa"))
    }
    val m1 = margin("b1")
    val m2 = margin("b2")
    def totals(m: DataFrame, u2Name: String): DataFrame = m.agg(
      sum(col("mp")).as("p_" + u2Name), sum(col("mn")).as("n_" + u2Name),
      sum(dec(col("mp")) * dec(lit(2L) * col("negb") + col("mn"))).as(u2Name))
    val consts = totals(m1, "u2a").crossJoin(totals(m2, "u2b"))
      .select(col("p_u2a").as("p"), col("n_u2a").as("nn"),
        col("u2a"), col("u2b"))
    val m1j = m1.select(col("bin").as("b1"), col("mp").as("mp1"), col("mn").as("mn1"),
      col("negb").as("negb1"), col("posa").as("posa1"))
    val m2j = m2.select(col("bin").as("b2"), col("mp").as("mp2"), col("mn").as("mn2"),
      col("negb").as("negb2"), col("posa").as("posa2"))
    val cells = joint
      .join(broadcast(m1j), Seq("b1"))
      .join(broadcast(m2j), Seq("b2"))
      .crossJoin(broadcast(consts))
    val auc1 = dbl(col("u2a")) / (lit(2.0) * dbl(col("p")) * dbl(col("nn")))
    val auc2 = dbl(col("u2b")) / (lit(2.0) * dbl(col("p")) * dbl(col("nn")))
    val v1 = (lit(2.0) * dbl(col("negb1")) + dbl(col("mn1"))) / (lit(2.0) * dbl(col("nn")))
    val v2 = (lit(2.0) * dbl(col("negb2")) + dbl(col("mn2"))) / (lit(2.0) * dbl(col("nn")))
    val w1 = (lit(2.0) * dbl(col("posa1")) + dbl(col("mp1"))) / (lit(2.0) * dbl(col("p")))
    val w2 = (lit(2.0) * dbl(col("posa2")) + dbl(col("mp2"))) / (lit(2.0) * dbl(col("p")))
    def nano(c: Column): Column = round(c * lit(1e9)).cast("bigint")
    val folded = cells.select(
      col("p"), col("nn"), col("u2a"), col("u2b"),
      nano(dbl(col("n_pos")) * (v1 - auc1) * (v1 - auc1)).as("t10_11"),
      nano(dbl(col("n_pos")) * (v2 - auc2) * (v2 - auc2)).as("t10_22"),
      nano(dbl(col("n_pos")) * (v1 - auc1) * (v2 - auc2)).as("t10_12"),
      nano(dbl(col("n_neg")) * (w1 - auc1) * (w1 - auc1)).as("t01_11"),
      nano(dbl(col("n_neg")) * (w2 - auc2) * (w2 - auc2)).as("t01_22"),
      nano(dbl(col("n_neg")) * (w1 - auc1) * (w2 - auc2)).as("t01_12"))
      .agg(
        max(col("p")).as("n_pos"), max(col("nn")).as("n_neg"),
        max(dbl(col("u2a"))).as("u2ad"), max(dbl(col("u2b"))).as("u2bd"),
        sum(col("t10_11")).as("s10_11"), sum(col("t10_22")).as("s10_22"),
        sum(col("t10_12")).as("s10_12"),
        sum(col("t01_11")).as("s01_11"), sum(col("t01_22")).as("s01_22"),
        sum(col("t01_12")).as("s01_12"))
    val a1 = col("u2ad") / (lit(2.0) * dbl(col("n_pos")) * dbl(col("n_neg")))
    val a2 = col("u2bd") / (lit(2.0) * dbl(col("n_pos")) * dbl(col("n_neg")))
    val pm1 = lit(1e9) * (dbl(col("n_pos")) - lit(1.0))
    val nm1 = lit(1e9) * (dbl(col("n_neg")) - lit(1.0))
    val varD =
      (dbl(col("s10_11") + col("s10_22") - lit(2L) * col("s10_12")) / pm1) /
        dbl(col("n_pos")) +
        (dbl(col("s01_11") + col("s01_22") - lit(2L) * col("s01_12")) / nm1) /
          dbl(col("n_neg"))
    val se = sqrt(varD)
    val defined = col("n_pos") > 1L && col("n_neg") > 1L
    folded.select(
      col("n_pos"), col("n_neg"),
      round(a1, 6).as("auc1"),
      round(a2, 6).as("auc2"),
      round(a1 - a2, 6).as("d_auc"),
      when(defined && varD >= 0.0, round(se, 6)).as("se"),
      when(defined && varD > 0.0, round((a1 - a2) / se, 6)).as("z"))
  }

  /** Grouped form of [[binnedAuc]]: one AUC row per group, each on its own
    * `bins`-cell grid (per-group min/max from ONE grouped stats pass,
    * joined back on the group key — AQE broadcasts it when the group
    * relation is small). The ECDF window is PARTITIONED BY group and
    * ordered over ≤ `bins` rows per group — groups × bins parallelism,
    * never a global sort. Groups missing a class get a NULL auc (the
    * statistic is undefined, not 0) — the oracle mirrors the CASE.
    * Output per group, ordered: `(group, n_pos, n_neg, auc)`.
    */
  def binnedAucBy(df: DataFrame, groupCol: String, scoreQ: Column, posFlag: Column,
                  bins: Int = 256): DataFrame = {
    val e = df.select(col(groupCol).as("g"), scoreQ.cast("bigint").as("c"),
      posFlag.cast("bigint").as("y"))
    val st = e.groupBy(col("g")).agg(min(col("c")).as("minc"), max(col("c")).as("maxc"))
    val binned = e.join(st, "g")
      .select(col("g"), expr(s"((c - minc) * $bins) DIV (maxc - minc + 1)").as("bin"),
        col("y"))
      .groupBy(col("g"), col("bin"))
      .agg(sum(col("y")).as("n_pos"), sum(lit(1L) - col("y")).as("n_neg"))
    val cum = Window.partitionBy(col("g")).orderBy(col("bin"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val dbl = (c: Column) => c.cast("double")
    binned
      .select(col("g"), col("n_pos"), col("n_neg"),
        (sum(col("n_neg")).over(cum) - col("n_neg")).as("neg_below"))
      .groupBy(col("g"))
      .agg(
        sum(col("n_pos")).as("n_pos"),
        sum(col("n_neg")).as("n_neg"),
        sum(col("n_pos").cast("decimal(38,0)") *
          (lit(2L) * col("neg_below") + col("n_neg")).cast("decimal(38,0)"))
          .as("u2"))
      .select(
        col("g").as(groupCol), col("n_pos"), col("n_neg"),
        when(col("n_pos") > 0L && col("n_neg") > 0L,
          round(dbl(col("u2")) / (lit(2.0) * dbl(col("n_pos")) * dbl(col("n_neg"))), 6))
          .as("auc"))
      .orderBy(col(groupCol))
  }

  /** Cumulative-gains / lift table over probability deciles: bins are the
    * same integer-micros cells as [[calibrationTable]], accumulated from
    * the HIGHEST-confidence bin down — `capture` is the share of all
    * positives recovered at or above the bin, `lift` the positive-rate
    * ratio vs the base rate. One grouped aggregation over ≤ `bins` keys;
    * cumulative + total windows ride the ≤ `bins`-row relation; lift is
    * a ratio of exact integer counts, one division chain per row.
    * Output per populated bin, highest first:
    * `(bin, n, n_pos, cum_n, cum_pos, capture, lift)`.
    */
  def liftCurve(df: DataFrame, probMicro: Column, posFlag: Column,
                bins: Int = 10): DataFrame = {
    val e = df.select(probMicro.cast("bigint").as("pm"), posFlag.cast("bigint").as("y"))
    val width = 1000000L / bins
    val g = e.select(least(expr(s"pm DIV $width"), lit((bins - 1).toLong)).as("bin"), col("y"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("n_pos"))
    val desc = Window.orderBy(col("bin").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val all = Window.orderBy(col("bin"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val dbl = (c: Column) => c.cast("double")
    g.select(col("bin"), col("n"), col("n_pos"),
      sum(col("n")).over(desc).as("cum_n"),
      sum(col("n_pos")).over(desc).as("cum_pos"),
      sum(col("n")).over(all).as("nt"),
      sum(col("n_pos")).over(all).as("pt"))
      .select(
        col("bin"), col("n"), col("n_pos"), col("cum_n"), col("cum_pos"),
        when(col("pt") > 0L, round(dbl(col("cum_pos")) / dbl(col("pt")), 6)).as("capture"),
        when(col("pt") > 0L,
          round(dbl(col("cum_pos")) * dbl(col("nt")) / (dbl(col("cum_n")) * dbl(col("pt"))), 6))
          .as("lift"))
      .orderBy(col("bin").desc)
  }

  /** Reliability table + expected-calibration-error contributions for a
    * micro-quantized probability column against a binary outcome.
    *
    * `probMicro` is the predicted probability in integer MICROS
    * (0 … 1,000,000 — the caller quantizes, so the bin edge arithmetic is
    * integer-exact in both engines); `posFlag` is 1L / 0L. One grouped
    * aggregation over ≤ `bins` keys; the table total rides a window over
    * those same ≤ `bins` rows. The ECE numerator
    * |Σy · 10^6 − Σpm| stays integer until the final division — no float
    * sum ever crosses rows. Output per populated bin, ordered:
    * `(bin, n, n_pos, conf, acc, ece_contrib)`; ECE itself is the trivial
    * sum of the contributions (same readout convention as `chi2_drift`).
    */
  def calibrationTable(df: DataFrame, probMicro: Column, posFlag: Column,
                       bins: Int = 10): DataFrame = {
    val e = df.select(probMicro.cast("bigint").as("pm"), posFlag.cast("bigint").as("y"))
    val width = 1000000L / bins
    val g = e.select(least(expr(s"pm DIV $width"), lit((bins - 1).toLong)).as("bin"),
        col("pm"), col("y"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("n_pos"), sum(col("pm")).as("sum_pm"))
    val all = Window.orderBy(col("bin"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val dbl = (c: Column) => c.cast("double")
    g.select(col("bin"), col("n"), col("n_pos"), col("sum_pm"),
      sum(col("n")).over(all).as("n_total"))
      .select(
        col("bin"), col("n"), col("n_pos"),
        round(dbl(col("sum_pm")) / (dbl(col("n")) * lit(1000000.0)), 6).as("conf"),
        round(dbl(col("n_pos")) / dbl(col("n")), 6).as("acc"),
        // |Σy·10^6 − Σpm| is exact BIGINT; one division at the end
        round(dbl(abs(col("n_pos") * lit(1000000L) - col("sum_pm"))) /
          (lit(1000000.0) * dbl(col("n_total"))), 6).as("ece_contrib"))
      .orderBy(col("bin"))
  }

  /** Binned Gini coefficient of a non-negative integer-quantized amount:
    * the inequality gauge (is 1% of the corpus 99% of the tokens? is one
    * customer all the revenue?) a pipeline checks before weighting or
    * capping.
    *
    * The exact Gini needs the full sorted cumulative sum — a global-rank
    * window (the §3.3 anti-pattern). Like [[binnedAuc]], the engine grids
    * the values (one min/max stats pass, `bins` cells) and computes the
    * EXACT Gini of the binned distribution, where every row in a bin
    * takes the bin's representative value — the bin's minimum actual
    * amount, an exact integer from the same grouped aggregation (no
    * float edges). With per-bin count c_b, representative x_b, running
    * count below C_b, and totals n / T = Σ c_b·x_b:
    * G = Σ x_b·c_b·(2·C_b + c_b − n) / (n·T) — one ≤ `bins`-row window,
    * all products in DECIMAL(38,0). Output: one row
    * `(n, total_amount, gini)` (NULL gini when T = 0).
    */
  def binnedGini(df: DataFrame, amountQ: Column, bins: Int = 256): DataFrame = {
    val e = df.select(amountQ.cast("bigint").as("c")).filter(col("c") >= 0L)
    val st = e.agg(min(col("c")).as("minc"), max(col("c")).as("maxc"))
    val g = e.crossJoin(st)
      .select(expr(s"((c - minc) * $bins) DIV (maxc - minc + 1)").as("bin"), col("c"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("cnt"), min(col("c")).as("rep"))
    val cum = Window.orderBy(col("bin"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val dbl = (c: Column) => c.cast("double")
    val dec = (c: Column) => c.cast("decimal(38,0)")
    // Σ x_b·c_b·(2·C_b + c_b − n) = Σ x_b·c_b·(2·C_b + c_b) − n·T, so the
    // per-bin term never needs the global n — one aggregation suffices
    g.select(col("cnt"), col("rep"),
      (sum(col("cnt")).over(cum) - col("cnt")).as("below"))
      .agg(
        sum(col("cnt")).as("n"),
        sum(dec(col("rep")) * dec(col("cnt"))).as("t"),
        sum(dec(col("rep")) * dec(col("cnt")) *
          (lit(2L) * dec(col("below")) + dec(col("cnt")))).as("term"))
      .select(
        col("n"),
        col("t").cast("bigint").as("total_amount"),
        when(col("t") > 0L,
          round(dbl(col("term")) / (dbl(col("n")) * dbl(col("t"))) - lit(1.0), 6))
          .as("gini"))
  }

  /** Murphy decomposition of the Brier score for a micro-quantized
    * probability against a binary outcome: `brier` (the exact mean
    * squared error, from an all-integer sum of (pm − y·10^6)² in
    * DECIMAL(38,0)) and its calibration-table decomposition
    * reliability − resolution + uncertainty, where reliability =
    * Σ n_b(p̄_b − ȳ_b)²/N (the calibration gap [[calibrationTable]]
    * reads per bin), resolution = Σ n_b(ȳ_b − ȳ)²/N (how much the
    * forecast separates outcomes), uncertainty = ȳ(1 − ȳ).
    *
    * Cell terms are quantized to integer NANOS before summation (the
    * repo's merge-order-free accumulation convention); the decomposition
    * identity holds exactly only when forecasts are constant within a
    * bin, so the residual `brier − (rel − res + unc)` is the
    * within-bin forecast variance — a useful binning-resolution gauge,
    * exposed as `residual`. One grouped aggregation over ≤ `bins`
    * keys + one ≤ `bins`-row window. Output: one row
    * `(n, brier, reliability, resolution, uncertainty, residual)`.
    */
  def brierDecomposition(df: DataFrame, probMicro: Column, posFlag: Column,
                         bins: Int = 10): DataFrame = {
    val e = df.select(probMicro.cast("bigint").as("pm"), posFlag.cast("bigint").as("y"))
    val width = 1000000L / bins
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val g = e.select(least(expr(s"pm DIV $width"), lit((bins - 1).toLong)).as("bin"),
        col("pm"), col("y"))
      .groupBy(col("bin"))
      .agg(
        count(lit(1)).as("n_b"),
        sum(col("y")).as("s_y"),
        sum(col("pm")).as("s_pm"),
        sum(dec((col("pm") - col("y") * lit(1000000L)) *
          (col("pm") - col("y") * lit(1000000L)))).as("sq"))
    val all = Window.orderBy(col("bin"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val dbl = (c: Column) => c.cast("double")
    val w = g.select(col("bin"), col("n_b"), col("s_y"), col("s_pm"), col("sq"),
      sum(col("n_b")).over(all).as("n"),
      sum(col("s_y")).over(all).as("ty"))
    val pBar = dbl(col("s_pm")) / (dbl(col("n_b")) * lit(1e6))
    val yBarB = dbl(col("s_y")) / dbl(col("n_b"))
    val yBar = dbl(col("ty")) / dbl(col("n"))
    val relT = round(dbl(col("n_b")) * (pBar - yBarB) * (pBar - yBarB) * lit(1e9))
      .cast("bigint")
    val resT = round(dbl(col("n_b")) * (yBarB - yBar) * (yBarB - yBar) * lit(1e9))
      .cast("bigint")
    val folded = w
      .select(col("n_b"), col("sq"), col("n"), col("ty"),
        relT.as("rel_t"), resT.as("res_t"))
      .agg(
        max(col("n")).as("n"),
        max(col("ty")).as("ty"),
        sum(col("sq")).as("sq"),
        sum(col("rel_t")).as("rel_n"),
        sum(col("res_t")).as("res_n"))
    val n = dbl(col("n"))
    val yb = dbl(col("ty")) / n
    val brier = dbl(col("sq")) / (n * lit(1e12))
    val rel = dbl(col("rel_n")) / (lit(1e9) * n)
    val res = dbl(col("res_n")) / (lit(1e9) * n)
    val unc = yb * (lit(1.0) - yb)
    folded.select(
      col("n"),
      round(brier, 6).as("brier"),
      round(rel, 6).as("reliability"),
      round(res, 6).as("resolution"),
      round(unc, 6).as("uncertainty"),
      round(brier - (rel - res + unc), 6).as("residual"))
  }

  /** Population-stability-index contributions between two halves of a
    * population, on a fixed `bins`-cell grid over an integer-quantized
    * value.
    *
    * `valueQ` is the quantized measurement (e.g. price cents); `earlyFlag`
    * is 1L for the expected/reference half, 0L for the actual half. One
    * min/max stats pass grids the value; one grouped aggregation yields
    * per-bin (n_early, n_late); totals ride a ≤ `bins`-row window. Shares
    * are Laplace-smoothed by +1/2 per bin (so an empty bin contributes a
    * finite term instead of ±∞ — the standard PSI guard), and each
    * contribution (p_late − p_early)·ln(p_late / p_early) is one per-row
    * double chain over exact integers, rounded to 6 decimals. The scalar
    * PSI is the trivial sum of the rows (chi2_drift's readout convention).
    * Output per bin, ordered: `(bin, n_early, n_late, psi_contrib)`.
    */
  def psiContributions(df: DataFrame, valueQ: Column, earlyFlag: Column,
                       bins: Int = 16): DataFrame = {
    val e = df.select(valueQ.cast("bigint").as("c"), earlyFlag.cast("bigint").as("a"))
    val st = e.agg(min(col("c")).as("minc"), max(col("c")).as("maxc"))
    val g = e.crossJoin(st)
      .select(expr(s"((c - minc) * $bins) DIV (maxc - minc + 1)").as("bin"), col("a"))
      .groupBy(col("bin"))
      .agg(sum(col("a")).as("n_early"), sum(lit(1L) - col("a")).as("n_late"))
    val all = Window.orderBy(col("bin"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val dbl = (c: Column) => c.cast("double")
    val withTot = g
      .select(col("bin"), col("n_early"), col("n_late"),
        sum(col("n_early")).over(all).as("te"), sum(col("n_late")).over(all).as("tl"))
    val pe = (dbl(col("n_early")) + lit(0.5)) / (dbl(col("te")) + lit(bins * 0.5))
    val pl = (dbl(col("n_late")) + lit(0.5)) / (dbl(col("tl")) + lit(bins * 0.5))
    withTot.select(
      col("bin"), col("n_early"), col("n_late"),
      round((pl - pe) * log(pl / pe), 6).as("psi_contrib"))
      .orderBy(col("bin"))
  }

  /** Grouped form of [[psiContributions]]: one PSI breakdown per group,
    * each on its own `bins`-cell grid (per-group min/max from one grouped
    * stats pass joined back on the group key, like [[binnedAucBy]]). The
    * totals window is PARTITIONED BY group over ≤ `bins` rows per group —
    * groups × bins parallelism, the per-feature drift-monitor shape.
    * Smoothing matches the ungrouped form (+1/2 per CONFIGURED bin).
    * Output per (group, bin), ordered:
    * `(group, bin, n_early, n_late, psi_contrib)`.
    */
  def psiContributionsBy(df: DataFrame, groupCol: String, valueQ: Column,
                         earlyFlag: Column, bins: Int = 16): DataFrame = {
    val e = df.select(col(groupCol).as("g"), valueQ.cast("bigint").as("c"),
      earlyFlag.cast("bigint").as("a"))
    val st = e.groupBy(col("g")).agg(min(col("c")).as("minc"), max(col("c")).as("maxc"))
    val g = e.join(st, "g")
      .select(col("g"), expr(s"((c - minc) * $bins) DIV (maxc - minc + 1)").as("bin"),
        col("a"))
      .groupBy(col("g"), col("bin"))
      .agg(sum(col("a")).as("n_early"), sum(lit(1L) - col("a")).as("n_late"))
    val all = Window.partitionBy(col("g"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val dbl = (c: Column) => c.cast("double")
    val withTot = g
      .select(col("g"), col("bin"), col("n_early"), col("n_late"),
        sum(col("n_early")).over(all).as("te"), sum(col("n_late")).over(all).as("tl"))
    val pe = (dbl(col("n_early")) + lit(0.5)) / (dbl(col("te")) + lit(bins * 0.5))
    val pl = (dbl(col("n_late")) + lit(0.5)) / (dbl(col("tl")) + lit(bins * 0.5))
    withTot.select(
      col("g").as(groupCol), col("bin"), col("n_early"), col("n_late"),
      round((pl - pe) * log(pl / pe), 6).as("psi_contrib"))
      .orderBy(col(groupCol), col("bin"))
  }

  /** Binned Kendall tau-b rank correlation between two integer-quantized
    * scores — the tie-corrected concordance gauge (does the cheap quality
    * signal order documents the way the expensive one does?).
    *
    * The exact statistic needs all O(N²) pair orientations; the engine
    * grids both scores (one min/max stats pass, `bins`² cells) and counts
    * pair orientations CELL-wise: concordant pairs are Σ n_c·SW_c and
    * discordant Σ n_c·NW_c, where SW/NW (points strictly south-west /
    * north-west of the cell) come from two chained exclusive prefix sums
    * over the DENSIFIED bins × bins grid (column-cumulative within bx,
    * then across bx within by — a sparse grid would misalign the second
    * sum). Ties use the marginal identity: tau_b =
    * (C − D)/√((n0 − Tx)(n0 − Ty)) with Tx/Ty = Σ C(n_x, 2)/Σ C(n_y, 2)
    * over the bin marginals — within-cell pairs count as ties in BOTH
    * margins, so the result is the exact tau-b of the grid-quantized
    * scores. Every window runs over the ≤ bins² cell relation; products
    * run in DECIMAL(38,0). NULL when either margin is single-binned.
    * Output: one row `(n, concordant, discordant, tau_b)`.
    */
  def binnedKendallTau(df: DataFrame, xQ: Column, yQ: Column,
                       bins: Int = 64): DataFrame = {
    val e = df.select(xQ.cast("bigint").as("cx"), yQ.cast("bigint").as("cy"))
    val st = e.agg(
      min(col("cx")).as("minx"), max(col("cx")).as("maxx"),
      min(col("cy")).as("miny"), max(col("cy")).as("maxy"))
    // the cell relation feeds five branches (densify axes + grid join +
    // both tie margins) — cache it so the corpus pass runs once
    val cells = DedupOps.registerCache(
      e.crossJoin(st)
        .select(
          expr(s"((cx - minx) * $bins) DIV (maxx - minx + 1)").as("bx"),
          expr(s"((cy - miny) * $bins) DIV (maxy - miny + 1)").as("by"))
        .groupBy(col("bx"), col("by"))
        .agg(count(lit(1)).as("n_c"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val dense = cells.select(col("bx")).distinct()
      .crossJoin(cells.select(col("by")).distinct())
      .join(cells, Seq("bx", "by"), "left")
      .withColumn("n_c", coalesce(col("n_c"), lit(0L)))
    val colBelow = Window.partitionBy(col("bx")).orderBy(col("by"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val colAbove = Window.partitionBy(col("bx")).orderBy(col("by").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val w1 = dense.select(col("bx"), col("by"), col("n_c"),
      coalesce(sum(col("n_c")).over(colBelow), lit(0L)).as("below"),
      coalesce(sum(col("n_c")).over(colAbove), lit(0L)).as("above"))
    val west = Window.partitionBy(col("by")).orderBy(col("bx"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val dbl = (c: Column) => c.cast("double")
    val oriented = w1.select(col("n_c"),
      coalesce(sum(col("below")).over(west), lit(0L)).as("sw"),
      coalesce(sum(col("above")).over(west), lit(0L)).as("nw"))
      .agg(
        sum(col("n_c")).as("n"),
        sum(dec(col("n_c")) * dec(col("sw"))).as("c_pairs"),
        sum(dec(col("n_c")) * dec(col("nw"))).as("d_pairs"))
    // doubled identity avoids decimal division: with X2 = Σ n_x(n_x−1),
    // Y2 = Σ n_y(n_y−1), N2 = n(n−1), tau_b = 2(C − D)/√((N2−X2)(N2−Y2))
    val tx = cells.groupBy(col("bx")).agg(sum(col("n_c")).as("n_x"))
      .agg(sum(dec(col("n_x")) * dec(col("n_x") - lit(1L))).as("tx2"))
    val ty = cells.groupBy(col("by")).agg(sum(col("n_c")).as("n_y"))
      .agg(sum(dec(col("n_y")) * dec(col("n_y") - lit(1L))).as("ty2"))
    val j = oriented.crossJoin(tx).crossJoin(ty)
      .withColumn("n2", dec(col("n")) * dec(col("n") - lit(1L)))
    val defined = col("n2") > col("tx2") && col("n2") > col("ty2")
    j.select(
      col("n"),
      col("c_pairs").cast("bigint").as("concordant"),
      col("d_pairs").cast("bigint").as("discordant"),
      when(defined,
        round(lit(2.0) * dbl(col("c_pairs") - col("d_pairs")) /
          sqrt(dbl(col("n2") - col("tx2")) * dbl(col("n2") - col("ty2"))), 6))
        .as("tau_b"))
  }

  /** Mutual-information contributions between two bounded categorical
    * columns — the "is language confounded with source?" association
    * audit a mixture planner runs before weighting by either axis.
    *
    * One grouped count over the (a, b) contingency (bounded keys by
    * precondition); marginals ride three windows over the ≤ |A|·|B|-row
    * cell relation (PARTITION BY a, PARTITION BY b, global). Each cell's
    * term (n_ab/n)·ln(n_ab·n/(n_a·n_b)) is one double chain over exact
    * integers, rounded to 6 decimals; the scalar MI (nats) is the
    * trivial sum of the rows (chi2_drift's readout convention) and is
    * ≥ 0 up to per-cell rounding. Output per observed cell, ordered:
    * `(a, b, n_ab, mi_contrib)`.
    */
  def categoricalMi(df: DataFrame, aCol: String, bCol: String): DataFrame =
    miFromCells(
      df.select(col(aCol).as("a"), col(bCol).as("b"))
        .groupBy(col("a"), col("b"))
        .agg(count(lit(1)).as("n_ab")),
      aCol, bCol)

  /** [[categoricalMi]]'s readout half from a counted `(a, b, n_ab)`
    * contingency — shared with the streaming twin; one state relation
    * feeds kappa + chi² + MI monitors at once.
    */
  def miFromCells(g: DataFrame, aCol: String, bCol: String): DataFrame = {
    val byA = Window.partitionBy(col("a"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val byB = Window.partitionBy(col("b"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val all = Window
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val dbl = (c: Column) => c.cast("double")
    g.select(col("a"), col("b"), col("n_ab"),
      sum(col("n_ab")).over(byA).as("n_a"),
      sum(col("n_ab")).over(byB).as("n_b"),
      sum(col("n_ab")).over(all).as("n"))
      .select(
        col("a").as(aCol), col("b").as(bCol), col("n_ab"),
        round((dbl(col("n_ab")) / dbl(col("n"))) *
          log(dbl(col("n_ab")) * dbl(col("n")) /
            (dbl(col("n_a")) * dbl(col("n_b")))), 6).as("mi_contrib"))
      .orderBy(col(aCol), col(bCol))
  }

  /** Fleiss' kappa — chance-corrected agreement among r ≥ 2 raters over
    * the ordinal label space `1..k` (the multi-rater generalization of
    * [[cohenKappa]]: do THREE quality signals bucket documents
    * consistently, not just two?).
    *
    * One corpus aggregation computes every sufficient statistic: per item
    * the category counts n_ij (a codegen'd sum of `when` flags per
    * category — no explode), A = Σ n_ij² and the category margins
    * C_j ride the same agg. With D1 = N·r·(r−1) and D2 = (N·r)²,
    * P̄ = (A − N·r)/D1, P̄e = Σ C_j²/D2 and
    * κ = [(A − N·r)·D2 − E·D1] / [D1·(D2 − E)] — every numerator exact
    * in DECIMAL(38,0), one double division at the end. NULL κ when
    * the margins are degenerate (P̄e = 1). Output: one row
    * `(n_items, n_raters, p_bar, p_e, kappa)`.
    */
  def fleissKappa(df: DataFrame, raterCols: Seq[String], k: Int): DataFrame = {
    require(raterCols.size >= 2, "fleissKappa needs at least two raters")
    val r = raterCols.size
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val dbl = (c: Column) => c.cast("double")
    val cnts = (1 to k).map(j =>
      raterCols.map(c => when(col(c) === j, 1L).otherwise(0L))
        .reduce(_ + _).as(s"c$j"))
    val base = df.select(cnts: _*)
    val aRow = (1 to k).map(j => col(s"c$j") * col(s"c$j")).reduce(_ + _)
    val aggCols = count(lit(1)).as("n") +: sum(aRow).as("a") +:
      (1 to k).map(j => sum(col(s"c$j")).as(s"m$j"))
    val f = base.agg(aggCols.head, aggCols.tail: _*)
    val e = (1 to k).map(j => dec(col(s"m$j")) * dec(col(s"m$j"))).reduce(_ + _)
    val j = f
      .withColumn("e", e)
      .withColumn("anr", dec(col("a")) - dec(col("n")) * lit(r.toLong))
      .withColumn("d1", dec(col("n")) * lit((r * (r - 1)).toLong))
      .withColumn("d2", dec(col("n")) * dec(col("n")) * lit((r * r).toLong))
    j.select(
      col("n").as("n_items"),
      lit(r.toLong).as("n_raters"),
      round(dbl(col("anr")) / dbl(col("d1")), 6).as("p_bar"),
      round(dbl(col("e")) / dbl(col("d2")), 6).as("p_e"),
      when(col("d2") > col("e"),
        round(dbl(col("anr") * col("d2") - col("e") * col("d1")) /
          dbl(col("d1") * (col("d2") - col("e"))), 6)).as("kappa"))
  }

  /** Adjusted Rand Index between two partitions of the same items — "do
    * the k-means clusters recover the labels beyond chance?", the
    * clustering-evaluation twin of [[cohenKappa]] (kappa needs a SHARED
    * label space; ARI compares arbitrary partitions). Pair-counting
    * identity, all-integer: with X = Σ_ij n_ij(n_ij−1),
    * A = Σ_i a_i(a_i−1), B = Σ_j b_j(b_j−1), N2 = n(n−1),
    * ARI = 2(X·N2 − A·B) / (N2(A+B) − 2AB) — DECIMAL(38,0)-exact
    * numerators, one double division. NULL when the denominator is 0
    * (both partitions trivial). One grouped count over the bounded
    * contingency; margins from the ≤ |A|·|B| cell relation. Output: one
    * row `(n, n_parts_a, n_parts_b, ari)`.
    */
  def adjustedRandIndex(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val dbl = (c: Column) => c.cast("double")
    val cells = DedupOps.registerCache(
      df.select(col(aCol).as("a"), col(bCol).as("b"))
        .groupBy(col("a"), col("b"))
        .agg(count(lit(1)).as("n_ab"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val tot = cells.agg(
      sum(col("n_ab")).as("n"),
      countDistinct(col("a")).as("ka"),
      countDistinct(col("b")).as("kb"),
      sum(dec(col("n_ab")) * dec(col("n_ab") - lit(1L))).as("x"))
    val ma = cells.groupBy(col("a")).agg(sum(col("n_ab")).as("n_a"))
      .agg(sum(dec(col("n_a")) * dec(col("n_a") - lit(1L))).as("aa"))
    val mb = cells.groupBy(col("b")).agg(sum(col("n_ab")).as("n_b"))
      .agg(sum(dec(col("n_b")) * dec(col("n_b") - lit(1L))).as("bb"))
    val j = tot.crossJoin(ma).crossJoin(mb)
      .withColumn("n2", dec(col("n")) * dec(col("n") - lit(1L)))
      .withColumn("den",
        col("n2") * (col("aa") + col("bb")) - lit(2L) * col("aa") * col("bb"))
    j.select(
      col("n"), col("ka").as("n_parts_a"), col("kb").as("n_parts_b"),
      when(col("den") =!= dec(lit(0L)),
        round(lit(2.0) * dbl(col("x") * col("n2") - col("aa") * col("bb")) /
          dbl(col("den")), 6)).as("ari"))
  }

  /** Normalized Mutual Information between two partitions of the same
    * items — [[adjustedRandIndex]]'s information-theoretic companion
    * (ARI counts pairs; NMI measures shared bits):
    * NMI = I(A;B)/√(H(A)·H(B)).
    *
    * All three quantities use the repo's integer-nano log convention
    * (per-cell/margin terms `count · round(ln(ratio)·1e9)` summed as
    * BIGINT — merge-order-free): I = Σ n_ab·ln(n_ab·N/(n_a·n_b))/N,
    * H(A) = Σ n_a·ln(N/n_a)/N. The N·1e9 scale cancels in the ratio, so
    * NMI = I_sum/√(HA_sum·HB_sum) exactly as summed. NULL when either
    * partition is trivial (zero entropy). One grouped count over the
    * bounded contingency; margins ride windows on the cell relation.
    * Output: one row `(n, h_a, h_b, mi, nmi)` (nats, rounded 6).
    */
  def nmiFromPartitions(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val dbl = (c: Column) => c.cast("double")
    val cells = DedupOps.registerCache(
      df.select(col(aCol).as("a"), col(bCol).as("b"))
        .groupBy(col("a"), col("b"))
        .agg(count(lit(1)).as("n_ab"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val byA = Window.partitionBy(col("a"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val byB = Window.partitionBy(col("b"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val all = Window
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    def nanoLn(c: Column): Column = round(log(c) * lit(1e9)).cast("long")
    val iSum = cells
      .select(col("n_ab"),
        sum(col("n_ab")).over(byA).as("n_a"),
        sum(col("n_ab")).over(byB).as("n_b"),
        sum(col("n_ab")).over(all).as("n"))
      .agg(
        max(col("n")).as("n"),
        sum(col("n_ab") *
          nanoLn(dbl(col("n_ab")) * dbl(col("n")) /
            (dbl(col("n_a")) * dbl(col("n_b"))))).as("mi_nano"))
    def entSum(mCol: String, name: String): DataFrame = {
      val m = cells.groupBy(col(mCol)).agg(sum(col("n_ab")).as("nm"))
      m.crossJoin(broadcast(m.agg(sum(col("nm")).as("nt"))))
        .agg(sum(col("nm") * nanoLn(dbl(col("nt")) / dbl(col("nm")))).as(name))
    }
    val j = iSum.crossJoin(entSum("a", "ha_nano")).crossJoin(entSum("b", "hb_nano"))
    val nats = (c: Column) => dbl(c) / dbl(col("n")) / lit(1e9)
    j.select(
      col("n"),
      round(nats(col("ha_nano")), 6).as("h_a"),
      round(nats(col("hb_nano")), 6).as("h_b"),
      round(nats(col("mi_nano")), 6).as("mi"),
      when(col("ha_nano") > 0L && col("hb_nano") > 0L,
        round(dbl(col("mi_nano")) /
          sqrt(dbl(col("ha_nano")) * dbl(col("hb_nano"))), 6)).as("nmi"))
  }

  /** Pearson chi-square independence audit between two bounded
    * categorical columns — "is the train/val/test split balanced across
    * sources, or did the hash accidentally correlate with provenance?".
    * Complements [[categoricalMi]] (effect size in nats) with the
    * classical test statistic whose null distribution is known
    * (chi² with (|A|−1)(|B|−1) dof).
    *
    * One grouped count over the bounded contingency, then the grid is
    * DENSIFIED (distinct-A × distinct-B cross, bounded by precondition)
    * before the marginal windows: unobserved cells contribute
    * (0 − exp)²/exp, which the observed-cells-only shortcut would
    * silently drop. Expected counts and contributions are single double
    * chains over exact integer marginals, rounded to 6. Output per cell,
    * ordered: `(a, b, n_ab, exp_n, chi2_contrib)`; the scalar statistic
    * is the trivial sum of the rows.
    */
  def chi2Independence(df: DataFrame, aCol: String, bCol: String): DataFrame =
    chi2FromCells(
      df.select(col(aCol).as("a"), col(bCol).as("b"))
        .groupBy(col("a"), col("b"))
        .agg(count(lit(1)).as("n_ab")),
      aCol, bCol)

  /** [[chi2Independence]]'s readout half from a counted `(a, b, n_ab)`
    * contingency — shared with the streaming twin (same split as
    * [[cohenKappaFromCells]]).
    */
  def chi2FromCells(rawCells: DataFrame, aCol: String, bCol: String): DataFrame = {
    val g = DedupOps.registerCache(
      rawCells.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    // fresh names on the densify legs: three branches of the same
    // relation otherwise carry identical attribute ids, which the
    // analyzer cannot always disambiguate (streaming memory-sink views)
    val dense = g.select(col("a").as("da")).distinct()
      .crossJoin(broadcast(g.select(col("b").as("db")).distinct()))
      .join(g, col("da") === col("a") && col("db") === col("b"), "left")
      .select(col("da").as("a"), col("db").as("b"),
        coalesce(col("n_ab"), lit(0L)).as("n_ab"))
    val byA = Window.partitionBy(col("a"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val byB = Window.partitionBy(col("b"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val all = Window
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val dbl = (c: Column) => c.cast("double")
    val m = dense.select(col("a"), col("b"), col("n_ab"),
      sum(col("n_ab")).over(byA).as("n_a"),
      sum(col("n_ab")).over(byB).as("n_b"),
      sum(col("n_ab")).over(all).as("n"))
    val expN = dbl(col("n_a")) * dbl(col("n_b")) / dbl(col("n"))
    m.select(
      col("a").as(aCol), col("b").as(bCol), col("n_ab"),
      round(expN, 6).as("exp_n"),
      round((dbl(col("n_ab")) - expN) * (dbl(col("n_ab")) - expN) / expN, 6)
        .as("chi2_contrib"))
      .orderBy(col(aCol), col(bCol))
  }

  /** Benford first-significant-digit audit of a positive integer-quantized
    * amount column: observed digit counts vs the Benford expectation
    * N · log10(1 + 1/d), with per-digit chi-square contributions.
    *
    * The first digit is extracted with INTEGER arithmetic —
    * `c DIV 10^(len(c)−1)` via the decimal string length — never
    * `floor(log10(c))`, whose float rounding can misclassify values at
    * power-of-ten boundaries differently per engine. One grouped
    * aggregation over ≤ 9 keys; the total rides a ≤ 9-row window. Output
    * per observed digit, ordered: `(digit, n, exp_n, chi2_contrib)`; the
    * scalar chi-square is the trivial sum.
    */
  def benfordAudit(df: DataFrame, amountQ: Column): DataFrame = {
    val e = df.select(amountQ.cast("bigint").as("c")).filter(col("c") > 0L)
    val g = e.select(expr("c DIV CAST(pow(10, length(CAST(c AS STRING)) - 1) AS BIGINT)")
        .as("digit"))
      .groupBy(col("digit"))
      .agg(count(lit(1)).as("n"))
    val all = Window.orderBy(col("digit"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val dbl = (c: Column) => c.cast("double")
    val expShare = log10(lit(1.0) + lit(1.0) / dbl(col("digit")))
    g.select(col("digit"), col("n"), sum(col("n")).over(all).as("nt"))
      .select(
        col("digit"), col("n"),
        round(dbl(col("nt")) * expShare, 6).as("exp_n"),
        round((dbl(col("n")) - dbl(col("nt")) * expShare) *
          (dbl(col("n")) - dbl(col("nt")) * expShare) /
          (dbl(col("nt")) * expShare), 6).as("chi2_contrib"))
      .orderBy(col("digit"))
  }

  /** Kaplan–Meier survival over bucketed durations WITH right-censoring —
    * "what share of customers go longer than t without reordering?",
    * the survival curve naive gap histograms get wrong (a customer's
    * final open-ended gap carries information only as a censored
    * observation; dropping it biases survival DOWN).
    *
    * Input rows are (bucketed duration, event flag: 1 = observed event,
    * 0 = censored). One grouped count reduces the corpus to the bounded
    * bucket grid; risk sets and the product-limit fold ride windows over
    * it. The KM product Π(1 − d_j/r_j) is exposed as LOG-survival
    * (integer-nano ln terms summed as BIGINT — merge-order-free, and no
    * cross-engine exp in the hot path; exponentiate downstream if a
    * probability is wanted). Buckets at/after the point the curve hits 0
    * (d = r) report NULL log-survival. Output per bucket, ordered:
    * `(t, n_at_risk, n_events, n_censored, log_survival)`.
    */
  def kmSurvival(df: DataFrame, durQ: Column, eventFlag: Column): DataFrame = {
    val dbl = (c: Column) => c.cast("double")
    val e = df.select(durQ.cast("long").as("t"), eventFlag.cast("long").as("ev"))
    val g = e.groupBy(col("t"))
      .agg(sum(col("ev")).as("d"), sum(lit(1L) - col("ev")).as("c"))
    val ord = Window.orderBy(col("t"))
    val prev = ord.rowsBetween(Window.unboundedPreceding, -1)
    val cum = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val all = Window.orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val w = g.select(col("t"), col("d"), col("c"),
      (sum(col("d") + col("c")).over(all) -
        coalesce(sum(col("d") + col("c")).over(prev), lit(0L))).as("at_risk"))
    val termN = when(col("d") === 0L, lit(0L))
      .when(col("at_risk") > col("d"),
        round(log(lit(1.0) - dbl(col("d")) / dbl(col("at_risk"))) * lit(1e9))
          .cast("long"))
      .otherwise(lit(0L)) // d == r: curve dies here — masked below
    val m = w.select(col("t"), col("at_risk"), col("d"), col("c"), termN.as("tn"),
      max(when(col("d") > 0L && col("d") >= col("at_risk"), 1L).otherwise(0L))
        .over(cum).as("dead"))
    m.select(
      col("t"), col("at_risk").as("n_at_risk"),
      col("d").as("n_events"), col("c").as("n_censored"),
      when(col("dead") === 0L,
        round(sum(col("tn")).over(cum).cast("double") / lit(1e9), 6))
        .as("log_survival"))
      .orderBy(col("t"))
  }

  /** CUSUM mean-shift changepoint over a keyed series — "did the daily
    * revenue (or any per-period metric) step to a new level, and when?".
    * The classic statistic max_t |Σ_{i≤t}(x_i − x̄)| is located EXACTLY
    * but in integer arithmetic: with P_t the prefix sum, T the total and
    * n the period count, D_t = n·P_t − t·T = n·Σ_{i≤t}(x_i − x̄), so
    * argmax |D_t| (DECIMAL(38,0)-exact, earliest-key tiebreak) is the
    * changepoint with zero float comparisons.
    *
    * One keyed aggregation reduces the input to the ≤ #periods relation
    * (bounded: the key is a calendar grain); prefix/total windows and the
    * argmax TakeOrdered all run over that bounded relation. The last
    * period is excluded (a split needs a non-empty "after"). Output: one
    * row `(n_periods, cp_key, cp_index, cusum, mean_before, mean_after,
    * shift)` — monetary fields in units of `valueQ`/100 (cents in →
    * currency out), rounded to 6.
    */
  def cusumChangepoint(df: DataFrame, keyQ: Column, valueQ: Column): DataFrame = {
    val g = df.select(keyQ.as("k"), valueQ.cast("bigint").as("x"))
      .groupBy(col("k")).agg(sum(col("x")).as("xs"))
    cusumFromSums(g)
  }

  /** [[cusumChangepoint]]'s readout half: the changepoint located from an
    * already-aggregated `(k, xs)` per-period sum relation. Split out so
    * the streaming twin ([[graft.streaming.StreamingCusum]]) can read the
    * same statistic off its incrementally-maintained period state — the
    * state is a plain keyed sum (associative/commutative), the readout a
    * pure function of it.
    */
  def cusumFromSums(g: DataFrame): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val dbl = (c: Column) => c.cast("double")
    val ord = Window.orderBy(col("k"))
    val cum = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val all = Window.orderBy(col("k"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val w = g.select(col("k"), col("xs"),
      row_number().over(ord).cast("long").as("i"),
      sum(col("xs")).over(cum).as("p"),
      sum(col("xs")).over(all).as("tot"),
      count(lit(1)).over(all).as("n"))
    val d = w
      .withColumn("dstat",
        dec(col("n")) * dec(col("p")) - dec(col("i")) * dec(col("tot")))
      .filter(col("i") < col("n"))
    val best = d.orderBy(abs(col("dstat")).desc, col("k")).limit(1)
    val before = dbl(col("p")) / (dbl(col("i")) * lit(100.0))
    val after = dbl(col("tot") - col("p")) / (dbl(col("n") - col("i")) * lit(100.0))
    best.select(
      col("n").as("n_periods"),
      col("k").as("cp_key"),
      col("i").as("cp_index"),
      round(dbl(abs(col("dstat"))) / (dbl(col("n")) * lit(100.0)), 6).as("cusum"),
      round(before, 6).as("mean_before"),
      round(after, 6).as("mean_after"),
      round(after - before, 6).as("shift"))
  }

  /** Exact sample autocorrelation of a keyed series at lags 1..maxLag —
    * "does yesterday's revenue predict today's?", the memory gauge that
    * decides whether [[cusumChangepoint]]'s level shifts or
    * seasonal indices are even meaningful. r_k =
    * Σ(x_t − x̄)(x_{t+k} − x̄) / Σ(x_t − x̄)² with the mean handled in
    * INTEGER arithmetic: d_t = n·x_t − T is exact (the n²-scaled
    * deviation), both the numerator and denominator scale by the same n²,
    * so r_k is one double division over DECIMAL(38,0) sums — no float
    * accumulation, no mean-subtraction rounding.
    *
    * One keyed aggregation reduces the input to the bounded period grid;
    * ONE window pass computes all maxLag leads; the sums fold to a single
    * row and unpivot to ≤ maxLag output rows. Output per lag, ordered:
    * `(lag, n_pairs, acf)`; acf NULL when the series is constant
    * (denominator 0) or shorter than the lag.
    */
  def integerAcf(df: DataFrame, keyQ: Column, valueQ: Column,
                 maxLag: Int = 7): DataFrame = {
    val g = df.select(keyQ.as("k"), valueQ.cast("bigint").as("x"))
      .groupBy(col("k")).agg(sum(col("x")).as("xs"))
    acfFromSums(g, maxLag)
  }

  /** [[integerAcf]]'s readout half from a `(k, xs)` per-period sum
    * relation — the SAME state [[cusumFromSums]] reads, so the streaming
    * twin ([[graft.streaming.StreamingCusum]]) serves changepoint AND
    * autocorrelation monitors off one incrementally-maintained
    * aggregation.
    */
  def acfFromSums(g: DataFrame, maxLag: Int = 7): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val dbl = (c: Column) => c.cast("double")
    val ord = Window.orderBy(col("k"))
    val all = Window.orderBy(col("k"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val w = g.select(col("k"), col("xs"),
      sum(col("xs")).over(all).as("tot"),
      count(lit(1)).over(all).as("n"))
      .withColumn("d", dec(col("n")) * dec(col("xs")) - dec(col("tot")))
    val leads = w.select(col("d") +:
      (1 to maxLag).map(l => lead(col("d"), l).over(ord).as(s"d$l")): _*)
    val aggCols = sum(col("d") * col("d")).as("den") +:
      (1 to maxLag).flatMap(l => Seq(
        sum(col("d") * col(s"d$l")).as(s"num$l"),
        count(col(s"d$l")).as(s"np$l")))
    val folded = leads.agg(aggCols.head, aggCols.tail: _*)
    val stacked = folded.select(explode(array((1 to maxLag).map(l =>
      struct(lit(l).as("lag"), col(s"np$l").as("n_pairs"),
        col(s"num$l").as("num"), col("den").as("den"))): _*)).as("r"))
    stacked.select(
      col("r.lag").as("lag"), col("r.n_pairs").as("n_pairs"),
      when(col("r.den") > dec(lit(0L)) && col("r.n_pairs") > 0L,
        round(dbl(col("r.num")) / dbl(col("r.den")), 6)).as("acf"))
      .orderBy(col("lag"))
  }

  /** Top-k agreement between two ranking signals over the same items —
    * "do the cheap and the expensive quality scores surface the same
    * head of the corpus?" — at a ladder of depths. Overlap@k is the
    * share of the shallower list shared; Jaccard@k the share of the
    * union. Rankings are (score DESC, id ASC) — the id tiebreak makes
    * both engines' lists identical under score ties.
    *
    * Scale shape: each signal's top-max(depths) list comes from
    * `orderBy(...).limit(k)` — Spark plans `TakeOrderedAndProject`
    * (per-partition heap + driver merge of k·partitions rows), never a
    * global sort. Ranks are then row_number over the ≤ k-row lists, the
    * full outer join and the depth fan-out stay ≤ 2k rows. Output per
    * depth, ordered: `(depth, n_a, n_b, n_common, overlap, jaccard)`.
    */
  def topkOverlap(df: DataFrame, idCol: String, s1: Column, s2: Column,
                  depths: Seq[Int] = Seq(10, 25, 50, 100)): DataFrame = {
    val kMax = depths.max
    val base = df.select(col(idCol).as("id"), s1.as("v1"), s2.as("v2"))
    val top1 = base.orderBy(col("v1").desc, col("id")).limit(kMax)
    val top2 = base.orderBy(col("v2").desc, col("id")).limit(kMax)
    val r1 = top1.select(col("id"),
      row_number().over(Window.orderBy(col("v1").desc, col("id"))).as("rank1"))
    val r2 = top2.select(col("id"),
      row_number().over(Window.orderBy(col("v2").desc, col("id"))).as("rank2"))
    val joined = r1.join(r2, Seq("id"), "full")
    val dRel = df.sparkSession.range(1)
      .select(explode(array(depths.map(d => lit(d)): _*)).as("depth"))
    val dbl = (c: Column) => c.cast("double")
    val g = joined.crossJoin(broadcast(dRel))
      .groupBy(col("depth"))
      .agg(
        sum(when(col("rank1") <= col("depth"), 1L).otherwise(0L)).as("n_a"),
        sum(when(col("rank2") <= col("depth"), 1L).otherwise(0L)).as("n_b"),
        sum(when(col("rank1") <= col("depth") && col("rank2") <= col("depth"), 1L)
          .otherwise(0L)).as("n_common"))
    g.select(
      col("depth"), col("n_a"), col("n_b"), col("n_common"),
      when(least(col("n_a"), col("n_b")) > 0L,
        round(dbl(col("n_common")) / dbl(least(col("n_a"), col("n_b"))), 6))
        .as("overlap"),
      when(col("n_a") + col("n_b") > col("n_common"),
        round(dbl(col("n_common")) /
          dbl(col("n_a") + col("n_b") - col("n_common")), 6)).as("jaccard"))
      .orderBy(col("depth"))
  }

  /** Cohen's kappa — chance-corrected agreement between two raters over
    * the SAME ordinal label space `1..k` (the "do two quality raters
    * agree beyond what their marginals force?" audit), plus the
    * linear-weighted variant for ordinal labels (off-by-one disagreements
    * penalized less than off-by-two).
    *
    * One grouped count over the ≤ k² contingency; everything downstream
    * is arithmetic over that bounded relation. All numerators stay
    * integer until the final division: with D = Σ diag, PE = Σ_j
    * n_a(j)·n_b(j), W = Σ w_ab·n_ab and WE = Σ_ij w_ij·n_a(i)·n_b(j)
    * (weights pre-scaled to the integer (k−1) − |i−j|),
    * kappa = (D·n − PE)/(n² − PE) and kappa_w = (W·n − WE)/((k−1)·n² − WE)
    * — each a single double division over DECIMAL(38,0)-exact terms.
    * PE rides an equi-join of the two ≤ k-row margins; WE a k×k margin
    * cross (broadcast, bounded by precondition). NULL kappas when a
    * margin is degenerate (pe = 1). Output: one row
    * `(n, po, pe, kappa, po_w, pe_w, kappa_w)`.
    */
  def cohenKappa(df: DataFrame, aCol: String, bCol: String, k: Int): DataFrame =
    cohenKappaFromCells(
      df.select(col(aCol).cast("long").as("a"), col(bCol).cast("long").as("b"))
        .groupBy(col("a"), col("b"))
        .agg(count(lit(1)).as("n_ab")),
      k)

  /** [[cohenKappa]]'s readout half, from an already-counted `(a, b,
    * n_ab)` contingency relation. Split out so the streaming twin
    * ([[graft.streaming.StreamingContingency]]) reads the same statistic
    * off its incrementally-maintained cell state — the contingency is a
    * plain keyed count (associative/commutative), the readout a pure
    * function of it.
    */
  def cohenKappaFromCells(rawCells: DataFrame, k: Int): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val dbl = (c: Column) => c.cast("double")
    // the contingency feeds three branches (totals + both margins) —
    // cache it so the upstream aggregation runs once, not per branch
    val cells = DedupOps.registerCache(
      rawCells.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val wNum = lit((k - 1).toLong) - abs(col("a") - col("b"))
    val tot = cells.agg(
      sum(col("n_ab")).as("n"),
      sum(when(col("a") === col("b"), col("n_ab")).otherwise(0L)).as("diag"),
      sum(dec(wNum) * dec(col("n_ab"))).as("wsum"))
    val ma = cells.groupBy(col("a")).agg(sum(col("n_ab")).as("n_a"))
    val mb = cells.groupBy(col("b")).agg(sum(col("n_ab")).as("n_b"))
    val pe = ma.join(broadcast(mb), col("a") === col("b"))
      .agg(coalesce(sum(dec(col("n_a")) * dec(col("n_b"))), dec(lit(0L))).as("pe_num"))
    val peW = ma.crossJoin(broadcast(mb))
      .agg(sum(dec(wNum) * dec(col("n_a")) * dec(col("n_b"))).as("pew_num"))
    val j = tot.crossJoin(pe).crossJoin(peW)
      .withColumn("n2", dec(col("n")) * dec(col("n")))
    j.select(
      col("n"),
      round(dbl(col("diag")) / dbl(col("n")), 6).as("po"),
      round(dbl(col("pe_num")) / dbl(col("n2")), 6).as("pe"),
      when(col("n2") > col("pe_num"),
        round(dbl(dec(col("diag")) * dec(col("n")) - col("pe_num")) /
          dbl(col("n2") - col("pe_num")), 6)).as("kappa"),
      round(dbl(col("wsum")) / (lit((k - 1).toDouble) * dbl(col("n"))), 6).as("po_w"),
      round(dbl(col("pew_num")) / (lit((k - 1).toDouble) * dbl(col("n2"))), 6).as("pe_w"),
      when(dec(lit((k - 1).toLong)) * col("n2") > col("pew_num"),
        round(dbl(col("wsum") * dec(col("n")) - col("pew_num")) /
          dbl(dec(lit((k - 1).toLong)) * col("n2") - col("pew_num")), 6)).as("kappa_w"))
  }

  /** Precision/recall operating ladder + binned average precision for a
    * micro-quantized probability against a binary outcome — the
    * threshold-picking table a pipeline reads before it deploys a quality
    * classifier (the AUC says the score RANKS; this says what precision
    * each recall actually costs).
    *
    * Same decile-bin state as [[liftCurve]] (one grouped aggregation over
    * ≤ `bins` integer keys); thresholding at bin b predicts positive for
    * every row in bins ≥ b, so TP/FP ladders are descending cumulative
    * sums over the ≤ `bins`-row relation. F1 uses the integer identity
    * F1 = 2·TP / (cum_n + total_pos) — one division, no P/R float
    * composition. `ap_contrib` is ΔR·P per bin (readout convention: AP is
    * the trivial sum of the contributions, like `ece_contrib`). Output
    * per populated bin, best-first: `(bin, n, n_pos, cum_n, cum_pos,
    * precision, recall, f1, ap_contrib)`.
    */
  def prCurve(df: DataFrame, probMicro: Column, posFlag: Column,
              bins: Int = 10): DataFrame = {
    val e = df.select(probMicro.cast("bigint").as("pm"), posFlag.cast("bigint").as("y"))
    val width = 1000000L / bins
    val g = e
      .select(least(expr(s"pm DIV $width"), lit((bins - 1).toLong)).as("bin"), col("y"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("n_pos"))
    prFromBins(g)
  }

  /** [[prCurve]]'s readout half over an already-binned `(bin, n, n_pos)`
    * relation — split out so the streaming twin
    * ([[graft.streaming.StreamingAuc.prFromState]]) reads the same ladder
    * off its incrementally-maintained class-bin state. Windows run over
    * ≤ bins rows only.
    */
  def prFromBins(g: DataFrame): DataFrame = {
    val desc = Window.orderBy(col("bin").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val all = Window.orderBy(col("bin"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val dbl = (c: Column) => c.cast("double")
    g.select(col("bin"), col("n"), col("n_pos"),
      sum(col("n")).over(desc).as("cum_n"),
      sum(col("n_pos")).over(desc).as("cum_pos"),
      sum(col("n_pos")).over(all).as("pt"))
      .select(
        col("bin"), col("n"), col("n_pos"), col("cum_n"), col("cum_pos"),
        round(dbl(col("cum_pos")) / dbl(col("cum_n")), 6).as("precision"),
        when(col("pt") > 0L,
          round(dbl(col("cum_pos")) / dbl(col("pt")), 6)).as("recall"),
        when(col("cum_n") + col("pt") > 0L,
          round(lit(2.0) * dbl(col("cum_pos")) / dbl(col("cum_n") + col("pt")), 6))
          .as("f1"),
        when(col("pt") > 0L,
          round(dbl(col("n_pos")) * dbl(col("cum_pos")) /
            (dbl(col("pt")) * dbl(col("cum_n"))), 6)).as("ap_contrib"))
      .orderBy(col("bin").desc)
  }

  /** Mann-Kendall trend test + Theil-Sen slope of a keyed series — the
    * robust "is this metric actually drifting, and how fast?" monitor
    * (no normality assumption, outlier-resistant slope) that complements
    * [[cusumChangepoint]]'s step detector.
    *
    * One keyed aggregation reduces the corpus to the bounded period grid
    * (like `revenue_cusum`); the O(periods²) pair relation is built from
    * that GRID, never from data — bounded by the calendar, not the
    * corpus, so 100 TB pays the same ~n²/2 ≈ 10⁶ pair rows as sf0.01.
    * S = Σ sign(x_j − x_i) is an exact integer fold; Var(S) uses the
    * tie-corrected formula n(n−1)(2n+5)/18 − Σ_t t(t−1)(2t+5)/18 in
    * BIGINT; z applies the ±1 continuity correction. The Theil-Sen slope
    * is the interpolated median of the pairwise slopes, each quantized to
    * integer micro-units first so the median is cross-engine exact (see
    * the inline note). Output: one row `(n_periods, s_stat, var_s, z,
    * slope)` (slope in `valueQ`/100 units per period; z NULL when the
    * series is constant).
    */
  def trendTest(df: DataFrame, keyQ: Column, valueQ: Column): DataFrame = {
    val g = df.select(keyQ.cast("long").as("k"), valueQ.cast("bigint").as("x"))
      .groupBy(col("k")).agg(sum(col("x")).as("xs"))
    trendFromSums(g)
  }

  /** [[trendTest]]'s readout half over an already-aggregated `(k, xs)`
    * period-sum relation — the same mergeable state
    * [[cusumFromSums]]/[[acfFromSums]] read, so one maintained state
    * serves three monitors.
    */
  def trendFromSums(g0: DataFrame): DataFrame = {
    val dbl = (c: Column) => c.cast("double")
    // the grid feeds three branches (pairs twice + ties + count) — cache
    // so the upstream aggregation runs once
    val g = DedupOps.registerCache(
      g0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val a = g.select(col("k").as("ka"), col("xs").as("xa"))
    val b = g.select(col("k").as("kb"), col("xs").as("xb"))
    // bounded-grid pair fan-out: broadcast one side so the non-equi
    // condition plans as BroadcastNestedLoopJoin, never CartesianProduct
    val pairs = broadcast(a).crossJoin(b).filter(col("ka") < col("kb"))
    val folded = pairs.agg(
      coalesce(sum(
        when(col("xb") > col("xa"), 1L)
          .when(col("xb") < col("xa"), -1L)
          .otherwise(0L)), lit(0L)).as("s_stat"),
      // slope quantized to integer micro-units BEFORE the median: the
      // interpolated median of integers ≤ 2^52 is exact in IEEE double in
      // ANY evaluation order, so Spark's percentile() and DuckDB's
      // quantile_cont() agree bit-for-bit (raw double medians differ in
      // the last ulp between a+(b−a)/2 and a/2+b/2 formulations)
      expr("percentile(CAST(CAST(xb - xa AS DOUBLE) * 1000000.0" +
        " / CAST(kb - ka AS DOUBLE) AS BIGINT), 0.5)")
        .as("slope_raw"))
    val nrow = g.agg(count(lit(1)).as("n"))
    val ties = g.groupBy(col("xs")).agg(count(lit(1)).as("t"))
      .filter(col("t") > 1L)
      .agg(coalesce(sum(col("t") * (col("t") - 1L) * (lit(2L) * col("t") + 5L)),
        lit(0L)).as("tie_num"))
    folded.crossJoin(broadcast(nrow)).crossJoin(broadcast(ties))
      .withColumn("var_num",
        col("n") * (col("n") - 1L) * (lit(2L) * col("n") + 5L) - col("tie_num"))
      .select(
        col("n").as("n_periods"),
        col("s_stat"),
        round(dbl(col("var_num")) / lit(18.0), 6).as("var_s"),
        when(col("var_num") > 0L,
          round(
            when(col("s_stat") > 0L, dbl(col("s_stat") - 1L))
              .when(col("s_stat") < 0L, dbl(col("s_stat") + 1L))
              .otherwise(lit(0.0)) /
              sqrt(dbl(col("var_num")) / lit(18.0)), 6)).as("z"),
        // micro-units of valueQ per period → valueQ/100 units per period
        round(col("slope_raw") / lit(100000000.0), 6).as("slope"))
  }

  /** Group-fairness audit of a binary classifier: per-group selection
    * rate (demographic parity), base rate, TPR and FPR (equalized odds),
    * plus the pooled row — the bias check a pipeline runs before a
    * quality filter ships (does "keep the top" keep the same fraction of
    * every cohort, at the same error rates?).
    *
    * One ROLLUP aggregation over the bounded group domain; the pooled row
    * is the grouping-set total (grp NULL), not a second scan. All four
    * sufficient statistics are exact BIGINT when-flag sums; rates divide
    * once at the end. Output per group (NULL grp = pooled, first):
    * `(grp, n, pred_rate, base_rate, tpr, fpr)` — tpr/fpr NULL where a
    * group lacks the class.
    */
  def fairnessRates(df: DataFrame, groupCol: String,
                    predFlag: Column, posFlag: Column): DataFrame = {
    val dbl = (c: Column) => c.cast("double")
    df.select(col(groupCol).as("grp"),
      predFlag.cast("bigint").as("yhat"), posFlag.cast("bigint").as("y"))
      .rollup(col("grp"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("yhat")).as("n_pred"),
        sum(col("y")).as("n_pos"),
        sum(col("yhat") * col("y")).as("n_tp"),
        sum(col("yhat") * (lit(1L) - col("y"))).as("n_fp"))
      .select(
        col("grp"), col("n"),
        round(dbl(col("n_pred")) / dbl(col("n")), 6).as("pred_rate"),
        round(dbl(col("n_pos")) / dbl(col("n")), 6).as("base_rate"),
        when(col("n_pos") > 0L,
          round(dbl(col("n_tp")) / dbl(col("n_pos")), 6)).as("tpr"),
        when(col("n") - col("n_pos") > 0L,
          round(dbl(col("n_fp")) / dbl(col("n") - col("n_pos")), 6)).as("fpr"))
      .orderBy(col("grp").asc_nulls_first)
  }

  /** Split-conformal coverage readout (Vovk/Angelopoulos split-conformal):
    * from a scored relation `(score_nano BIGINT, label, is_calib)`, take
    * the positive-class calibration scores, set the score cutoff at the
    * `ceil((n+1)·(1−α))`-th smallest nonconformity `s = −score` (the
    * finite-sample-corrected (1−α) quantile), and report how many
    * positive TEST rows the set `{score ≥ cutoff}` covers — the marginal
    * ≥ 1−α guarantee a selective classifier is deployed on.
    *
    * α enters as the exact rational `alphaNum/alphaDen`, so the order
    * statistic index is pure integer arithmetic. If the index exceeds n
    * (tiny calibration sets) the cutoff is −∞ — the set covers
    * everything — reported as a NULL threshold.
    *
    * Scale shape: the one ORDER BY window runs over calibration
    * POSITIVES only — calibration sets are sampled small by construction
    * (thousands of rows against a 100 TB corpus), the same
    * bounded-window discipline as the decile queries; the test side is a
    * single map-side-combinable conditional aggregate, never sorted.
    * Output: one row `(n_calib, thr_nano, n_test, n_covered, coverage)`.
    */
  def conformalCoverage(
      scored: DataFrame,
      alphaNum: Long = 1L,
      alphaDen: Long = 10L): DataFrame = {
    require(alphaNum > 0 && alphaNum < alphaDen, "need 0 < alpha < 1")
    val dbl = (c: Column) => c.cast("double")
    val calib = scored
      .filter(col("is_calib") && col("label") === 1)
      .select(col("score_nano").as("s"))
    val wS = Window.orderBy(col("s").asc) // calib-positives only: bounded
    // persisted: the 1-row cutoff is read by BOTH the per-row coverage
    // comparison and the final re-attach — without the cache the
    // calibration window would evaluate twice per action
    val thr = graft.operators.DedupOps.registerCache(calib
      .withColumn("rn", row_number().over(wS))
      .withColumn("n_calib", count(lit(1)).over(Window.partitionBy()))
      // k-th smallest nonconformity −s  ==  k-th LARGEST score
      .withColumn(
        "k",
        expr(s"(($alphaDen - $alphaNum) * (n_calib + 1) + $alphaDen - 1) DIV $alphaDen"))
      .agg(
        max(col("n_calib")).as("n_calib"),
        max(when(col("rn") === col("n_calib") - col("k") + 1, col("s")))
          .as("thr_nano"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    // the per-row thr comparison aggregates to ONE row even on an empty
    // test partition (agg over an empty frame), and the threshold relation
    // is re-attached to the AGGREGATE (1 row × 1 row) rather than read
    // through it — so an empty test set reports the real n_calib/thr_nano
    // instead of dropping them with the vanished rows, and an empty
    // calibration set reports n_calib 0 / NULL cutoff (cover-all), never a
    // divide-by-zero under ANSI (mirrors conformalCoverageBy's
    // full-outer-join guarantee)
    val testCov = scored
      .filter(!col("is_calib") && col("label") === 1)
      .crossJoin(broadcast(thr))
      .agg(
        count(lit(1)).as("n_test"),
        sum(
          when(col("thr_nano").isNull.or(col("score_nano") >= col("thr_nano")), 1L)
            .otherwise(0L)).as("n_covered"))
    thr.crossJoin(testCov).select(
      coalesce(col("n_calib"), lit(0L)).as("n_calib"),
      col("thr_nano"),
      col("n_test"),
      coalesce(col("n_covered"), lit(0L)).as("n_covered"),
      when(col("n_test") > 0L, round(dbl(col("n_covered")) / dbl(col("n_test")), 6))
        .as("coverage"))
  }

  /** Mondrian (group-conditional) split conformal: [[conformalCoverage]]
    * with one cutoff PER GROUP — the class-/slice-conditional guarantee
    * (coverage ≥ 1−α within every group, not just marginally), the form
    * deployed when groups have different score distributions. Callers
    * pre-filter to the class of interest and tag rows
    * `(grp, score_nano, is_calib)`; the group key is typically the label
    * (class-conditional) or a data slice (per-source monitoring).
    *
    * Scale shape: the order-statistic window is PARTITIONED by group
    * over calibration rows only (bounded per group by construction);
    * the test side is one keyed conditional aggregate joined to the
    * per-group cutoff relation — broadcastable (rows = #groups).
    * Output: `(grp, n_calib, thr_nano, n_test, n_covered, coverage)`
    * ordered by group; a group with no calibration rows covers all its
    * test rows (NULL cutoff), a group with no test rows reports n_test 0.
    */
  def conformalCoverageBy(
      scored: DataFrame,
      alphaNum: Long = 1L,
      alphaDen: Long = 10L): DataFrame = {
    require(alphaNum > 0 && alphaNum < alphaDen, "need 0 < alpha < 1")
    val dbl = (c: Column) => c.cast("double")
    val wS = Window.partitionBy(col("grp")).orderBy(col("s").asc)
    val wN = Window.partitionBy(col("grp"))
    // persisted: the #groups-row cutoff relation is read by both the
    // coverage join and the final full-outer re-attach — same
    // evaluate-once discipline as the ungrouped form
    val thr = graft.operators.DedupOps.registerCache(scored
      .filter(col("is_calib"))
      .select(col("grp"), col("score_nano").as("s"))
      .withColumn("rn", row_number().over(wS))
      .withColumn("n_calib", count(lit(1)).over(wN))
      .withColumn(
        "k",
        expr(s"(($alphaDen - $alphaNum) * (n_calib + 1) + $alphaDen - 1) DIV $alphaDen"))
      .groupBy(col("grp"))
      .agg(
        max(col("n_calib")).as("n_calib"),
        max(when(col("rn") === col("n_calib") - col("k") + 1, col("s")))
          .as("thr_nano"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val testAgg = scored
      .filter(!col("is_calib"))
      .join(broadcast(thr), Seq("grp"), "left")
      .groupBy(col("grp"))
      .agg(
        count(lit(1)).as("n_test"),
        sum(
          when(col("thr_nano").isNull.or(col("score_nano") >= col("thr_nano")), 1L)
            .otherwise(0L)).as("n_covered"))
    thr
      .join(testAgg, Seq("grp"), "full_outer")
      .select(
        col("grp"),
        coalesce(col("n_calib"), lit(0L)).as("n_calib"),
        col("thr_nano"),
        coalesce(col("n_test"), lit(0L)).as("n_test"),
        coalesce(col("n_covered"), lit(0L)).as("n_covered"))
      .select(
        col("grp"), col("n_calib"), col("thr_nano"), col("n_test"), col("n_covered"),
        when(col("n_test") > 0L, round(dbl(col("n_covered")) / dbl(col("n_test")), 6))
          .as("coverage"))
      .orderBy(col("grp"))
  }

  /** Isotonic calibration (pool-adjacent-violators) of a binned
    * forecaster, via the MINIMAX identity instead of the sequential
    * pooling loop: `iso(k) = max_{i≤k} min_{j≥k} mean(y, bins i..j)` —
    * the closed form of the weighted PAV fit, which turns an inherently
    * sequential algorithm into two bounded windows and a group-max:
    *
    *  - interval means from exclusive prefix sums (`≤ bins²` cells,
    *    broadcast non-equi self-join of the bin relation);
    *  - `min_{j≥k}` as a per-`i` suffix-min window;
    *  - `max_{i≤k}` as a plain group-max (the suffix relation carries
    *    exactly the `i ≤ k` rows).
    *
    * Means are nano-quantized BIGINTs before the min/max ladder, so the
    * fit is cross-engine exact; monotonicity survives quantization (the
    * max-min of ANY matrix is nondecreasing in `k`). Everything runs on
    * the ≤`bins`-row relation — the corpus is touched once, by the
    * binning aggregate.
    *
    * Output: `(bin, n, n_pos, raw_rate, iso_nano, iso_rate)` ordered by
    * bin; `iso_rate` is the monotone calibrated probability PAV would
    * produce, weight = bin count.
    */
  def isotonicFromBins(g: DataFrame): DataFrame = {
    val dbl = (c: Column) => c.cast("double")
    val wAsc = Window
      .orderBy(col("bin"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow) // ≤ bins rows
    val p = g.select(
      col("bin"), col("n"), col("n_pos"),
      sum(col("n")).over(wAsc).as("cn"),
      sum(col("n_pos")).over(wAsc).as("cp"))
    val lo = p.select(
      col("bin").as("i"),
      (col("cn") - col("n")).as("cn0"),
      (col("cp") - col("n_pos")).as("cp0"))
    val hi = p.select(col("bin").as("j"), col("cn").as("cnj"), col("cp").as("cpj"))
    val cells = lo
      .join(broadcast(hi), col("i") <= col("j"))
      .select(
        col("i"), col("j"),
        round(
          lit(1000000000.0) * dbl(col("cpj") - col("cp0")) / dbl(col("cnj") - col("cn0")))
          .cast("bigint").as("m_nano"))
    val wSuf = Window
      .partitionBy(col("i"))
      .orderBy(col("j").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val iso = cells
      .withColumn("sm", min(col("m_nano")).over(wSuf))
      .groupBy(col("j").as("bin"))
      .agg(max(col("sm")).as("iso_nano"))
    g.join(broadcast(iso), Seq("bin"))
      .select(
        col("bin"), col("n"), col("n_pos"),
        round(dbl(col("n_pos")) / dbl(col("n")), 6).as("raw_rate"),
        col("iso_nano"),
        round(dbl(col("iso_nano")) / lit(1e9), 6).as("iso_rate"))
      .orderBy(col("bin"))
  }

  /** Two-sample log-rank test (Mantel–Cox): does group 1's survival
    * curve differ from group 0's? At every event-time bucket the
    * observed group-1 deaths are compared with the hypergeometric
    * expectation `d·n1/n` given the at-risk sets, and
    * `χ² = (O1 − E1)² / V` with the standard variance
    * `V = Σ d·n1·n0·(n−d) / (n²·(n−1))` — the companion inference step
    * to [[kmSurvival]]'s curves.
    *
    * Same bounded shape as the KM fit: one keyed aggregation to the
    * duration grid (conditional per-group death/censor sums — no
    * densify join needed), at-risk counts as suffix sums over that
    * grid, per-bucket E/V terms nano-quantized BIGINTs so the sums are
    * exact, and a one-row readout. Output: `(n1, n0, o1, e1, chi2,
    * significant)` (χ² vs the 3.841 = χ²₁,₀.₀₅ line).
    */
  def logRank(
      df: DataFrame,
      durQ: Column,
      eventFlag: Column,
      grpFlag: Column): DataFrame = {
    val dbl = (c: Column) => c.cast("double")
    val e = df.select(
      durQ.cast("long").as("t"),
      eventFlag.cast("long").as("ev"),
      grpFlag.cast("long").as("g"))
    val cells = e.groupBy(col("t"))
      .agg(
        sum(when(col("g") === 1L, col("ev")).otherwise(0L)).as("d1"),
        sum(when(col("g") === 1L, lit(1L) - col("ev")).otherwise(0L)).as("c1"),
        sum(when(col("g") === 0L, col("ev")).otherwise(0L)).as("d0"),
        sum(when(col("g") === 0L, lit(1L) - col("ev")).otherwise(0L)).as("c0"))
    val ord = Window.orderBy(col("t")) // bounded duration grid
    val prev = ord.rowsBetween(Window.unboundedPreceding, -1)
    val all = ord.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    def atRisk(d: String, c: String) =
      sum(col(d) + col(c)).over(all) -
        coalesce(sum(col(d) + col(c)).over(prev), lit(0L))
    val w = cells.select(
      col("t"), col("d1"), col("d0"),
      atRisk("d1", "c1").as("n1t"),
      atRisk("d0", "c0").as("n0t"))
    val d = col("d1") + col("d0")
    val n = col("n1t") + col("n0t")
    val e1Term = round(lit(1e9) * dbl(d) * dbl(col("n1t")) / dbl(n)).cast("bigint")
    val vTerm = when(
      n > 1L,
      round(
        lit(1e9) * dbl(d) * dbl(col("n1t")) * dbl(col("n0t")) * dbl(n - d) /
          (dbl(n) * dbl(n) * dbl(n - lit(1L)))).cast("bigint")).otherwise(lit(0L))
    val agg = w
      .filter(d > 0L)
      .agg(
        sum(col("d1")).as("o1"),
        sum(e1Term).as("e1n"),
        sum(vTerm).as("vn"))
      .crossJoin(broadcast(
        e.agg(
          sum(when(col("g") === 1L, 1L).otherwise(0L)).as("n1"),
          sum(when(col("g") === 0L, 1L).otherwise(0L)).as("n0"))))
    val e1d = dbl(col("e1n")) / lit(1e9)
    val vd = dbl(col("vn")) / lit(1e9)
    val chi2 = (dbl(col("o1")) - e1d) * (dbl(col("o1")) - e1d) / vd
    agg.select(
      col("n1"), col("n0"), col("o1"),
      round(e1d, 6).as("e1"),
      when(col("vn") > 0L, round(chi2, 6)).as("chi2"),
      when(col("vn") > 0L, chi2 > lit(3.841)).as("significant"))
  }

  /** Post-stratified A/B estimate: the arm delta re-weighted so every
    * stratum contributes its POOLED share `w_s = n_s/N` instead of its
    * (possibly imbalanced) per-arm share — removing the composition
    * noise a chance stratum tilt injects into the raw difference, the
    * stratification counterpart to [[cuped]]'s covariate adjustment.
    *
    * Per-stratum contributions `w_s·(ȳ_{A,s} − ȳ_{B,s})` are
    * nano-quantized BIGINTs before the cross-stratum sum (exact,
    * merge-order-free); strata with a missing arm are excluded and
    * counted. One keyed aggregation to the (arm × stratum) grid; all
    * downstream joins are over that bounded relation. Output: one row
    * `(n_a, n_b, n_strata, n_skipped, diff_raw_c, diff_strat_c)`.
    */
  def postStratifiedDiff(rows: DataFrame): DataFrame = {
    val dbl = (c: Column) => c.cast("double")
    val cells = rows
      .select(col("arm"), col("stratum"), col("cents"))
      .groupBy(col("stratum"))
      .agg(
        sum(when(col("arm") === 0L, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("arm") === 0L, col("cents")).otherwise(0L)).as("s_a"),
        sum(when(col("arm") =!= 0L, 1L).otherwise(0L)).as("n_b"),
        sum(when(col("arm") =!= 0L, col("cents")).otherwise(0L)).as("s_b"))
    val tot = broadcast(cells.agg(
      sum(col("n_a") + col("n_b")).as("n_tot"),
      sum(col("n_a")).as("ta"),
      sum(col("n_b")).as("tb"),
      sum(col("s_a")).as("sa"),
      sum(col("s_b")).as("sb")))
    val usable = col("n_a") > 0L && col("n_b") > 0L
    val contribNano = round(
      lit(1e9) * (dbl(col("n_a") + col("n_b")) / dbl(col("n_tot"))) *
        (dbl(col("s_a")) / dbl(col("n_a")) - dbl(col("s_b")) / dbl(col("n_b"))))
      .cast("bigint")
    cells
      .crossJoin(tot)
      .agg(
        max(col("ta")).as("n_a"),
        max(col("tb")).as("n_b"),
        sum(when(usable, 1L).otherwise(0L)).as("n_strata"),
        sum(when(usable, 0L).otherwise(1L)).as("n_skipped"),
        max(dbl(col("sa")) / dbl(col("ta")) - dbl(col("sb")) / dbl(col("tb")))
          .as("_raw"),
        sum(when(usable, contribNano).otherwise(0L)).as("_strat_n"))
      .select(
        col("n_a"), col("n_b"), col("n_strata"), col("n_skipped"),
        round(col("_raw"), 6).as("diff_raw_c"),
        round(dbl(col("_strat_n")) / lit(1e9), 6).as("diff_strat_c"))
  }

  /** Benjamini–Hochberg FDR control over a family of tests: given
    * per-group nano-quantized p-values, reject the `i` smallest where
    * `p_(i) ≤ α·i/m` — the step-up procedure that bounds the expected
    * false-discovery RATE (not the per-test error), the correct gate
    * when a pipeline fires one test per slice and acts on the batch.
    *
    * The decision is exact integer arithmetic: with α = aNum/aDen the
    * comparison is `p_nano·aDen·m ≤ 10^9·aNum·rank` (all BIGINT —
    * p_nano ≤ 10^9 and the family is bounded, so no overflow), so a
    * borderline rejection can never flip on a float ulp. The family
    * relation is bounded (one row per slice); every window runs on it.
    *
    * Output: `(grp, p_nano, p_value, rank, rejected)` ordered by rank.
    */
  def bhReject(tests: DataFrame, alphaNum: Long = 1L, alphaDen: Long = 10L): DataFrame = {
    require(alphaNum > 0 && alphaNum < alphaDen, "need 0 < alpha < 1")
    val dbl = (c: Column) => c.cast("double")
    val wR = Window.orderBy(col("p_nano").asc, col("grp")) // bounded family
    val all = wR.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val ranked = tests.select(col("grp"), col("p_nano").cast("long").as("p_nano"))
      .withColumn("rank", row_number().over(wR))
      .withColumn("m", count(lit(1)).over(all))
    val pass = col("p_nano") * lit(alphaDen) * col("m") <=
      lit(1000000000L) * lit(alphaNum) * col("rank")
    ranked
      .withColumn("max_i", max(when(pass, col("rank"))).over(all))
      .select(
        col("grp"),
        col("p_nano"),
        round(dbl(col("p_nano")) / lit(1e9), 6).as("p_value"),
        col("rank"),
        (col("rank") <= coalesce(col("max_i"), lit(0))).as("rejected"))
      .orderBy(col("rank"))
  }

  /** Empirical-Bayes shrinkage of per-group binomial rates (beta-binomial
    * method of moments): small groups' raw rates are noisy, so each is
    * pulled toward the pooled mean with strength estimated FROM the data —
    * `τ² = max(0, s² − m(1−m)·mean(1/n_g))` (the excess of the observed
    * between-group variance over what binomial sampling alone explains),
    * prior pseudo-count `M = m(1−m)/τ² − 1`, posterior
    * `(x + M·m)/(n + M)`. When the groups are binomially consistent
    * (τ² ≤ 0) the output pools completely (`shrunk = m`, M null) — the
    * correct degenerate, not an error.
    *
    * Scale shape: one keyed aggregation to the group relation, a 1-row
    * moment aggregate over it (groups are bounded — brands, sources),
    * and a broadcast projection back. Floats appear in a fixed
    * expression order; output rounded to 6. Output per group:
    * `(grp, n, x, raw_rate, shrunk_rate, pooled_rate, prior_m)`.
    */
  def ebShrinkRates(groups: DataFrame): DataFrame = {
    val dbl = (c: Column) => c.cast("double")
    val g = groups.select(col("grp"), col("n").cast("long").as("n"), col("x").cast("long").as("x"))
    // per-group moment terms are nano/pico-quantized BIGINTs before the
    // sum, so the cross-group accumulation is exact and merge-order-free
    val stats = g.agg(
      count(lit(1)).as("k"),
      sum(col("n")).as("tn"),
      sum(col("x")).as("tx"),
      sum(round(lit(1e9) * (dbl(col("x")) / dbl(col("n")))).cast("bigint")).as("sr_n"),
      sum(round(lit(1e9) * (dbl(col("x")) / dbl(col("n")) * (dbl(col("x")) / dbl(col("n")))))
        .cast("bigint")).as("srr_n"),
      sum(round(lit(1e12) / dbl(col("n"))).cast("bigint")).as("sinv_p"))
    val m = dbl(col("tx")) / dbl(col("tn"))
    val sr = dbl(col("sr_n")) / lit(1e9)
    val srr = dbl(col("srr_n")) / lit(1e9)
    val sinv = dbl(col("sinv_p")) / lit(1e12)
    val rbar = sr / dbl(col("k"))
    val s2 = when(col("k") > 1L, (srr - sr * rbar) / (dbl(col("k")) - lit(1.0)))
    val binom = m * (lit(1.0) - m) * (sinv / dbl(col("k")))
    val tau2 = when(s2.isNotNull && s2 > binom, s2 - binom)
    val priorM = when(tau2.isNotNull, m * (lit(1.0) - m) / tau2 - lit(1.0))
    val st = broadcast(stats.select(m.as("m"), priorM.as("prior_m")))
    g.crossJoin(st)
      .select(
        col("grp"),
        col("n"),
        col("x"),
        round(dbl(col("x")) / dbl(col("n")), 6).as("raw_rate"),
        round(
          when(
            col("prior_m").isNotNull && col("prior_m") > 0.0,
            (dbl(col("x")) + col("prior_m") * col("m")) / (dbl(col("n")) + col("prior_m")))
            // τ² ≥ m(1−m): groups are maximally dispersed — no pooling
            .when(col("prior_m").isNotNull, dbl(col("x")) / dbl(col("n")))
            // no detectable overdispersion: pool completely
            .otherwise(col("m")),
          6).as("shrunk_rate"),
        round(col("m"), 6).as("pooled_rate"),
        round(col("prior_m"), 6).as("prior_m"))
      .orderBy(col("grp"))
  }

  /** CUPED variance-reduced experiment readout (Deng et al. 2013): the
    * post-period metric `y` is adjusted by the pre-period covariate `x`
    * (`y_adj = y − θ·x`, θ = Cov(x,y)/Var(x) pooled across arms — the
    * variance-minimizing coefficient), shrinking the A/B delta's noise
    * by the pre/post correlation² without biasing it (randomization
    * makes x independent of assignment).
    *
    * Input: one row per unit `(arm ∈ {0,1}, x, y)` in exact integer
    * cents. One aggregation computes every sufficient statistic —
    * DECIMAL(38,0) carries the cross-products so 100 TB-scale cents²
    * sums cannot overflow — and the one-row projection derives θ, the
    * raw and adjusted deltas, and the variance-reduction factor ρ²;
    * floats appear only there, in a fixed order. Output:
    * `(n_a, n_b, theta, diff_raw_c, diff_cuped_c, var_reduction)`.
    */
  def cuped(perUnit: DataFrame): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val dbl = (c: Column) => c.cast("double")
    val a = col("arm") === 0L
    val g = perUnit.agg(
      sum(when(a, 1L).otherwise(0L)).as("n_a"),
      sum(when(a, 0L).otherwise(1L)).as("n_b"),
      sum(when(a, col("y")).otherwise(0L)).as("sy_a"),
      sum(when(a, 0L).otherwise(col("y"))).as("sy_b"),
      sum(when(a, col("x")).otherwise(0L)).as("sx_a"),
      sum(when(a, 0L).otherwise(col("x"))).as("sx_b"),
      sum(dec(col("x")) * dec(col("x"))).as("sxx"),
      sum(dec(col("x")) * dec(col("y"))).as("sxy"),
      sum(dec(col("y")) * dec(col("y"))).as("syy"))
    val n = col("n_a") + col("n_b")
    val sx = col("sx_a") + col("sx_b")
    val sy = col("sy_a") + col("sy_b")
    val covN = dbl(dec(n) * col("sxy") - dec(sx) * dec(sy)) // n·Sxy − Sx·Sy
    val varXN = dbl(dec(n) * col("sxx") - dec(sx) * dec(sx))
    val varYN = dbl(dec(n) * col("syy") - dec(sy) * dec(sy))
    val theta = covN / varXN
    val diffRaw = dbl(col("sy_a")) / dbl(col("n_a")) - dbl(col("sy_b")) / dbl(col("n_b"))
    val diffX = dbl(col("sx_a")) / dbl(col("n_a")) - dbl(col("sx_b")) / dbl(col("n_b"))
    g.select(
      col("n_a"),
      col("n_b"),
      round(theta, 6).as("theta"),
      round(diffRaw, 6).as("diff_raw_c"),
      round(diffRaw - theta * diffX, 6).as("diff_cuped_c"),
      round(covN * covN / (varXN * varYN), 6).as("var_reduction"))
  }

  /** [[isotonicFromBins]] over the standard probability binning (the
    * [[prCurve]] grid): `probMicro` in [0, 10^6], `bins` equal-width
    * cells, `posFlag` outcomes.
    */
  def isotonicCalibration(
      df: DataFrame,
      probMicro: Column,
      posFlag: Column,
      bins: Int = 16): DataFrame = {
    val width = 1000000L / bins
    val g = df
      .select(probMicro.cast("bigint").as("pm"), posFlag.cast("bigint").as("y"))
      .select(least(expr(s"pm DIV $width"), lit((bins - 1).toLong)).as("bin"), col("y"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("n_pos"))
    isotonicFromBins(g)
  }

  /** Uplift (Qini) curve — the evaluation readout for incremental
    * targeting (Radcliffe 2007): rank units by a targeting score, then
    * at each cut report the INCREMENTAL conversions treatment earned
    * over the control baseline scaled to the treated volume,
    * Q = Y_t − Y_c · N_t / N_c (cumulative best-score-first). A useful
    * score front-loads positive Q; a useless one hugs zero — the
    * decision-layer gauge for "is this targeting model worth shipping".
    *
    * `units` carries one row per unit: `(score, t, y)` with an integer
    * score already CAPPED to a bounded domain by the caller (the
    * engine's bounded-relation discipline: per-score sufficient stats
    * aggregate map-side, and the cumulative windows ride the ≤ |scores|
    * row relation — never a global rank of raw units, which is the
    * trap naive decile-based uplift tooling falls into at scale).
    * Output per score (descending): the per-bucket and cumulative
    * sufficient stats and `qini` (NULL until a control unit appears).
    *
    * ENFORCED (round-12 verdict #3): the caller contract is now checked
    * in the operator. The grouped per-score relation is persisted and
    * its cardinality confirmed (one session-memoized count over rows the
    * window was about to scan anyway — the cache makes the check
    * near-free); if it exceeds `maxScores`, the call fails loudly
    * instead of handing the single-partition cumulative window an
    * unbounded rank. PERF.md "Round 12: hot-key skew evidence" measured
    * exactly this failure shape:
    * windows, not aggregations, are where unbounded cardinality bites.
    */
  def upliftQini(units: DataFrame, maxScores: Int = MaxQiniScores): DataFrame = {
    val dbl = (c: Column) => c.cast("double")
    val g = DedupOps.registerCache(
      units
        .groupBy(col("score"))
        .agg(
          sum(col("t")).as("n_t"),
          sum(lit(1L) - col("t")).as("n_c"),
          sum(col("t") * col("y")).as("y_t"),
          sum((lit(1L) - col("t")) * col("y")).as("y_c"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    // round-13 advice #3: count g DIRECTLY (it is persisted — the count
    // reads the cache the window fills anyway) instead of memoizing on
    // the units plan: a mutable non-file source whose canonicalized plan
    // is stable while its data grows would otherwise reuse a stale count
    // and silently skip the guard.
    val nScores = g.count()
    require(
      nScores <= maxScores,
      s"upliftQini: $nScores distinct scores exceed maxScores=$maxScores — the cumulative " +
        "window would rank an unbounded relation in one task; bin the score to a bounded " +
        "domain (BinSpec / integer deciles) before calling")
    val wCum = Window.orderBy(col("score").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    g.select(
        col("score"), col("n_t"), col("n_c"), col("y_t"), col("y_c"),
        sum(col("n_t")).over(wCum).as("cum_nt"),
        sum(col("n_c")).over(wCum).as("cum_nc"),
        sum(col("y_t")).over(wCum).as("cum_yt"),
        sum(col("y_c")).over(wCum).as("cum_yc"))
      .select(
        col("score"), col("n_t"), col("n_c"), col("y_t"), col("y_c"),
        col("cum_nt"), col("cum_nc"), col("cum_yt"), col("cum_yc"),
        when(col("cum_nc") > 0L,
          round(
            dbl(col("cum_yt")) -
              dbl(col("cum_yc")) * dbl(col("cum_nt")) / dbl(col("cum_nc")),
            6)).as("qini"))
      .orderBy(col("score").desc)
  }
}
