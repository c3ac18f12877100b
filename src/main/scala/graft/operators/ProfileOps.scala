package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Dataset-profiling operators: the "what is in this table" pass every
  * large-scale pipeline runs before training — per-column completeness /
  * cardinality / range, and exact per-group quantiles.
  *
  * Determinism contract (same as CurationOps): values that feed float
  * arithmetic are quantized to integer cents first (`cast` truncation,
  * mirrored by `trunc()` in the DuckDB oracles), sums run over BIGINT, and
  * every exposed double is a single arithmetic chain over exact integers
  * rounded to 6 decimals — bit-reproducible cross-engine.
  */
object ProfileOps {

  /** NaN → null in the profile melts: profiled NaNs count as MISSING
    * (inside n_rows, outside n_nonnull/distinct/min/max/sum), matching the
    * isnan filters of groupQuantiles/winsorizedStats. Without this,
    * non-ANSI Spark casts NaN to 0L in sum_cents and counts it as a
    * distinct value while the DuckDB oracle's CAST does not — the profiler
    * would only stay oracle-exact on NaN-free inputs.
    */
  private def nanAsNull(v: Column): Column = when(isnan(v), lit(null)).otherwise(v)

  /** Long-form per-column profile of the given numeric columns: row count,
    * non-null count, exact distinct count, min/max, and an exact integer
    * cents sum. One scan: the columns are melted to `(column, v)` long form
    * (linear blow-up of ncols ×, the unavoidable cost of a long-form
    * profile), then one grouped aggregation over `ncols` keys.
    *
    * Scale note: the distinct count is a hand-written two-level aggregate —
    * `groupBy(col_name, v)` with per-group counts, then a final fold by
    * `col_name` — NOT `countDistinct` mixed into the plain aggregates.
    * Mixed, Catalyst rewrites through an Expand that multiplies the melted
    * relation again before the exchange (measured 2× on this query); the
    * manual form's first level partial-aggregates map-side to one row per
    * distinct (column, value) pair, and every plain stat (counts, min/max,
    * cents sum) rides that same pass weighted by the group count. The
    * shuffle still carries one row per distinct value per column — for
    * profiling continuous doubles at 100 TB that approaches the data size,
    * so [[profileColumnsApprox]] (HLL registers, ≤ 257 rows per column)
    * remains the documented scale default; the exact form is the oracle
    * baseline.
    */
  def profileColumns(
      df: DataFrame,
      cols: Seq[String],
      spreadKeys: Seq[String] = Nil): DataFrame = {
    // same starvation route as profileColumnsApprox (round 14): the ncols×
    // melt + first-level partial aggregation are this plan's per-row cost
    // and fuse into the scan stage — respread the raw rows when the scan
    // cannot feed the cores. Identity on rows; no-op at scale.
    val spread =
      if (spreadKeys.nonEmpty)
        graft.core.Spread
          .respread(df, spreadKeys.map(col), "profileColumns.spread")
          .select(cols.map(col): _*)
      else df
    val melted = spread.select(
      explode(array(cols.map(c =>
        struct(lit(c).as("col_name"), nanAsNull(col(c).cast("double")).as("v"))): _*)).as("cv"))
      .select(col("cv.col_name").as("col_name"), col("cv.v").as("v"))
    melted
      .groupBy(col("col_name"), col("v"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("col_name"))
      .agg(
        sum(col("cnt")).as("n_rows"),
        sum(when(col("v").isNotNull, col("cnt")).otherwise(lit(0L))).as("n_nonnull"),
        // each surviving group holds one distinct value; count skips the
        // null-value group — exactly count(DISTINCT v) semantics
        count(col("v")).as("n_distinct"),
        min(col("v")).as("min_v"),
        max(col("v")).as("max_v"),
        // truncation-cast per distinct value × its multiplicity ==
        // row-wise sum of the truncated cents (null v propagates to null
        // and is skipped, matching the row-wise form)
        sum(col("cnt") * (col("v") * lit(100.0)).cast("bigint")).as("sum_cents"))
      .orderBy(col("col_name"))
  }

  /** The 100 TB-default profiler: same long-form melt, but cardinality
    * comes from the portable HLL sketch ([[SketchOps]]) instead of an
    * exact `count(DISTINCT)` — the shuffle carries ≤ 256 registers per
    * column instead of one row per distinct value, so the pass stays
    * scan-bound at any scale. Still oracle-exact: the sketch registers and
    * the estimate arithmetic are bit-reproducible in DuckDB.
    * Output: `(col_name, n_rows, n_nonnull, n_est, min_v, max_v)`.
    */
  def profileColumnsApprox(
      df: DataFrame,
      cols: Seq[String],
      spreadKeys: Seq[String] = Nil): DataFrame = {
    // COST-SHAPE ROUTE (round 14, guide §2.4/§2.5): the md5 sketch hash
    // below is this plan's dominant per-row cost, and it is fused into
    // the SCAN stage — on a split-starved input (one file, one row
    // group: the local bench layout) that whole stage runs in ONE task
    // (measured: 1.3 s of profile_approx's 1.7 s on local[32]). When the
    // caller names unique key columns and core.Spread says the input is
    // starved, hash-repartition the RAW rows across the cores first —
    // a deterministic key (guide §2.5: never rand()), a sub-second
    // exchange at starved sizes, and the melt + hash + partial
    // aggregation all land on the parallel side (measured 1.9 → 0.9 s;
    // round-robin instead was 10× WORSE — projections push below a
    // round-robin exchange and sort-before-repartition serializes, see
    // core.Spread). At scale the scan feeds ≫ cores splits, the route
    // is off, and the plan is today's: no extra exchange of a 100 TB
    // corpus. Results are unchanged by construction — every downstream
    // aggregate is order-insensitive and exact-integer.
    val spread =
      if (spreadKeys.nonEmpty)
        graft.core.Spread
          .respread(df, spreadKeys.map(col), "profileColumnsApprox.spread")
          .select(cols.map(col): _*)
      else df
    val melted = spread.select(
      explode(array(cols.map(c =>
        struct(lit(c).as("col_name"), nanAsNull(col(c).cast("double")).as("v"))): _*)).as("cv"))
      .select(col("cv.col_name").as("col_name"), col("cv.v").as("v"))
    // ONE scan: the plain stats ride the sketch's (col_name, bucket)
    // partial aggregation as extra partial aggregates (sum/min/max all
    // compose), then the ≤ 257-row-per-column register relation folds to
    // the final profile. The previous shape consumed the melt twice —
    // stats pass + register pass — re-paying the scan and the explode.
    // The sketch hashes the integer-cents form, not the double's string:
    // BIGINT→VARCHAR is identical cross-engine, while Java and DuckDB
    // disagree on double formatting past 1e7 (scientific vs positional).
    // For 2-decimal money/quantity columns cents are value-faithful.
    // Null values land in a null bucket (null-propagating hash) whose
    // m_j stays null, so z_present's sum skips it and n_buckets's
    // count(bucket) never sees it — the sketch state is untouched.
    //
    val h = graft.functions.PortableHash.hash60(
      (col("v") * lit(100.0)).cast("bigint").cast("string"))
    melted
      .select(
        col("col_name"), col("v"),
        SketchOps.bucketOf(h).as("bucket"), SketchOps.rankOf(h).as("rank"))
      .groupBy(col("col_name"), col("bucket"))
      .agg(
        count(lit(1)).as("n_rows_p"),
        count(col("v")).as("n_nonnull_p"),
        min(col("v")).as("min_p"),
        max(col("v")).as("max_p"),
        max(col("rank")).as("m_j"))
      .groupBy(col("col_name"))
      .agg(
        sum(col("n_rows_p")).as("n_rows"),
        sum(col("n_nonnull_p")).as("n_nonnull"),
        count(col("bucket")).as("n_buckets"),
        sum(expr("shiftleft(cast(1 as bigint), 53 - m_j)")).as("z_present"),
        min(col("min_p")).as("min_v"),
        max(col("max_p")).as("max_v"))
      .select(
        col("col_name"), col("n_rows"), col("n_nonnull"),
        round(SketchOps.hllEstimate(col("n_buckets"), col("z_present")), 6).as("n_est"),
        col("min_v"), col("max_v"))
      .orderBy(col("col_name"))
  }

  /** Exact per-group quantiles WITHOUT a group-scale sort — NOT the
    * built-in `percentile` aggregate (which collects every value of a
    * group into one aggregation buffer — an executor-memory bomb for a hot
    * group at 100 TB), and since round 8 not the rank-window formulation
    * either: with few, enormous groups (this query's shape — 5 event
    * types) a window partitioned by the group key funnels ~20% of the
    * corpus into each task's sort at 100×. Instead the values at the
    * interpolation ranks come from [[RankOps.keysAtRanks]] (bounded bin
    * histogram → boundary-rank location → a rank window over the target
    * bins only, partitioned group × target — full map-side parallelism at
    * any group size).
    *
    * For each requested percentile p over n rows: pos = p·(n−1)/100, and
    * the quantile linearly interpolates the values at ranks ⌊pos⌋+1 and
    * ⌊pos⌋+2 (1-based; the +2 rank is absent at the group max and
    * coalesces to the +1 value). ⌊pos⌋ is the DOUBLE-division floor — the
    * same arithmetic as the DuckDB oracle's `trunc(pos)`, kept double so
    * both engines round identically. Values are quantized to integer cents
    * before ranking so the interpolation (the only float math) runs over
    * exact integers — the oracle reproduces it bit-for-bit; ties need no
    * tiebreak because the VALUE at a sorted position is well-defined
    * regardless of tie order. Output: `(group, p, n, q)` long form.
    */
  def groupQuantiles(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      ps: Seq[Int] = Seq(25, 50, 75, 90)): DataFrame = {
    val cents = (col(valueCol) * lit(100.0)).cast("bigint")
    // the filtered (group, cents) relation feeds the count, histogram, and
    // boundary-rank passes — persist via the session registry
    val base = DedupOps.registerCache(
      df.filter(col(valueCol).isNotNull && !isnan(col(valueCol)))
        .select(col(groupCol).as("grp"), cents.as("cents"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    // two target ranks per percentile, tagged tid = 2p (lo) / 2p+1 (hi);
    // rank expressions evaluate against the operator's single stats pass
    val targets = ps.flatMap { p =>
      val k = (lit(p).cast("double") * (col("gr_n") - 1).cast("double") / lit(100.0))
        .cast("bigint") // floor: pos >= 0
      Seq(p * 2 -> (k + 1L), p * 2 + 1 -> (k + 2L))
    }
    RankOps
      .keysAtRanksBy(base, Seq("grp"), Seq("cents"), targets)
      .groupBy(col("grp"), (col("gr_tid") / 2).cast("int").as("p"))
      .agg(
        max(col("gr_n")).as("gr_n"),
        max(when(col("gr_tid") % 2 === 0, col("cents"))).as("lo_c"),
        max(when(col("gr_tid") % 2 === 1, col("cents"))).as("hi_c"))
      .withColumn(
        "pos",
        col("p").cast("double") * (col("gr_n") - 1).cast("double") / lit(100.0))
      .withColumn("k", col("pos").cast("bigint"))
      .select(
        col("grp"), col("p"), col("gr_n").as("n"),
        round(
          (col("lo_c").cast("double") +
            (coalesce(col("hi_c"), col("lo_c")).cast("double") - col("lo_c").cast("double")) *
              (col("pos") - col("k").cast("double"))) / lit(100.0),
          6).as("q"))
      .orderBy(col("grp"), col("p"))
  }

  /** Winsorized (outlier-clamped) per-group statistics: values are clamped
    * to the [pLo, pHi] order statistics of their group (lower/type-1
    * quantile — an actual data value, so thresholds and the clamped sum
    * stay exact integers; no interpolation float enters the aggregate) and
    * the summary reports the thresholds, clip counts, and winsorized mean.
    * The robust-mean step of any metric pipeline with heavy-tailed values.
    *
    * Scale shape (round 8): the two threshold order statistics per group
    * come from [[RankOps.keysAtRanks]] — bounded bin histogram, boundary
    * ranks, a rank window over target-bin rows only — so no group-scale
    * sort exists anywhere (the previous rank-window form sorted a third of
    * the corpus per task with this query's 3-flag group column). The
    * per-group threshold relation (2 values per group) then broadcast-joins
    * back onto the unsorted base for the clamp aggregate. Rank selection
    * uses pure BIGINT arithmetic (`p·(n−1) DIV 100`), mirroring the
    * oracle's `//` integer division.
    */
  /** 2-D skyline (Pareto frontier, strict domination): rows minimizing
    * `(x, y)` jointly — kept iff no other row has `x ≤, y ≤` with one
    * strict. Two windows over the same sort: the running y-min over
    * strictly-smaller x (RANGE frame excludes x-ties) catches cross-x
    * domination, the per-x-partition min catches same-x domination;
    * duplicates on both axes stay (neither dominates). Expects integer
    * columns named `x`, `y` plus carry-through columns.
    *
    * Scale shape (round-13 sweep fix — this was the last global window
    * over raw rows): GRID-PARTITIONED, exactly. `x` bins into `nBins`
    * fixed-width cells (1-row min/max broadcast); per-bin `min(y)` is a
    * bounded aggregate whose EXCLUSIVE running minimum over the bin
    * order (a window over the ≤ nBins-row relation) decides cross-bin
    * domination exactly — bins are monotone in x, so an earlier-bin row
    * always has strictly smaller x, and a row is cross-bin dominated iff
    * `minPrevBins(y) ≤ y`. Rows surviving that broadcast prefilter run
    * the two original windows PARTITIONED BY BIN (~n/nBins rows per
    * partition): the in-bin running y-min over strictly-smaller x
    * (RANGE frame excludes x-ties) and the per-x min. Same frontier,
    * row for row — no window ever sees a corpus-scale partition.
    */
  def skyline2d(df: DataFrame, nBins: Int = 256): DataFrame = {
    val st = df.agg(min(col("x")).as("g_lo"), max(col("x")).as("g_hi"))
    val binCol = when(col("g_hi") <= col("g_lo"), lit(0L))
      .otherwise(least(
        lit(nBins - 1L),
        floor((col("x").cast("double") - col("g_lo").cast("double")) /
          (col("g_hi").cast("double") - col("g_lo").cast("double")) * nBins)))
    val binned = df.crossJoin(broadcast(st))
      .withColumn("gr_bin", binCol)
      .drop("g_lo", "g_hi")
    val wPrev = Window.orderBy(col("gr_bin")).rowsBetween(Window.unboundedPreceding, -1)
    val prevMin = binned
      .groupBy(col("gr_bin"))
      .agg(min(col("y")).as("g_bin_min"))
      .withColumn("g_prev_min", min(col("g_bin_min")).over(wPrev))
      .select(col("gr_bin"), col("g_prev_min"))
    val pruned = binned
      .join(broadcast(prevMin), Seq("gr_bin"))
      .filter(col("g_prev_min").isNull || col("g_prev_min") > col("y"))
    val cross = Window.partitionBy(col("gr_bin")).orderBy(col("x"))
      .rangeBetween(Window.unboundedPreceding, -1)
    val same = Window.partitionBy(col("gr_bin"), col("x"))
    pruned
      .withColumn("m1", min(col("y")).over(cross))
      .withColumn("m2", min(col("y")).over(same))
      .filter((col("m1").isNull || col("m1") > col("y")) && col("m2") === col("y"))
      .drop("m1", "m2", "gr_bin", "g_prev_min")
  }

  /** Equi-depth histogram over a pre-aggregated value domain: the input
    * quantizes to bounded cells (caller's `cell` column — e.g. hundred-
    * dollar price cells: bounded by the VALUE RANGE, not the corpus),
    * the cell-frequency relation aggregates first, and bucket boundaries
    * come from integer rank arithmetic over the cumulative counts
    * (`bucket = cum_before·k div N` — a whole heavy cell lands in one
    * bucket, the type-1 convention). No corpus-sized sort: the one
    * unpartitioned window runs over the ≤ |cells| aggregated relation —
    * the same cardinality-reduction-before-windows rule as the deciles.
    */
  def equiDepthHistogram(cells: DataFrame, k: Int = 10): DataFrame = {
    // the cell-frequency relation feeds the window chain AND the total —
    // persist via the session registry so the corpus aggregates once
    val v = DedupOps.registerCache(
      cells.groupBy(col("cell")).agg(count(lit(1)).as("c"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val tot = v.agg(sum(col("c")).as("n_total"))
    val w = Window.orderBy(col("cell")).rowsBetween(Window.unboundedPreceding, -1)
    v.withColumn("cum_before", coalesce(sum(col("c")).over(w), lit(0L)))
      .crossJoin(broadcast(tot))
      .withColumn("bucket", expr(s"cast((cum_before * $k) div n_total as int)"))
      .groupBy(col("bucket"))
      .agg(
        sum(col("c")).as("n_rows"),
        min(col("cell")).as("lo_cell"),
        max(col("cell")).as("hi_cell"))
      .orderBy(col("bucket"))
  }

  def winsorizedStats(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      pLo: Int = 5,
      pHi: Int = 95): DataFrame = {
    val cents = (col(valueCol) * lit(100.0)).cast("bigint")
    val base = DedupOps.registerCache(
      df.filter(col(valueCol).isNotNull && !isnan(col(valueCol)))
        .select(col(groupCol).as("grp"), cents.as("cents"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val thresholds = RankOps
      .keysAtRanksBy(
        base,
        Seq("grp"),
        Seq("cents"),
        Seq(
          0 -> (expr(s"$pLo * (gr_n - 1) div 100") + 1L),
          1 -> (expr(s"$pHi * (gr_n - 1) div 100") + 1L)))
      .groupBy(col("grp"))
      .agg(
        max(when(col("gr_tid") === 0, col("cents"))).as("lo_c"),
        max(when(col("gr_tid") === 1, col("cents"))).as("hi_c"))
    base
      .join(broadcast(thresholds), Seq("grp"))
      .select(
        col("grp"), col("lo_c"), col("hi_c"),
        col("cents"),
        greatest(col("lo_c"), least(col("hi_c"), col("cents"))).as("clamped"))
      .groupBy(col("grp"))
      .agg(
        count(lit(1)).as("n"),
        max(col("lo_c")).as("lo_c"),
        max(col("hi_c")).as("hi_c"),
        sum(when(col("cents") < col("lo_c"), 1L).otherwise(0L)).as("n_clip_lo"),
        sum(when(col("cents") > col("hi_c"), 1L).otherwise(0L)).as("n_clip_hi"),
        sum(col("clamped")).as("sum_clamped_c"))
      .select(
        col("grp"), col("n"), col("lo_c"), col("hi_c"),
        col("n_clip_lo"), col("n_clip_hi"),
        round(col("sum_clamped_c").cast("double") / col("n").cast("double") / lit(100.0), 6)
          .as("wins_mean"))
      .orderBy(col("grp"))
  }

  /** Pairwise Pearson correlation matrix over numeric columns, from ONE
    * map-side-combinable aggregation of exact sufficient statistics.
    *
    * Spark's builtin `corr()` (and DuckDB's) accumulate FLOATING point
    * co-moments, so the low bits depend on partition merge order — a
    * nondeterminism this engine's oracle discipline forbids. Instead the
    * values are quantized to integer cents and the six sums (n, Σx, Σx²,
    * Σxy) run in DECIMAL(38,0): exact at any parallelism, still one
    * shuffle-free partial-aggregate pass (the 100 TB plan is the same
    * single scan — the state is k + k·(k+1)/2 decimals regardless of row
    * count). The correlation itself is k(k-1)/2 scalar float expressions
    * over the 1-row result, exploded to long form.
    *
    * NaN/null rows are dropped LISTWISE (any profiled column) so every
    * pair sees the same n — the standard complete-case matrix.
    * Output: (col_x, col_y, n, corr_r) for x < y in column-name order.
    */
  /** Exact WEIGHTED median per group — "the document length below which
    * half the TOKEN mass sits", the quantile a token-budget planner needs
    * (the unweighted median over-represents short docs). Returns the
    * smallest value v with cumulative weight ≥ ⌈W/2⌉ per group.
    *
    * Same bounded-window discipline as [[groupQuantiles]]/RankOps, with
    * WEIGHT sums in place of counts: one per-group stats pass grids the
    * values; the per-(group, bin) weight histogram locates each group's
    * crossing bin from a ≤ nBins-row cumulative window; only the
    * crossing-bin rows are then value-ranked (per-(group, value) rollup +
    * a window over that boundary slice) to read the exact value. No
    * group-scale sort ever runs. Output per group:
    * `(grp, total_w, wmedian)`.
    */
  def weightedMedianBy(df: DataFrame, grpCol: String, valueQ: Column,
                       weightQ: Column, nBins: Int = 4096): DataFrame =
    weightedQuantilesBy(df, grpCol, valueQ, weightQ, Seq(50), nBins)
      .select(col("grp"), col("total_w"), col("p50").as("wmedian"))

  /** The general weighted-quantile ladder behind [[weightedMedianBy]]:
    * per group, for each p the smallest value whose cumulative weight
    * reaches ⌈p·W/100⌉. One wide row per group:
    * `(grp, total_w, p<ps…>)`. Every p shares the single stats pass, the
    * single weight histogram, and one boundary-slice window — adding
    * percentiles costs a broadcast fan-out of ≤ |ps| rows per group, not
    * extra corpus passes.
    */
  def weightedQuantilesBy(df: DataFrame, grpCol: String, valueQ: Column,
                          weightQ: Column, ps: Seq[Int],
                          nBins: Int = 4096): DataFrame = {
    val base = DedupOps.registerCache(
      df.select(col(grpCol).as("grp"), valueQ.cast("long").as("v"),
        weightQ.cast("long").as("w"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val st = base.groupBy(col("grp"))
      .agg(min(col("v")).as("mn"), max(col("v")).as("mx"))
    val binned = base.join(broadcast(st), Seq("grp"))
      .select(col("grp"), col("v"), col("w"),
        expr(s"((v - mn) * $nBins) DIV (mx - mn + 1)").as("bin"))
    val hist = binned.groupBy(col("grp"), col("bin")).agg(sum(col("w")).as("wb"))
    val cumW = Window.partitionBy(col("grp")).orderBy(col("bin"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val allW = Window.partitionBy(col("grp"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val pRel = df.sparkSession.range(1)
      .select(explode(array(ps.map(p => lit(p.toLong)): _*)).as("p"))
    val marked = hist.select(col("grp"), col("bin"), col("wb"),
      sum(col("wb")).over(cumW).as("cum"),
      sum(col("wb")).over(allW).as("tw"))
      .crossJoin(broadcast(pRel))
      .withColumn("target", expr("(p * tw + 99) DIV 100"))
    // crossing bin per (group, p): the first reaching that p's target
    val crossing = marked
      .filter(col("cum") >= col("target") && col("cum") - col("wb") < col("target"))
      .select(col("grp").as("xgrp"), col("bin").as("xbin"), col("p"),
        (col("cum") - col("wb")).as("w_before"), col("target"), col("tw"))
    val slice = binned
      .join(broadcast(crossing),
        col("grp") === col("xgrp") && col("bin") === col("xbin"))
      .groupBy(col("grp"), col("p"), col("v"))
      .agg(sum(col("w")).as("wv"),
        max(col("w_before")).as("w_before"), max(col("target")).as("target"),
        max(col("tw")).as("tw"))
    val cumV = Window.partitionBy(col("grp"), col("p")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val answers = slice
      .select(col("grp"), col("p"), col("v"), col("tw"), col("target"),
        (col("w_before") + sum(col("wv")).over(cumV)).as("cum2"))
      .filter(col("cum2") >= col("target"))
      .groupBy(col("grp"), col("p"))
      .agg(max(col("tw")).as("tw"), min(col("v")).as("qv"))
    val wide = max(col("tw")).as("total_w") +:
      ps.map(p => max(when(col("p") === p.toLong, col("qv"))).as(s"p$p"))
    answers.groupBy(col("grp"))
      .agg(wide.head, wide.tail: _*)
      .orderBy(col("grp"))
  }

  def corrMatrix(df: DataFrame, cols: Seq[String], spreadKeys: Seq[String] = Nil): DataFrame = {
    require(cols.size >= 2, "corrMatrix needs at least two columns")
    val names = cols.sorted
    val complete = names
      .map(c => col(c).isNotNull && !isnan(col(c)))
      .reduce(_ && _)
    val cents = names.map(c =>
      (col(c) * lit(100.0)).cast("bigint").cast("decimal(38,0)").as(s"v_$c"))
    // round 14: the k(k+1)/2 decimal(38) products below are this plan's
    // dominant per-row cost and fuse into the (single-task, guide §2.5)
    // starved scan stage — respread first when the caller names keys.
    // Identity on rows; no-op at scale.
    val spread =
      if (spreadKeys.nonEmpty)
        graft.core.Spread.respread(df, spreadKeys.map(col), "corrMatrix.spread")
      else df
    val base = spread.filter(complete).select(cents: _*)
    val sums =
      Seq(count(lit(1)).cast("decimal(38,0)").as("n")) ++
        names.map(c => sum(col(s"v_$c")).as(s"s_$c")) ++
        (for { i <- names.indices; j <- i until names.size } yield {
          val (a, b) = (names(i), names(j))
          sum((col(s"v_$a") * col(s"v_$b")).cast("decimal(38,0)")).as(s"s_${a}_$b")
        })
    val agg = base.agg(sums.head, sums.tail: _*)
    val dbl = (c: Column) => c.cast("double")
    val pairs = for { i <- names.indices; j <- (i + 1) until names.size } yield {
      val (a, b) = (names(i), names(j))
      val num = dbl(col("n") * col(s"s_${a}_$b") - col(s"s_$a") * col(s"s_$b"))
      val dxx = dbl(col("n") * col(s"s_${a}_$a") - col(s"s_$a") * col(s"s_$a"))
      val dyy = dbl(col("n") * col(s"s_${b}_$b") - col(s"s_$b") * col(s"s_$b"))
      struct(
        lit(a).as("col_x"), lit(b).as("col_y"),
        col("n").cast("bigint").as("n"),
        round(num / sqrt(dxx * dyy), 6).as("corr_r"))
    }
    agg
      .select(explode(array(pairs: _*)).as("pair"))
      .select(col("pair.col_x"), col("pair.col_y"), col("pair.n"), col("pair.corr_r"))
      .orderBy(col("col_x"), col("col_y"))
  }

  /** Per-group simple linear regression (OLS) of `yCol` on `xCol`, both
    * quantized to integer cents, from the same decimal-exact sufficient
    * statistics as [[corrMatrix]] — one grouped partial-aggregate pass,
    * closed-form slope/intercept/R², float only in the per-group finish.
    * The 100 TB plan is the grouped-aggregation plan: state is five
    * decimals per group.
    * Output: (grp, n, slope, intercept_c, r2); slope is cents-per-cent.
    */
  def olsByGroup(
      df: DataFrame,
      groupCol: String,
      xCol: String,
      yCol: String,
      spreadKeys: Seq[String] = Nil): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    // same starvation route as corrMatrix (round 14): three decimal(38)
    // products per row in the fused scan stage.
    val spread =
      if (spreadKeys.nonEmpty)
        graft.core.Spread.respread(df, spreadKeys.map(col), "olsByGroup.spread")
      else df
    val base = spread
      .filter(col(xCol).isNotNull && !isnan(col(xCol)) &&
        col(yCol).isNotNull && !isnan(col(yCol)))
      .select(
        col(groupCol).as("grp"),
        dec((col(xCol) * lit(100.0)).cast("bigint")).as("x"),
        dec((col(yCol) * lit(100.0)).cast("bigint")).as("y"))
    val agg = base
      .groupBy(col("grp"))
      .agg(
        count(lit(1)).cast("decimal(38,0)").as("n"),
        sum(col("x")).as("sx"),
        sum(col("y")).as("sy"),
        sum((col("x") * col("x")).cast("decimal(38,0)")).as("sxx"),
        sum((col("y") * col("y")).cast("decimal(38,0)")).as("syy"),
        sum((col("x") * col("y")).cast("decimal(38,0)")).as("sxy"))
    val dbl = (c: Column) => c.cast("double")
    val num = dbl(col("n") * col("sxy") - col("sx") * col("sy"))
    val dxx = dbl(col("n") * col("sxx") - col("sx") * col("sx"))
    val dyy = dbl(col("n") * col("syy") - col("sy") * col("sy"))
    val slope = num / dxx
    agg.select(
      col("grp"),
      col("n").cast("bigint").as("n"),
      round(slope, 6).as("slope"),
      round((dbl(col("sy")) - slope * dbl(col("sx"))) / dbl(col("n")), 6).as("intercept_c"),
      round(num * num / (dxx * dyy), 6).as("r2"))
      .orderBy(col("grp"))
  }
}
