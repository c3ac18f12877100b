package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions
import graft.operators.{DeltaOps, EvalOps, LayoutOps, ProfileOps, RankOps, TextOps, TrainsetOps}
import graft.sources.Tables

/** Dataset-profiling, data-layout, and training-set-construction queries
  * + DuckDB oracles: per-column profile, exact per-group quantiles,
  * Z-order cell occupancy, deterministic class rebalancing, and
  * contrastive triplet mining.
  */
object ProfileQueries {

  /** Numeric lineitem columns the profiler covers. */
  val ProfiledCols: Seq[String] =
    Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")

  /** Fixed quantization domain for the *_state queries: the calibration
    * probability lives in [0, 1), so codes 0..99 + last-bin closure.
    */
  private val DocStateSpec =
    graft.core.BinSpec(0, 100, 0.0, graft.core.BinMethod.Linear)

  /** The ONE maintained class-bin state four monitors read
    * (pr_curve_state / drift_psi_state / drift_ks_state / auc_state):
    * per-(y, bin) counts of the documents' length-calibration probability,
    * classed by lang='en'. The same expression tree runs incrementally
    * under Structured Streaming (StreamingAucSpec pins state equivalence);
    * here it is built batch-side so each readout gets a DuckDB hash gate.
    */
  private def docCalibrationState(s: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamingAuc.classBinCounts(
      Tables.documents(s, dir).select(
        (col("n_chars").cast("double") /
          (col("n_chars").cast("double") + lit(200.0))).as("value"),
        when(col("lang") === "en", 1L).otherwise(0L).as("y")),
      DocStateSpec)

  /** `group_cut_bounds` over any `(event_type, value)` frame. */
  def groupCutBounds(events: DataFrame): DataFrame = {
    val df = events
      .select(col("event_type"), col("value"))
      .filter(col("value").isNotNull && !isnan(col("value")))
    val (mn, mx) = graft.operators.HistogramOps.minMax(df.select(col("value")))
    val spec = graft.core.BinSpec.derive(mn, mx, graft.core.BinMethod.Linear)
    graft.streaming.StreamingQuantiles.cutsFromStateBy(
      graft.streaming.StreamingQuantiles.binCountsBy(df, spec, Seq("event_type")),
      spec, 4, Seq("event_type"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Long-form per-column completeness/cardinality/range profile.
    // round 14: a spreadKeys respread here was tried and REVERTED on
    // full-sweep evidence (1.18 -> 1.52 s): unlike the approx profiler's
    // bounded 256-bucket sketch state, the exact profiler's first level is
    // a HIGH-CARDINALITY partial aggregation (one row per distinct
    // (column, value) pair), and hash-spreading the input rows multiplies
    // partial-agg output (~#tasks x per-task distincts), defeating
    // map-side combine — the respread rule only pays before bounded-state
    // aggregations or pure per-row kernels.
    "profile_columns" -> ((s, dir) =>
      ProfileOps.profileColumns(Tables.lineitem(s, dir), ProfiledCols)),
    // The 100 TB-default profiler: HLL cardinality instead of the exact
    // distinct — registers shuffle, not distinct values.
    "profile_approx" -> ((s, dir) =>
      ProfileOps.profileColumnsApprox(
        Tables.lineitem(s, dir), ProfiledCols,
        spreadKeys = Seq("l_orderkey", "l_linenumber"))),
    // Exact rank-interpolated quartiles (+p90) of event value per type.
    "group_quantiles" -> ((s, dir) =>
      ProfileOps.groupQuantiles(Tables.events(s, dir), "event_type", "value")),
    // Per-group quartile boundary bins off the STREAMING quantile state
    // (streaming/StreamingQuantiles, grouped form) run in batch — each
    // row's [err_lo, err_hi] interval contains the exact group cut; the
    // state is what a live stream maintains incrementally.
    "group_cut_bounds" -> ((s, dir) => groupCutBounds(Tables.events(s, dir))),
    // Right-to-be-forgotten audit: a deterministic 1/20 hash sample of
    // customers is "deleted"; count the residual surface per table —
    // direct rows (customer, events by user hash) and the FK cascade
    // (orders of deleted customers, lineitems of those orders). The
    // verification a deletion pipeline runs after the purge: every
    // share here must drop to 0.
    "delete_audit" -> ((s, dir) => {
      val delOf = (c: org.apache.spark.sql.Column) =>
        pmod(
          graft.functions.PortableHash.hash60(concat(lit("del:"), c.cast("string"))),
          lit(20L)) === 0L
      val dbl = (c: org.apache.spark.sql.Column) => c.cast("double")
      val delCust = Tables.customer(s, dir)
        .filter(delOf(col("c_custkey")))
        .select(col("c_custkey"))
      val ord = Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey"))
      val delOrd = ord
        .join(broadcast(delCust), col("o_custkey") === col("c_custkey"), "left_semi")
        .select(col("o_orderkey"))
      def tallied(tbl: String, df: org.apache.spark.sql.DataFrame,
          hit: org.apache.spark.sql.Column) =
        df.agg(
          lit(tbl).as("tbl"),
          count(lit(1)).as("n_rows"),
          sum(when(hit, 1L).otherwise(0L)).as("n_affected"))
      val cu = tallied("customer", Tables.customer(s, dir), delOf(col("c_custkey")))
      val or = tallied("orders",
        ord.join(broadcast(delCust.withColumn("_h", lit(1))),
          col("o_custkey") === col("c_custkey"), "left"),
        col("_h").isNotNull)
      val li = tallied("lineitem",
        Tables.lineitem(s, dir).select(col("l_orderkey"))
          .join(delOrd.withColumn("_h", lit(1))
              .withColumnRenamed("o_orderkey", "_ok"),
            col("l_orderkey") === col("_ok"), "left"),
        col("_h").isNotNull)
      val ev = tallied("events", Tables.events(s, dir), delOf(col("user_id")))
      cu.unionByName(or).unionByName(li).unionByName(ev)
        .select(col("tbl"), col("n_rows"), col("n_affected"),
          round(dbl(col("n_affected")) / dbl(col("n_rows")), 6).as("share"))
        .orderBy(col("tbl"))
    }),
    // Z-order (Morton) cell occupancy over (l_partkey, l_suppkey).
    "zorder_cells" -> ((s, dir) =>
      LayoutOps.zCells(Tables.lineitem(s, dir), "l_partkey", "l_suppkey")),
    // Zone-map skipping audit: natural vs shipdate-sorted 512-row files
    // planned against a 1997 ship-day range predicate.
    "zone_skipping" -> ((s, dir) => LayoutOps.zoneSkipping(Tables.lineitem(s, dir))),
    // Oversample every label to the majority count, exactly.
    "rebalance_classes" -> ((s, dir) =>
      TrainsetOps.rebalanceClasses(Tables.embeddings(s, dir))),
    // One anchor/positive/negative triplet per vector with cosine margins.
    "contrastive_triplets" -> ((s, dir) =>
      TrainsetOps.contrastiveTriplets(Tables.embeddings(s, dir))),
    // Outlier-clamped per-group mean: values winsorized to the group's
    // [p5, p95] order statistics (exact integer thresholds).
    "winsorized_stats" -> ((s, dir) =>
      ProfileOps.winsorizedStats(Tables.lineitem(s, dir), "l_returnflag", "l_extendedprice")),
    // CDC-style diff of two simulated orders snapshots (drops, arrivals,
    // price updates) by map-side row digest + one full-outer key join.
    "snapshot_diff" -> ((s, dir) => {
      val cents = (col("o_totalprice") * lit(100.0)).cast("bigint")
      val base = Tables.orders(s, dir)
        .select(col("o_orderkey"), cents.as("cents"), col("o_orderstatus"))
      val oldSnap = base.filter(pmod(col("o_orderkey"), lit(97)) =!= 3)
      val newSnap = base
        .filter(pmod(col("o_orderkey"), lit(89)) =!= 7)
        .withColumn("cents",
          col("cents") + when(pmod(col("o_orderkey"), lit(13)) === 0, 1L).otherwise(0L))
      DeltaOps.snapshotDiff(oldSnap, newSnap, "o_orderkey",
        Seq(col("cents").cast("string"), col("o_orderstatus")))
    }),
    // 2-D skyline: parts on the Pareto frontier of (price low, size low)
    // — strict domination, duplicates kept, two windows over one sort.
    "pareto_parts" -> ((s, dir) =>
      ProfileOps.skyline2d(
        Tables.part(s, dir).select(
          col("p_partkey"), col("p_brand"),
          (col("p_retailprice") * lit(100.0)).cast("bigint").as("x"),
          col("p_size").cast("long").as("y")))
        .select(col("p_partkey"), col("p_brand"), col("x").as("price_c"),
          col("y").as("p_size"))
        .orderBy(col("price_c"), col("p_size"), col("p_partkey"))),
    // Equi-depth histogram of lineitem revenue over hundred-dollar cells
    // (bounded domain) — rank arithmetic over cumulative cell counts.
    "hist_equidepth" -> ((s, dir) =>
      ProfileOps.equiDepthHistogram(
        Tables.lineitem(s, dir).select(
          // non-ANSI double→bigint cast truncates toward zero (= oracle trunc)
          expr("cast(l_extendedprice as bigint) div 100").as("cell")))),
    // SCD Type-2 merge: the customer-priority dimension (latest pre-1997
    // order priority per customer, valid from that order's epoch day)
    // receives the 1997 change batch — closed/carried/inserted rows in
    // one full-outer join + explode, summarized per action class with
    // key and validity-span checksums.
    "scd2_apply" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ord = Tables.orders(s, dir)
      def latestIn(lo: String, hi: String) = {
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
        ord
          .filter(col("o_orderdate") >= expr(s"timestamp'$lo'") &&
            col("o_orderdate") < expr(s"timestamp'$hi'"))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(
            col("o_custkey").as("k"),
            col("o_orderpriority").as("attr"),
            // NTZ → LTZ is identity under the UTC session; NTZ has no
            // direct long cast
            expr("cast(cast(o_orderdate as timestamp) as long) div 86400").as("ts"))
      }
      val dim = latestIn("1995-01-01 00:00:00", "1997-01-01 00:00:00")
        .withColumnRenamed("ts", "valid_from")
      val changes = latestIn("1997-01-01 00:00:00", "1998-01-01 00:00:00")
      DeltaOps.scd2Apply(dim, changes)
        .groupBy(col("action"), col("is_current"))
        .agg(
          count(lit(1)).as("n_rows"),
          sum(col("k")).as("key_checksum"),
          sum(coalesce(col("valid_to"), lit(0L)) - col("valid_from")).as("span_checksum"))
        .orderBy(col("action"), col("is_current"))
    }),
    // Pairwise Pearson correlations of the profiled lineitem columns from
    // decimal-exact sufficient statistics (builtin corr() accumulates
    // float co-moments whose low bits depend on merge order — not
    // oracle-reproducible).
    "feature_corr" -> ((s, dir) =>
      ProfileOps.corrMatrix(
        Tables.lineitem(s, dir), ProfiledCols,
        spreadKeys = Seq("l_orderkey", "l_linenumber"))),
    // The same decimal-exact correlation matrix over DOCUMENT quality
    // signals (chars / tokens / distinct tokens) — are the cheap signals
    // redundant with each other before anyone weights by them?
    "doc_signal_corr" -> ((s, dir) =>
      ProfileOps.corrMatrix(
        Tables.documents(s, dir)
          .select(col("n_chars"), GraftFunctions.tokenCounts(col("text")).as("tc"))
          .select(
            col("n_chars").cast("double").as("n_chars"),
            col("tc.n_distinct").cast("double").as("n_distinct"),
            col("tc.n_tokens").cast("double").as("n_tokens")),
        Seq("n_chars", "n_distinct", "n_tokens"))),
    // Compaction planning over documents-as-files: 4000-byte target bins
    // per source via one exclusive-prefix-sum window (no driver loop).
    "compaction_bins" -> ((s, dir) =>
      LayoutOps.compactionBins(
        Tables.documents(s, dir), "source", "doc_id", "n_chars", 4000L)),
    // Per-returnflag OLS of extended price on discount — closed-form
    // regression from the same decimal-exact sufficient stats as
    // feature_corr, grouped.
    "ols_discount" -> ((s, dir) =>
      ProfileOps.olsByGroup(
        Tables.lineitem(s, dir), "l_returnflag", "l_discount", "l_extendedprice",
        spreadKeys = Seq("l_orderkey", "l_linenumber"))),
    // Ranking power of a score column: binned Mann-Whitney AUC of the
    // first embedding component against the low-label half (the grid
    // replaces the global-rank window — see EvalOps.binnedAuc).
    "score_auc" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
        .filter(element_at(col("embedding"), 1).isNotNull)
      EvalOps.binnedAuc(e,
        (element_at(col("embedding"), 1).cast("double") * lit(100000.0)).cast("bigint"),
        when(col("label") <= 4, 1L).otherwise(0L))
    }),
    // score_auc with a DeLong 95% CI from the same binned relation —
    // placement values are constant per bin under ties, so the variance
    // components are cell-weighted sums (integer-nano quantized).
    "auc_confidence" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
        .filter(element_at(col("embedding"), 1).isNotNull)
      EvalOps.binnedAucCi(e,
        (element_at(col("embedding"), 1).cast("double") * lit(100000.0)).cast("bigint"),
        when(col("label") <= 4, 1L).otherwise(0L))
    }),
    // Paired DeLong test: do the first two embedding components differ in
    // ranking power for the low-label outcome, accounting for the
    // placement covariance from scoring the SAME items? One corpus pass
    // to the 256² joint cell relation; margins/placements derive from it.
    "auc_compare" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
        .filter(element_at(col("embedding"), 1).isNotNull &&
          element_at(col("embedding"), 2).isNotNull)
      EvalOps.binnedAucCompare(e,
        (element_at(col("embedding"), 1).cast("double") * lit(100000.0)).cast("bigint"),
        (element_at(col("embedding"), 2).cast("double") * lit(100000.0)).cast("bigint"),
        when(col("label") <= 4, 1L).otherwise(0L))
    }),
    // Reliability table + ECE contributions of a deterministic length-based
    // quality probability against the lang='en' outcome.
    "score_calibration" -> ((s, dir) =>
      EvalOps.calibrationTable(Tables.documents(s, dir),
        (col("n_chars").cast("double") /
          (col("n_chars").cast("double") + lit(200.0)) * lit(1000000.0)).cast("bigint"),
        when(col("lang") === "en", 1L).otherwise(0L))),
    // Isotonic (PAV) calibration of the same forecaster via the minimax
    // identity — max_{i≤k} min_{j≥k} mean(i..j) over the 16-bin grid:
    // two bounded windows + a group-max instead of the sequential
    // pooling loop; the monotone probability map a calibrated deployment
    // applies (EvalOps.isotonicFromBins).
    "score_isotonic" -> ((s, dir) =>
      EvalOps.isotonicCalibration(Tables.documents(s, dir),
        (col("n_chars").cast("double") /
          (col("n_chars").cast("double") + lit(200.0)) * lit(1000000.0)).cast("bigint"),
        when(col("lang") === "en", 1L).otherwise(0L))),
    // Murphy decomposition of the Brier score for the same calibration
    // probability/outcome pair: exact MSE + reliability/resolution/
    // uncertainty, with the binning-resolution residual (Var_b(p) −
    // 2·Cov_b(p, y): 0 iff forecasts are constant per bin).
    "brier_decomposition" -> ((s, dir) =>
      EvalOps.brierDecomposition(Tables.documents(s, dir),
        (col("n_chars").cast("double") /
          (col("n_chars").cast("double") + lit(200.0)) * lit(1000000.0)).cast("bigint"),
        when(col("lang") === "en", 1L).otherwise(0L))),
    // PSI drift of the order-total distribution, early half vs late half
    // of the order-date range (midpoint in integer micros).
    "drift_psi" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
      val st = o.agg(
        min(unix_micros(col("o_orderdate").cast("timestamp"))).as("lo"),
        max(unix_micros(col("o_orderdate").cast("timestamp"))).as("hi"))
        .select(expr("(lo + hi) DIV 2").as("mid"))
      val e = o.crossJoin(st).select(
        (col("o_totalprice") * lit(100.0)).cast("bigint").as("cents"),
        when(unix_micros(col("o_orderdate").cast("timestamp")) <= col("mid"), 1L).otherwise(0L).as("early"))
      EvalOps.psiContributions(e, col("cents"), col("early"))
    }),
    // Benford first-digit conformance of extended prices (integer digit
    // extraction — no floor(log10) float hazard).
    "benford_audit" -> ((s, dir) =>
      EvalOps.benfordAudit(
        Tables.lineitem(s, dir), (col("l_extendedprice") * lit(100.0)).cast("bigint"))),
    // Per-source ranking power: grouped binned AUC of document length
    // against the lang='en' outcome (per-group grid, NULL where a source
    // lacks a class).
    "auc_by_source" -> ((s, dir) =>
      EvalOps.binnedAucBy(Tables.documents(s, dir), "source",
        col("n_chars"), when(col("lang") === "en", 1L).otherwise(0L))),
    // The streaming monitor's PR ladder read off its maintained class-bin
    // STATE (StreamingAuc.prFromState over StreamingQuantiles.binCountsBy
    // — the identical expression tree runs batch or incremental), so the
    // shared stream/batch readout gets the same DuckDB hash gate as the
    // batch-only queries. Same probability/outcome pair as lift_curve;
    // the fixed quantization domain (codes 0..99 + last-bin closure) is
    // the price every streaming state pays.
    "pr_curve_state" -> ((s, dir) =>
      graft.streaming.StreamingAuc.prFromState(docCalibrationState(s, dir))),
    // PSI read off the SAME maintained class-bin state (one incremental
    // aggregation, four monitors): length-score distribution of en vs
    // non-en documents, smoothed by the configured bin count exactly like
    // the batch EvalOps.psiContributions (StreamingDriftSpec pins the
    // batch==stream equality on an aligned grid).
    "drift_psi_state" -> ((s, dir) =>
      graft.streaming.StreamingDrift.psiFromState(
        docCalibrationState(s, dir), DocStateSpec)),
    // Gridded two-sample KS off the same state: max ECDF gap over the
    // occupied bins + the α=0.05 critical value.
    "drift_ks_state" -> ((s, dir) =>
      graft.streaming.StreamingDrift.ksFromState(docCalibrationState(s, dir))),
    // Mann-Whitney AUC off the same state, with the worst-case
    // within-bin bracket [err_lo, err_hi] the streaming resolution pays.
    "auc_state" -> ((s, dir) =>
      graft.streaming.StreamingAuc.aucFromState(docCalibrationState(s, dir))),
    // Quintile cuts off the plain bin-count state (StreamingQuantiles):
    // each boundary's rank, holding bin, and [err_lo, err_hi] value
    // interval — the streaming rank machinery's readout, now hash-gated
    // like its batch twin (group_quantiles).
    "ntile_cuts_state" -> ((s, dir) => {
      val d = Tables.documents(s, dir).select(
        (col("n_chars").cast("double") /
          (col("n_chars").cast("double") + lit(200.0))).as("value"))
      graft.streaming.StreamingQuantiles.cutsFromState(
        graft.streaming.StreamingQuantiles.binCounts(d, DocStateSpec), DocStateSpec, k = 5)
    }),
    // Cumulative-gains / lift table over the calibration probability's
    // decile bins, accumulated best-bin-first.
    "lift_curve" -> ((s, dir) =>
      EvalOps.liftCurve(Tables.documents(s, dir),
        (col("n_chars").cast("double") /
          (col("n_chars").cast("double") + lit(200.0)) * lit(1000000.0)).cast("bigint"),
        when(col("lang") === "en", 1L).otherwise(0L))),
    // Revenue-concentration audit: binned Gini of per-customer lifetime
    // spend (exact Gini of the 256-cell binned distribution).
    "spend_gini" -> ((s, dir) =>
      EvalOps.binnedGini(
        Tables.orders(s, dir)
          .groupBy(col("o_custkey"))
          .agg(sum((col("o_totalprice") * lit(100.0)).cast("bigint")).as("cents")),
        col("cents"))),
    // Tie-corrected rank agreement between the first two embedding
    // components: exact Kendall tau-b of the 64×64 grid-quantized scores
    // (pair orientations counted cell-wise — never O(N²) pairs).
    "score_kendall" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
        .filter(element_at(col("embedding"), 1).isNotNull &&
          element_at(col("embedding"), 2).isNotNull)
      EvalOps.binnedKendallTau(e,
        (element_at(col("embedding"), 1).cast("double") * lit(100000.0)).cast("bigint"),
        (element_at(col("embedding"), 2).cast("double") * lit(100000.0)).cast("bigint"))
    }),
    // Chance-corrected agreement between two tercile "raters" of the
    // same documents (token-count vs distinct-token-count): Cohen's
    // kappa + linear-weighted kappa over the 3×3 contingency. Terciles
    // come from ONE long-form RankOps.ntileCuts pass (no corpus-scale
    // rank window); the corpus is tokenized once via the cached per-doc
    // score relation.
    "rater_kappa" -> ((s, dir) => {
      val d = graft.operators.DedupOps.registerCache(
        Tables.documents(s, dir)
          .select(col("doc_id"), GraftFunctions.tokenCounts(col("text")).as("tc"))
          .select(col("doc_id"),
            col("tc.n_tokens").cast("long").as("nt"),
            col("tc.n_distinct").cast("long").as("nd"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      val longForm = d
        .select(col("doc_id"), posexplode(array(col("nt"), col("nd"))))
        .select(col("doc_id"), (col("pos") + 1).as("dim"), col("col").as("v"))
      val cuts = RankOps.ntileCuts(longForm, Seq("dim"), Seq("v", "doc_id"), 3)
      val ca = cuts.filter(col("dim") === 1)
        .select(col("gr_c1").as("a_c1"), col("gr_c2").as("a_c2"))
      val cb = cuts.filter(col("dim") === 2)
        .select(col("gr_c1").as("b_c1"), col("gr_c2").as("b_c2"))
      val rated = d.crossJoin(broadcast(ca)).crossJoin(broadcast(cb))
        .select(
          RankOps.ntileBucketExpr(
            struct(col("nt").as("v"), col("doc_id")), 3, "a_c").as("ra"),
          RankOps.ntileBucketExpr(
            struct(col("nd").as("v"), col("doc_id")), 3, "b_c").as("rb"))
      EvalOps.cohenKappa(rated, "ra", "rb", 3)
    }),
    // Head-of-corpus agreement between the same two raters at depths
    // 10/25/50/100: overlap@k + Jaccard@k of the top-k lists by
    // token-count vs distinct-token-count (TakeOrdered lists, no global
    // sort; corpus tokenized once via the cached score relation).
    "topk_overlap" -> ((s, dir) => {
      val d = graft.operators.DedupOps.registerCache(
        Tables.documents(s, dir)
          .select(col("doc_id"), GraftFunctions.tokenCounts(col("text")).as("tc"))
          .select(col("doc_id"),
            col("tc.n_tokens").cast("long").as("nt"),
            col("tc.n_distinct").cast("long").as("nd"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      EvalOps.topkOverlap(d, "doc_id", col("nt"), col("nd"))
    }),
    // Per-type volume trend: exact-OLS slope of daily event counts over
    // the epoch-day index — "is this event stream growing or decaying,
    // and how linearly?". One bounded (type, day) rollup feeds the same
    // decimal-exact sufficient-stats OLS as ols_discount.
    "volume_trend" -> ((s, dir) => {
      val daily = Tables.events(s, dir)
        .groupBy(col("event_type"), expr("ts_us DIV 86400000000").as("day"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("event_type"), col("day").cast("double").as("day_d"),
          col("n_events").cast("double").as("n_d"))
      ProfileOps.olsByGroup(daily, "event_type", "day_d", "n_d")
    }),
    // Token-weighted median doc length per source: the length below
    // which half the TOKEN mass sits (the unweighted median
    // over-represents short docs when planning token budgets). Exact,
    // via the weighted bounded-histogram two-pass — no group-scale sort.
    "weighted_median" -> ((s, dir) =>
      ProfileOps.weightedMedianBy(
        Tables.documents(s, dir).select(col("source"), col("n_chars"),
          GraftFunctions.tokenCounts(col("text"))
            .getField("n_tokens").cast("long").as("ntok")),
        "source", col("n_chars"), col("ntok"))
        .select(col("grp").as("source"), col("total_w"),
          col("wmedian").as("wmedian_chars"))),
    // The full token-weighted length ladder per language (p25/50/75/90):
    // all four percentiles share one stats pass, one weight histogram,
    // and one boundary-slice window.
    "weighted_quantiles" -> ((s, dir) =>
      ProfileOps.weightedQuantilesBy(
        Tables.documents(s, dir).select(col("lang"), col("n_chars"),
          GraftFunctions.tokenCounts(col("text"))
            .getField("n_tokens").cast("long").as("ntok")),
        "lang", col("n_chars"), col("ntok"), Seq(25, 50, 75, 90))
        .select(col("grp").as("lang"), col("total_w"),
          col("p25"), col("p50"), col("p75"), col("p90"))),
    // Did usage HOURS shift between the early and late halves of the
    // event stream? Chi-square independence of hour-of-day × half over
    // the densified 24×2 grid.
    "usage_shift" -> ((s, dir) => {
      val e = Tables.events(s, dir)
      val st = e.agg(min(col("ts_us")).as("lo"), max(col("ts_us")).as("hi"))
        .select(expr("(lo + hi) DIV 2").as("mid"))
      EvalOps.chi2Independence(
        e.crossJoin(broadcast(st)).select(
          hour(col("ts")).as("hod"),
          when(col("ts_us") <= col("mid"), "early").otherwise("late").as("half")),
        "hod", "half")
    }),
    // Distribution drift of document LENGTH between the training split
    // and the held-out splits — the continuous companion of
    // split_balance's categorical check (PSI over the 16-bin grid).
    "split_drift" -> ((s, dir) =>
      EvalOps.psiContributions(
        Tables.documents(s, dir).select(col("n_chars"),
          when(TextOps.splitExpr(col("doc_id")) === "train", 1L).otherwise(0L)
            .as("is_train")),
        col("n_chars"), col("is_train"))),
    // Is weekend daily revenue stochastically larger than weekday's?
    // Binned Mann-Whitney AUC over the bounded day grid (an AUC of 0.5
    // = no weekend effect).
    "weekend_effect" -> ((s, dir) => {
      val daily = Tables.orders(s, dir)
        .select(col("o_orderdate").cast("date").as("k"),
          (col("o_totalprice") * lit(100.0)).cast("bigint").as("cents"))
        .groupBy(col("k")).agg(sum(col("cents")).as("xs"))
      EvalOps.binnedAuc(daily, col("xs"),
        when(weekday(col("k")) >= 5, 1L).otherwise(0L))
    }),
    // Split-balance audit: chi-square independence of the hash split vs
    // source (densified grid so unobserved cells contribute), the "did
    // the split correlate with provenance?" pre-training check.
    "split_balance" -> ((s, dir) =>
      EvalOps.chi2Independence(
        Tables.documents(s, dir)
          .select(TextOps.splitExpr(col("doc_id")).as("split"), col("source")),
        "split", "source")),
    // Cohort LTV curves: customers cohorted by first-order week; each
    // (cohort, week-offset ≤ 12) cell carries the cohort's cumulative
    // revenue and per-customer LTV. The cumulative window runs on the
    // bounded (cohort, offset) grid, never on orders.
    "cohort_ltv" -> ((s, dir) => {
      val o = graft.operators.DedupOps.registerCache(
        Tables.orders(s, dir).select(col("o_custkey"),
          expr("unix_micros(CAST(o_orderdate AS TIMESTAMP)) DIV 604800000000").as("wk"),
          (col("o_totalprice") * lit(100.0)).cast("bigint").as("cents"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      val cohorts = o.groupBy(col("o_custkey")).agg(min(col("wk")).as("cw"))
      val sizes = cohorts.groupBy(col("cw")).agg(count(lit(1)).as("n_customers"))
      val cells = o.join(cohorts, Seq("o_custkey"))
        .groupBy(col("cw"), (col("wk") - col("cw")).as("woff"))
        .agg(sum(col("cents")).as("rev_c"))
      val wcum = org.apache.spark.sql.expressions.Window
        .partitionBy(col("cw")).orderBy(col("woff"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      cells.join(broadcast(sizes), Seq("cw"))
        .select(col("cw"), col("woff"), col("n_customers"), col("rev_c"),
          sum(col("rev_c")).over(wcum).as("cum_rev_c"))
        .filter(col("woff") <= 12)
        .select(col("cw").as("cohort_week"), col("woff"), col("n_customers"),
          col("rev_c"), col("cum_rev_c"),
          round(col("cum_rev_c").cast("double") /
            col("n_customers").cast("double") / lit(100.0), 6).as("ltv_per_customer"))
        .orderBy(col("cohort_week"), col("woff"))
    }),
    // Where did the big spenders go? Customer spend-quintile TRANSITION
    // matrix between the early and late halves of the order history —
    // quintiles per half from ONE long-form RankOps.ntileCuts pass
    // (bounded cut keys, no customer-scale rank window), then a 5×5
    // matrix with per-origin row shares.
    "customer_migration" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
      val st = o.agg(
        min(unix_micros(col("o_orderdate").cast("timestamp"))).as("lo"),
        max(unix_micros(col("o_orderdate").cast("timestamp"))).as("hi"))
        .select(expr("(lo + hi) DIV 2").as("mid"))
      val base = graft.operators.DedupOps.registerCache(
        o.crossJoin(broadcast(st))
          .select(col("o_custkey"),
            when(unix_micros(col("o_orderdate").cast("timestamp")) <= col("mid"), 0)
              .otherwise(1).as("half"),
            (col("o_totalprice") * lit(100.0)).cast("bigint").as("cents"))
          .groupBy(col("half"), col("o_custkey"))
          .agg(sum(col("cents")).as("tot"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      val cuts = RankOps.ntileCuts(base, Seq("half"), Seq("tot", "o_custkey"), 5)
      val b = base.join(broadcast(cuts), Seq("half"))
        .withColumn("qb", RankOps.ntileBucketExpr(Seq("tot", "o_custkey"), 5))
      val early = b.filter(col("half") === 0)
        .select(col("o_custkey"), col("qb").as("from_q"))
      val late = b.filter(col("half") === 1)
        .select(col("o_custkey"), col("qb").as("to_q"))
      val m = early.join(late, Seq("o_custkey"))
        .groupBy(col("from_q"), col("to_q"))
        .agg(count(lit(1)).as("n_customers"))
      val wf = org.apache.spark.sql.expressions.Window.partitionBy(col("from_q"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.unboundedFollowing)
      m.select(col("from_q"), col("to_q"), col("n_customers"),
        round(col("n_customers").cast("double") /
          sum(col("n_customers")).over(wf).cast("double"), 6).as("row_share"))
        .orderBy(col("from_q"), col("to_q"))
    }),
    // Kaplan–Meier reorder survival: share of customers (log-scale)
    // still "alive" t weeks after an order without reordering, with each
    // customer's open-ended final gap entering as a right-CENSORED
    // observation rather than being dropped (the bias naive gap
    // histograms carry). Bounded week-bucket grid; product-limit fold as
    // integer-nano log terms.
    "order_gap_survival" -> ((s, dir) => {
      val o = Tables.orders(s, dir).select(col("o_custkey"),
        unix_micros(col("o_orderdate").cast("timestamp")).as("ts"),
        col("o_orderkey"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("o_custkey")).orderBy(col("ts"), col("o_orderkey"))
      val gaps = o.withColumn("prev", lag(col("ts"), 1).over(w))
        .filter(col("prev").isNotNull)
        .select(expr("((ts - prev) DIV 86400000000) DIV 7").as("b"),
          lit(1L).as("ev"))
      val mx = o.agg(max(col("ts")).as("mts"))
      val tails = o.groupBy(col("o_custkey")).agg(max(col("ts")).as("lts"))
        .crossJoin(broadcast(mx))
        .select(expr("((mts - lts) DIV 86400000000) DIV 7").as("b"),
          lit(0L).as("ev"))
      EvalOps.kmSurvival(gaps.unionAll(tails), col("b"), col("ev"))
    }),
    // Mantel–Cox log-rank test on the same reorder-gap durations: do
    // even- and odd-key customer cohorts reorder at different rates?
    // Hypergeometric E/V terms nano-quantized over the bounded week
    // grid (EvalOps.logRank) — the inference companion to the KM curve.
    "survival_logrank" -> ((s, dir) => {
      val o = Tables.orders(s, dir).select(col("o_custkey"),
        unix_micros(col("o_orderdate").cast("timestamp")).as("ts"),
        col("o_orderkey"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("o_custkey")).orderBy(col("ts"), col("o_orderkey"))
      val gaps = o.withColumn("prev", lag(col("ts"), 1).over(w))
        .filter(col("prev").isNotNull)
        .select(expr("((ts - prev) DIV 86400000000) DIV 7").as("b"),
          lit(1L).as("ev"), pmod(col("o_custkey"), lit(2L)).as("g"))
      val mx = o.agg(max(col("ts")).as("mts"))
      val tails = o.groupBy(col("o_custkey")).agg(max(col("ts")).as("lts"))
        .crossJoin(broadcast(mx))
        .select(expr("((mts - lts) DIV 86400000000) DIV 7").as("b"),
          lit(0L).as("ev"), pmod(col("o_custkey"), lit(2L)).as("g"))
      EvalOps.logRank(gaps.unionAll(tails), col("b"), col("ev"), col("g"))
    }),
    // Sample autocorrelation of daily order revenue at lags 1..7 —
    // integer n-scaled deviations, one lead-window pass over the bounded
    // day grid (is there memory for the changepoint/seasonal gauges to
    // explain?).
    "revenue_acf" -> ((s, dir) =>
      EvalOps.integerAcf(Tables.orders(s, dir),
        col("o_orderdate").cast("date"),
        (col("o_totalprice") * lit(100.0)).cast("bigint"))),
    // Exact CUSUM changepoint of daily order revenue: did the mean step,
    // and on which day? Integer D_t = n·P_t − t·T locates max |CUSUM|
    // with no float comparison; windows run over the bounded day grid.
    "revenue_cusum" -> ((s, dir) =>
      EvalOps.cusumChangepoint(Tables.orders(s, dir),
        col("o_orderdate").cast("date"),
        (col("o_totalprice") * lit(100.0)).cast("bigint"))),
    // Three-rater Fleiss' kappa: do token-count, distinct-token and
    // raw-length terciles bucket documents consistently? Terciles from
    // ONE long-form RankOps pass (3 dims); sufficient stats from one
    // corpus aggregation of when-flag counts — no explode, no window.
    "rater_fleiss" -> ((s, dir) => {
      val d = graft.operators.DedupOps.registerCache(
        Tables.documents(s, dir)
          .select(col("doc_id"), col("n_chars"),
            GraftFunctions.tokenCounts(col("text")).as("tc"))
          .select(col("doc_id"),
            col("tc.n_tokens").cast("long").as("nt"),
            col("tc.n_distinct").cast("long").as("nd"),
            col("n_chars").cast("long").as("nc"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      val longForm = d
        .select(col("doc_id"), posexplode(array(col("nt"), col("nd"), col("nc"))))
        .select(col("doc_id"), (col("pos") + 1).as("dim"), col("col").as("v"))
      val cuts = RankOps.ntileCuts(longForm, Seq("dim"), Seq("v", "doc_id"), 3)
      def cutsFor(dim: Int, p: String) = cuts.filter(col("dim") === dim)
        .select(col("gr_c1").as(s"${p}1"), col("gr_c2").as(s"${p}2"))
      val rated = d
        .crossJoin(broadcast(cutsFor(1, "a_c")))
        .crossJoin(broadcast(cutsFor(2, "b_c")))
        .crossJoin(broadcast(cutsFor(3, "d_c")))
        .select(
          RankOps.ntileBucketExpr(
            struct(col("nt").as("v"), col("doc_id")), 3, "a_c").as("r1"),
          RankOps.ntileBucketExpr(
            struct(col("nd").as("v"), col("doc_id")), 3, "b_c").as("r2"),
          RankOps.ntileBucketExpr(
            struct(col("nc").as("v"), col("doc_id")), 3, "d_c").as("r3"))
      EvalOps.fleissKappa(rated, Seq("r1", "r2", "r3"), 3)
    }),
    // Language × source association: per-cell mutual-information
    // contributions over the bounded contingency (is lang confounded
    // with source before mixture weighting?).
    "lang_source_mi" -> ((s, dir) =>
      EvalOps.categoricalMi(Tables.documents(s, dir), "lang", "source")),
    // Per-feature PSI: the event-value distribution early vs late (global
    // time midpoint), one 16-bin breakdown PER EVENT TYPE — the grouped
    // drift-monitor shape.
    "psi_by_type" -> ((s, dir) => {
      val e = Tables.events(s, dir)
        .filter(col("value").isNotNull && !isnan(col("value")))
      val st = e.agg(min(col("ts_us")).as("lo"), max(col("ts_us")).as("hi"))
        .select(expr("(lo + hi) DIV 2").as("mid"))
      val tagged = e.crossJoin(st).select(
        col("event_type"),
        (col("value") * lit(100.0)).cast("bigint").as("cents"),
        when(col("ts_us") <= col("mid"), 1L).otherwise(0L).as("early"))
      EvalOps.psiContributionsBy(tagged, "event_type", col("cents"), col("early"))
    }))

  private def cosSql(a: String, b: String): String =
    s"""round(list_dot_product($a, $b)
       |  / (sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b))), 6)""".stripMargin

  /** DuckDB twin of [[LayoutOps.zValue]]'s spread16 chain, one doubling
    * step per CTE stage (`x`/`y` carried through together).
    */
  private val zorderStages =
    """b0 AS (
      |  SELECT l_partkey AS xk, l_suppkey AS yk,
      |         l_partkey & 65535 AS x, l_suppkey & 65535 AS y
      |  FROM lineitem
      |), b1 AS (
      |  SELECT xk, yk, (x | (x << 8)) & 16711935 AS x,
      |                 (y | (y << 8)) & 16711935 AS y FROM b0
      |), b2 AS (
      |  SELECT xk, yk, (x | (x << 4)) & 252645135 AS x,
      |                 (y | (y << 4)) & 252645135 AS y FROM b1
      |), b3 AS (
      |  SELECT xk, yk, (x | (x << 2)) & 858993459 AS x,
      |                 (y | (y << 2)) & 858993459 AS y FROM b2
      |), b4 AS (
      |  SELECT xk, yk, (x | (x << 1)) & 1431655765 AS x,
      |                 (y | (y << 1)) & 1431655765 AS y FROM b3
      |)""".stripMargin

  val oracle: Map[String, String] = Map(
    "profile_columns" -> {
      val melt = ProfiledCols
        .map(c => s"SELECT '$c' AS col_name, $c AS v FROM lineitem")
        .mkString("\n  UNION ALL ")
      s"""WITH m AS (
         |  $melt
         |)
         |SELECT col_name,
         |       CAST(count(*) AS BIGINT) AS n_rows,
         |       CAST(count(v) AS BIGINT) AS n_nonnull,
         |       CAST(count(DISTINCT v) AS BIGINT) AS n_distinct,
         |       min(v) AS min_v, max(v) AS max_v,
         |       CAST(sum(CAST(trunc(v * 100.0) AS BIGINT)) AS BIGINT) AS sum_cents
         |FROM m GROUP BY 1 ORDER BY 1""".stripMargin
    },
    "profile_approx" -> {
      val melt = ProfiledCols
        .map(c => s"SELECT '$c' AS col_name, $c AS v FROM lineitem")
        .mkString("\n  UNION ALL ")
      val h = graft.functions.PortableHash
        .hash60Sql("CAST(CAST(trunc(v * 100.0) AS BIGINT) AS VARCHAR)")
      s"""WITH m AS (
         |  $melt
         |), st AS (
         |  SELECT col_name, CAST(count(*) AS BIGINT) AS n_rows,
         |         CAST(count(v) AS BIGINT) AS n_nonnull,
         |         min(v) AS min_v, max(v) AS max_v
         |  FROM m GROUP BY 1
         |), hh AS (
         |  SELECT col_name, ($h) AS h FROM m WHERE v IS NOT NULL
         |), r AS (
         |  SELECT col_name, h & 255 AS bucket,
         |         max(CASE WHEN (h >> 8) = 0 THEN 53
         |                  ELSE 53 - length(bin(h >> 8)) END) AS m_j
         |  FROM hh GROUP BY 1, 2
         |), z AS (
         |  SELECT col_name, CAST(count(*) AS BIGINT) AS n_buckets,
         |         CAST(sum(CAST(1 AS BIGINT) << (53 - m_j)) AS BIGINT) AS z_present
         |  FROM r GROUP BY 1
         |), e AS (
         |  SELECT col_name, (256 - n_buckets) AS v_empty,
         |         z_present + (256 - n_buckets) * (CAST(1 AS BIGINT) << 53) AS z_total
         |  FROM z
         |), f AS (
         |  SELECT col_name, v_empty,
         |         0.7213 / (1.0 + 1.079 / 256.0) * 65536.0 * 9007199254740992.0
         |           / CAST(z_total AS DOUBLE) AS raw_e
         |  FROM e
         |), est AS (
         |  SELECT col_name,
         |         round(CASE WHEN raw_e <= 640.0 AND v_empty > 0
         |                    THEN 256.0 * ln(256.0 / CAST(v_empty AS DOUBLE))
         |                    ELSE raw_e END, 6) AS n_est
         |  FROM f
         |)
         |SELECT st.col_name, st.n_rows, st.n_nonnull, est.n_est, st.min_v, st.max_v
         |FROM st JOIN est ON st.col_name = est.col_name
         |ORDER BY st.col_name""".stripMargin
    },
    "group_quantiles" ->
      """WITH r AS (
        |  SELECT event_type AS grp,
        |         CAST(trunc(value * 100.0) AS BIGINT) AS cents,
        |         row_number() OVER (PARTITION BY event_type
        |                            ORDER BY CAST(trunc(value * 100.0) AS BIGINT)) AS rn,
        |         count(*) OVER (PARTITION BY event_type) AS n
        |  FROM events WHERE value IS NOT NULL AND NOT isnan(value)
        |), t AS (
        |  SELECT grp, n, p,
        |         CAST(p AS DOUBLE) * CAST(n - 1 AS DOUBLE) / 100.0 AS pos
        |  FROM (SELECT DISTINCT grp, n FROM r),
        |       (SELECT unnest([25, 50, 75, 90]) AS p)
        |), tk AS (
        |  SELECT grp, p, n, pos, CAST(trunc(pos) AS BIGINT) AS k FROM t
        |)
        |SELECT tk.grp, tk.p, CAST(tk.n AS BIGINT) AS n,
        |       round((CAST(lo.cents AS DOUBLE)
        |              + (CAST(coalesce(hi.cents, lo.cents) AS DOUBLE)
        |                 - CAST(lo.cents AS DOUBLE))
        |                * (tk.pos - CAST(tk.k AS DOUBLE))) / 100.0, 6) AS q
        |FROM tk
        |JOIN r lo ON lo.grp = tk.grp AND lo.rn = tk.k + 1
        |LEFT JOIN r hi ON hi.grp = tk.grp AND hi.rn = tk.k + 2
        |ORDER BY 1, 2""".stripMargin,
    "group_cut_bounds" ->
      """WITH v AS (
        |  SELECT event_type, CAST(value AS DOUBLE) AS value FROM events
        |  WHERE value IS NOT NULL AND NOT isnan(CAST(value AS DOUBLE))
        |), mm AS (
        |  SELECT CAST(trunc(coalesce(min(value), 0) * 100) AS INT) - 10 AS lo,
        |         CAST(trunc(coalesce(max(value), 0) * 100) AS INT) + 10 AS hi
        |  FROM v
        |), counted AS (
        |  SELECT event_type,
        |         CASE WHEN c.code = m.hi THEN m.hi - 1 ELSE c.code END AS bin,
        |         CAST(count(*) AS BIGINT) AS cnt
        |  FROM (SELECT event_type, CAST(trunc(value * 100) AS INT) AS code FROM v) c, mm m
        |  WHERE c.code BETWEEN m.lo AND m.hi GROUP BY 1, 2
        |), cum AS (
        |  SELECT event_type, bin, cnt,
        |         sum(cnt) OVER (PARTITION BY event_type ORDER BY bin) AS cum,
        |         sum(cnt) OVER (PARTITION BY event_type ORDER BY bin) - cnt AS cum_prev
        |  FROM counted
        |), g AS (
        |  SELECT event_type, sum(cnt) AS n FROM counted GROUP BY 1
        |), t AS (
        |  SELECT event_type, j, (n // 4) * j + least(j, n % 4) AS t
        |  FROM g, (SELECT unnest(generate_series(1, 3)) AS j)
        |)
        |SELECT c.event_type,
        |       CAST(t.j AS INT) AS j,
        |       CAST(t.t AS BIGINT) AS boundary_rank,
        |       CAST(c.bin AS INT) AS bin,
        |       CAST(c.bin AS DOUBLE) / 100.0 AS err_lo,
        |       CAST(c.bin + 1 AS DOUBLE) / 100.0 AS err_hi
        |FROM t JOIN cum c ON t.event_type = c.event_type
        |                 AND t.t > c.cum_prev AND t.t <= c.cum
        |ORDER BY 1, 2""".stripMargin,
    "zone_skipping" ->
      """WITH b AS (
        |  SELECT CAST(CAST(l_shipdate AS DATE) - DATE '1970-01-01' AS INT) AS ship_day,
        |         l_orderkey, l_linenumber
        |  FROM lineitem
        |), nat AS (
        |  SELECT ship_day,
        |         row_number() OVER (ORDER BY l_orderkey, l_linenumber) AS pos
        |  FROM b
        |), srt AS (
        |  SELECT ship_day,
        |         row_number() OVER (ORDER BY ship_day, l_orderkey, l_linenumber) AS pos
        |  FROM b
        |), u AS (
        |  SELECT 'natural' AS layout, ship_day, pos FROM nat
        |  UNION ALL
        |  SELECT 'shipdate' AS layout, ship_day, pos FROM srt
        |), z AS (
        |  SELECT layout, (pos - 1) // 512 AS f,
        |         min(ship_day) AS zmin, max(ship_day) AS zmax,
        |         CAST(count(*) AS BIGINT) AS n
        |  FROM u GROUP BY 1, 2
        |)
        |SELECT layout,
        |       CAST(count(*) AS BIGINT) AS n_files,
        |       CAST(sum(CASE WHEN zmax >= 9862 AND zmin <= 10226 THEN 1 ELSE 0 END)
        |            AS BIGINT) AS n_scanned,
        |       CAST(sum(CASE WHEN zmax >= 9862 AND zmin <= 10226 THEN n ELSE 0 END)
        |            AS BIGINT) AS rows_scanned,
        |       round(1.0 - CAST(sum(CASE WHEN zmax >= 9862 AND zmin <= 10226 THEN n ELSE 0 END)
        |                        AS DOUBLE)
        |                   / CAST(sum(n) AS DOUBLE), 6) AS skip_ratio
        |FROM z GROUP BY layout ORDER BY layout""".stripMargin,
    "zorder_cells" ->
      s"""WITH $zorderStages, z AS (
         |  SELECT xk, yk, (x | (y << 1)) >> 10 AS cell FROM b4
         |), g AS (
         |  SELECT cell, CAST(count(*) AS BIGINT) AS n_rows,
         |         min(xk) AS x_min, max(xk) AS x_max,
         |         min(yk) AS y_min, max(yk) AS y_max
         |  FROM z GROUP BY 1
         |)
         |SELECT cell, n_rows, x_min, x_max, y_min, y_max
         |FROM g ORDER BY n_rows DESC, cell LIMIT 20""".stripMargin,
    "rebalance_classes" ->
      """WITH c AS (
        |  SELECT label, CAST(count(*) AS BIGINT) AS c FROM embeddings GROUP BY 1
        |), mx AS (
        |  SELECT max(c) AS t FROM c
        |), r AS (
        |  SELECT e.vec_id, e.label, c.c, (SELECT t FROM mx) AS t,
        |         row_number() OVER (PARTITION BY e.label ORDER BY e.vec_id) - 1 AS i
        |  FROM embeddings e JOIN c USING (label)
        |), x AS (
        |  SELECT label, vec_id, c,
        |         ((i + 1) * t) // c - (i * t) // c AS reps
        |  FROM r
        |), ex AS (
        |  SELECT label, vec_id, c, unnest(generate_series(1, reps)) AS rr FROM x
        |)
        |SELECT label, CAST(max(c) AS BIGINT) AS n_orig,
        |       CAST(count(*) AS BIGINT) AS n_after,
        |       CAST(sum(vec_id) AS BIGINT) AS id_checksum
        |FROM ex GROUP BY 1 ORDER BY 1""".stripMargin,
    "contrastive_triplets" ->
      s"""WITH e AS (
         |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
         |), r AS (
         |  SELECT vec_id, label, emb,
         |         row_number() OVER (PARTITION BY label ORDER BY vec_id) AS rn,
         |         count(*) OVER (PARTITION BY label) AS c
         |  FROM e
         |), l AS (
         |  SELECT label, coalesce(lead(label) OVER (ORDER BY label),
         |                         min(label) OVER ()) AS nxt
         |  FROM (SELECT DISTINCT label FROM e)
         |), a AS (
         |  SELECT r.vec_id AS anchor_id, r.emb AS a_emb, r.label, l.nxt, r.rn, r.c,
         |         (r.rn % r.c) + 1 AS pos_rn
         |  FROM r JOIN l USING (label)
         |), nc AS (
         |  SELECT label AS n_label, max(c) AS nc FROM r GROUP BY 1
         |)
         |SELECT a.anchor_id, p.vec_id AS pos_id, ng.vec_id AS neg_id,
         |       ${cosSql("a.a_emb", "p.emb")} AS cos_ap,
         |       ${cosSql("a.a_emb", "ng.emb")} AS cos_an
         |FROM a
         |JOIN r p ON p.label = a.label AND p.rn = a.pos_rn
         |JOIN nc ON nc.n_label = a.nxt
         |JOIN r ng ON ng.label = a.nxt AND ng.rn = ((a.rn - 1) % nc.nc) + 1
         |ORDER BY anchor_id""".stripMargin,
    "snapshot_diff" ->
      """WITH base AS (
        |  SELECT o_orderkey AS k,
        |         CAST(trunc(o_totalprice * 100.0) AS BIGINT) AS cents,
        |         o_orderstatus AS st
        |  FROM orders
        |), s_old AS (
        |  SELECT k, md5(CAST(cents AS VARCHAR) || '|' || st) AS od
        |  FROM base WHERE k % 97 <> 3
        |), s_new AS (
        |  SELECT k, md5(CAST(cents + CASE WHEN k % 13 = 0 THEN 1 ELSE 0 END
        |                     AS VARCHAR) || '|' || st) AS nd
        |  FROM base WHERE k % 89 <> 7
        |), j AS (
        |  SELECT coalesce(s_old.k, s_new.k) AS k,
        |         CASE WHEN od IS NULL THEN 'added'
        |              WHEN nd IS NULL THEN 'removed'
        |              WHEN od <> nd THEN 'changed'
        |              ELSE 'unchanged' END AS status
        |  FROM s_old FULL OUTER JOIN s_new ON s_old.k = s_new.k
        |)
        |SELECT status, CAST(count(*) AS BIGINT) AS n_keys,
        |       CAST(sum(k) AS BIGINT) AS key_checksum
        |FROM j GROUP BY 1 ORDER BY 1""".stripMargin,
    "pareto_parts" ->
      """WITH p AS (
        |  SELECT p_partkey, p_brand,
        |         CAST(trunc(p_retailprice * 100.0) AS BIGINT) AS price_c,
        |         CAST(p_size AS BIGINT) AS p_size
        |  FROM part
        |), w AS (
        |  SELECT *,
        |         min(p_size) OVER (ORDER BY price_c
        |           RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS m1,
        |         min(p_size) OVER (PARTITION BY price_c) AS m2
        |  FROM p
        |)
        |SELECT p_partkey, p_brand, price_c, p_size
        |FROM w
        |WHERE (m1 IS NULL OR m1 > p_size) AND m2 = p_size
        |ORDER BY price_c, p_size, p_partkey""".stripMargin,
    "hist_equidepth" ->
      """WITH cells AS (
        |  SELECT CAST(trunc(l_extendedprice) AS BIGINT) // 100 AS cell
        |  FROM lineitem
        |), v AS (
        |  SELECT cell, CAST(count(*) AS BIGINT) AS c FROM cells GROUP BY 1
        |), t AS (
        |  SELECT CAST(sum(c) AS BIGINT) AS n FROM v
        |), cb AS (
        |  SELECT cell, c,
        |         coalesce(CAST(sum(c) OVER (ORDER BY cell
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0)
        |           AS cum_before
        |  FROM v
        |)
        |SELECT CAST((cum_before * 10) // t.n AS INT) AS bucket,
        |       CAST(sum(c) AS BIGINT) AS n_rows,
        |       CAST(min(cell) AS BIGINT) AS lo_cell,
        |       CAST(max(cell) AS BIGINT) AS hi_cell
        |FROM cb, t GROUP BY 1 ORDER BY 1""".stripMargin,
    "scd2_apply" ->
      """WITH dim AS (
        |  SELECT o_custkey AS k, o_orderpriority AS attr,
        |         epoch_us(o_orderdate) // 86400000000 AS d_from
        |  FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey
        |                    ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        |        FROM orders
        |        WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
        |          AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00')
        |  WHERE rn = 1
        |), ch AS (
        |  SELECT o_custkey AS k, o_orderpriority AS attr,
        |         epoch_us(o_orderdate) // 86400000000 AS ts
        |  FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey
        |                    ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        |        FROM orders
        |        WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
        |          AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00')
        |  WHERE rn = 1
        |), m AS (
        |  SELECT coalesce(d.k, c.k) AS k, d.attr AS d_attr, d.d_from,
        |         c.attr AS c_attr, c.ts,
        |         (c.attr IS NOT NULL AND d.attr IS NOT NULL
        |          AND c.attr <> d.attr) AS chg
        |  FROM dim d FULL OUTER JOIN ch c ON d.k = c.k
        |), gen AS (
        |  SELECT k, d_from AS valid_from,
        |         CASE WHEN chg THEN ts END AS valid_to,
        |         NOT chg AS is_current,
        |         CASE WHEN chg THEN 'closed' ELSE 'carried' END AS action
        |  FROM m WHERE d_attr IS NOT NULL
        |  UNION ALL
        |  SELECT k, ts AS valid_from, NULL AS valid_to,
        |         TRUE AS is_current, 'inserted' AS action
        |  FROM m WHERE c_attr IS NOT NULL AND (d_attr IS NULL OR chg)
        |)
        |SELECT action, is_current, CAST(count(*) AS BIGINT) AS n_rows,
        |       CAST(sum(k) AS BIGINT) AS key_checksum,
        |       CAST(sum(coalesce(valid_to, 0) - valid_from) AS BIGINT)
        |         AS span_checksum
        |FROM gen GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "winsorized_stats" ->
      """WITH r AS (
        |  SELECT l_returnflag AS grp,
        |         CAST(trunc(l_extendedprice * 100.0) AS BIGINT) AS cents,
        |         row_number() OVER (PARTITION BY l_returnflag
        |                            ORDER BY CAST(trunc(l_extendedprice * 100.0)
        |                                          AS BIGINT)) AS rn,
        |         count(*) OVER (PARTITION BY l_returnflag) AS n
        |  FROM lineitem
        |  WHERE l_extendedprice IS NOT NULL AND NOT isnan(l_extendedprice)
        |), th AS (
        |  SELECT grp,
        |         max(CASE WHEN rn = (5 * (n - 1)) // 100 + 1 THEN cents END) AS lo_c,
        |         max(CASE WHEN rn = (95 * (n - 1)) // 100 + 1 THEN cents END) AS hi_c
        |  FROM r GROUP BY 1
        |), c AS (
        |  SELECT r.grp, th.lo_c, th.hi_c, r.cents,
        |         greatest(th.lo_c, least(th.hi_c, r.cents)) AS clamped
        |  FROM r JOIN th USING (grp)
        |)
        |SELECT grp, CAST(count(*) AS BIGINT) AS n,
        |       max(lo_c) AS lo_c, max(hi_c) AS hi_c,
        |       CAST(sum(CASE WHEN cents < lo_c THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_clip_lo,
        |       CAST(sum(CASE WHEN cents > hi_c THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_clip_hi,
        |       round(CAST(sum(clamped) AS DOUBLE) / CAST(count(*) AS DOUBLE)
        |             / 100.0, 6) AS wins_mean
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin,
    "feature_corr" -> {
      // mirror corrMatrix: sorted column order, cents quantization,
      // exact integer sufficient stats (HUGEINT = the DECIMAL(38,0)
      // twin), float only in the final per-pair expression
      val cs = ProfiledCols.sorted // l_discount, l_extendedprice, l_quantity, l_tax
      val v = cs.indices.map(i => s"v$i")
      val melt = cs.zip(v).map { case (c, vi) =>
        s"CAST(trunc($c * 100.0) AS BIGINT) AS $vi"
      }.mkString(",\n        ")
      val guard = cs.map(c => s"$c IS NOT NULL AND NOT isnan($c)").mkString("\n    AND ")
      val sums =
        v.map(vi => s"sum(CAST($vi AS HUGEINT)) AS s_$vi").mkString(",\n         ") +
          ",\n         " +
          (for { i <- v.indices; j <- i until v.size }
            yield s"sum(CAST(${v(i)} AS HUGEINT) * ${v(j)}) AS p_${v(i)}_${v(j)}")
            .mkString(",\n         ")
      val branches = (for { i <- v.indices; j <- (i + 1) until v.size } yield {
        val (a, b) = (v(i), v(j))
        s"""SELECT '${cs(i)}' AS col_x, '${cs(j)}' AS col_y, CAST(n AS BIGINT) AS n,
           |       round(CAST(n * p_${a}_$b - s_$a * s_$b AS DOUBLE)
           |             / sqrt(CAST(n * p_${a}_$a - s_$a * s_$a AS DOUBLE)
           |                    * CAST(n * p_${b}_$b - s_$b * s_$b AS DOUBLE)), 6) AS corr_r
           |FROM g""".stripMargin
      }).mkString("\nUNION ALL\n")
      s"""WITH b AS (
         |  SELECT $melt
         |  FROM lineitem
         |  WHERE $guard
         |), g AS (
         |  SELECT CAST(count(*) AS HUGEINT) AS n,
         |         $sums
         |  FROM b
         |)
         |$branches
         |ORDER BY col_x, col_y""".stripMargin
    },
    "doc_signal_corr" -> {
      // same generator shape as feature_corr, over the derived doc signals
      val exprs = Seq( // sorted by signal name (corrMatrix output order)
        "n_chars" -> "CAST(n_chars AS DOUBLE)",
        "n_distinct" -> "CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)",
        "n_tokens" -> "CAST(len(string_split(text, ' ')) AS DOUBLE)")
      val v = exprs.indices.map(i => s"v$i")
      val melt = exprs.zip(v).map { case ((_, e), vi) =>
        s"CAST(trunc(($e) * 100.0) AS BIGINT) AS $vi"
      }.mkString(", ")
      val guard = exprs.map { case (_, e) =>
        s"($e) IS NOT NULL AND NOT isnan($e)"
      }.mkString(" AND ")
      val sums =
        v.map(vi => s"sum(CAST($vi AS HUGEINT)) AS s_$vi").mkString(", ") + ", " +
          (for { i <- v.indices; j <- i until v.size }
            yield s"sum(CAST(${v(i)} AS HUGEINT) * ${v(j)}) AS p_${v(i)}_${v(j)}")
            .mkString(", ")
      val branches = (for { i <- v.indices; j <- (i + 1) until v.size } yield {
        val (a, b) = (v(i), v(j))
        s"""SELECT '${exprs(i)._1}' AS col_x, '${exprs(j)._1}' AS col_y,
           |       CAST(n AS BIGINT) AS n,
           |       round(CAST(n * p_${a}_$b - s_$a * s_$b AS DOUBLE)
           |             / sqrt(CAST(n * p_${a}_$a - s_$a * s_$a AS DOUBLE)
           |                    * CAST(n * p_${b}_$b - s_$b * s_$b AS DOUBLE)), 6) AS corr_r
           |FROM g""".stripMargin
      }).mkString("\nUNION ALL\n")
      s"""WITH b AS (
         |  SELECT $melt
         |  FROM documents
         |  WHERE $guard
         |), g AS (
         |  SELECT CAST(count(*) AS HUGEINT) AS n,
         |         $sums
         |  FROM b
         |)
         |$branches
         |ORDER BY col_x, col_y""".stripMargin
    },
    "ols_discount" ->
      """WITH b AS (
        |  SELECT l_returnflag AS grp,
        |         CAST(trunc(l_discount * 100.0) AS BIGINT) AS x,
        |         CAST(trunc(l_extendedprice * 100.0) AS BIGINT) AS y
        |  FROM lineitem
        |  WHERE l_discount IS NOT NULL AND NOT isnan(l_discount)
        |    AND l_extendedprice IS NOT NULL AND NOT isnan(l_extendedprice)
        |), g AS (
        |  SELECT grp, CAST(count(*) AS HUGEINT) AS n,
        |         sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
        |         sum(CAST(x AS HUGEINT) * x) AS sxx,
        |         sum(CAST(y AS HUGEINT) * y) AS syy,
        |         sum(CAST(x AS HUGEINT) * y) AS sxy
        |  FROM b GROUP BY grp
        |)
        |SELECT grp, CAST(n AS BIGINT) AS n,
        |       round(CAST(n * sxy - sx * sy AS DOUBLE)
        |             / CAST(n * sxx - sx * sx AS DOUBLE), 6) AS slope,
        |       round((CAST(sy AS DOUBLE)
        |              - CAST(n * sxy - sx * sy AS DOUBLE)
        |                / CAST(n * sxx - sx * sx AS DOUBLE)
        |                * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE), 6) AS intercept_c,
        |       round(CAST(n * sxy - sx * sy AS DOUBLE) * CAST(n * sxy - sx * sy AS DOUBLE)
        |             / (CAST(n * sxx - sx * sx AS DOUBLE)
        |                * CAST(n * syy - sy * sy AS DOUBLE)), 6) AS r2
        |FROM g ORDER BY grp""".stripMargin,
    "compaction_bins" ->
      """WITH c AS (
        |  SELECT source AS part, doc_id AS id, n_chars AS bytes,
        |         coalesce(sum(n_chars) OVER (PARTITION BY source ORDER BY doc_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
        |  FROM documents
        |)
        |SELECT part, CAST(cum_before // 4000 AS BIGINT) AS bin,
        |       CAST(count(*) AS BIGINT) AS n_files,
        |       CAST(sum(bytes) AS BIGINT) AS total_bytes,
        |       min(id) AS min_id, max(id) AS max_id
        |FROM c GROUP BY 1, 2 ORDER BY part, bin""".stripMargin,
    "score_auc" ->
      """WITH e AS (
        |  SELECT CAST(trunc(CAST(embedding[1] AS DOUBLE) * 100000.0) AS BIGINT) AS c,
        |         CASE WHEN label <= 4 THEN CAST(1 AS BIGINT)
        |              ELSE CAST(0 AS BIGINT) END AS y
        |  FROM embeddings WHERE embedding[1] IS NOT NULL
        |), st AS (
        |  SELECT min(c) AS minc, max(c) AS maxc FROM e
        |), b AS (
        |  SELECT ((c - minc) * 256) // (maxc - minc + 1) AS bin, y
        |  FROM e CROSS JOIN st
        |), g AS (
        |  SELECT bin, CAST(sum(y) AS BIGINT) AS n_pos,
        |         CAST(sum(1 - y) AS BIGINT) AS n_neg
        |  FROM b GROUP BY bin
        |), w AS (
        |  SELECT n_pos, n_neg,
        |         sum(n_neg) OVER (ORDER BY bin
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_neg AS neg_below
        |  FROM g
        |), a AS (
        |  SELECT CAST(sum(n_pos) AS BIGINT) AS n_pos,
        |         CAST(sum(n_neg) AS BIGINT) AS n_neg,
        |         sum(CAST(n_pos AS HUGEINT)
        |             * CAST(2 * neg_below + n_neg AS HUGEINT)) AS u2
        |  FROM w
        |)
        |SELECT n_pos, n_neg,
        |       round(CAST(u2 AS DOUBLE)
        |             / (2.0 * CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE)), 6) AS auc
        |FROM a""".stripMargin,
    "auc_confidence" ->
      """WITH e AS (
        |  SELECT CAST(trunc(CAST(embedding[1] AS DOUBLE) * 100000.0) AS BIGINT) AS c,
        |         CASE WHEN label <= 4 THEN CAST(1 AS BIGINT)
        |              ELSE CAST(0 AS BIGINT) END AS y
        |  FROM embeddings WHERE embedding[1] IS NOT NULL
        |), st AS (
        |  SELECT min(c) AS minc, max(c) AS maxc FROM e
        |), b AS (
        |  SELECT ((c - minc) * 256) // (maxc - minc + 1) AS bin, y
        |  FROM e CROSS JOIN st
        |), g AS (
        |  SELECT bin, CAST(sum(y) AS BIGINT) AS n_pos,
        |         CAST(sum(1 - y) AS BIGINT) AS n_neg
        |  FROM b GROUP BY bin
        |), w1 AS (
        |  SELECT n_pos, n_neg,
        |         sum(n_neg) OVER (ORDER BY bin
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_neg AS neg_below,
        |         sum(n_pos) OVER (ORDER BY bin DESC
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_pos AS pos_above,
        |         sum(n_pos) OVER () AS p, sum(n_neg) OVER () AS n
        |  FROM g
        |), w2 AS (
        |  SELECT *, sum(CAST(n_pos AS HUGEINT)
        |                * CAST(2 * neg_below + n_neg AS HUGEINT)) OVER () AS u2
        |  FROM w1
        |), terms AS (
        |  SELECT p, n, u2,
        |         CAST(round(CAST(n_pos AS DOUBLE)
        |           * ((2.0 * CAST(neg_below AS DOUBLE) + CAST(n_neg AS DOUBLE))
        |                / (2.0 * CAST(n AS DOUBLE))
        |              - CAST(u2 AS DOUBLE)
        |                / (2.0 * CAST(p AS DOUBLE) * CAST(n AS DOUBLE)))
        |           * ((2.0 * CAST(neg_below AS DOUBLE) + CAST(n_neg AS DOUBLE))
        |                / (2.0 * CAST(n AS DOUBLE))
        |              - CAST(u2 AS DOUBLE)
        |                / (2.0 * CAST(p AS DOUBLE) * CAST(n AS DOUBLE)))
        |           * 1e9) AS BIGINT) AS t10,
        |         CAST(round(CAST(n_neg AS DOUBLE)
        |           * ((2.0 * CAST(pos_above AS DOUBLE) + CAST(n_pos AS DOUBLE))
        |                / (2.0 * CAST(p AS DOUBLE))
        |              - CAST(u2 AS DOUBLE)
        |                / (2.0 * CAST(p AS DOUBLE) * CAST(n AS DOUBLE)))
        |           * ((2.0 * CAST(pos_above AS DOUBLE) + CAST(n_pos AS DOUBLE))
        |                / (2.0 * CAST(p AS DOUBLE))
        |              - CAST(u2 AS DOUBLE)
        |                / (2.0 * CAST(p AS DOUBLE) * CAST(n AS DOUBLE)))
        |           * 1e9) AS BIGINT) AS t01
        |  FROM w2
        |), a AS (
        |  SELECT CAST(max(p) AS BIGINT) AS n_pos, CAST(max(n) AS BIGINT) AS n_neg,
        |         max(CAST(u2 AS DOUBLE)) AS u2d,
        |         CAST(sum(t10) AS BIGINT) AS s10n, CAST(sum(t01) AS BIGINT) AS s01n
        |  FROM terms
        |), f AS (
        |  SELECT n_pos, n_neg,
        |         u2d / (2.0 * CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE)) AS auc_raw,
        |         sqrt(CAST(s10n AS DOUBLE)
        |                / (1e9 * (CAST(n_pos AS DOUBLE) - 1.0))
        |                / CAST(n_pos AS DOUBLE)
        |              + CAST(s01n AS DOUBLE)
        |                / (1e9 * (CAST(n_neg AS DOUBLE) - 1.0))
        |                / CAST(n_neg AS DOUBLE)) AS se_raw
        |  FROM a
        |)
        |SELECT n_pos, n_neg, round(auc_raw, 6) AS auc,
        |       CASE WHEN n_pos > 1 AND n_neg > 1 THEN round(se_raw, 6) END AS se,
        |       CASE WHEN n_pos > 1 AND n_neg > 1
        |            THEN round(greatest(auc_raw - 1.959964 * se_raw, 0.0), 6) END AS ci_lo,
        |       CASE WHEN n_pos > 1 AND n_neg > 1
        |            THEN round(least(auc_raw + 1.959964 * se_raw, 1.0), 6) END AS ci_hi
        |FROM f""".stripMargin,
    "auc_compare" ->
      """WITH e AS (
        |  SELECT CAST(trunc(CAST(embedding[1] AS DOUBLE) * 100000.0) AS BIGINT) AS c1,
        |         CAST(trunc(CAST(embedding[2] AS DOUBLE) * 100000.0) AS BIGINT) AS c2,
        |         CASE WHEN label <= 4 THEN CAST(1 AS BIGINT)
        |              ELSE CAST(0 AS BIGINT) END AS y
        |  FROM embeddings
        |  WHERE embedding[1] IS NOT NULL AND embedding[2] IS NOT NULL
        |), st AS (
        |  SELECT min(c1) AS min1, max(c1) AS max1,
        |         min(c2) AS min2, max(c2) AS max2 FROM e
        |), joint AS (
        |  SELECT ((c1 - min1) * 256) // (max1 - min1 + 1) AS b1,
        |         ((c2 - min2) * 256) // (max2 - min2 + 1) AS b2,
        |         CAST(sum(y) AS BIGINT) AS n_pos,
        |         CAST(sum(1 - y) AS BIGINT) AS n_neg
        |  FROM e CROSS JOIN st GROUP BY 1, 2
        |), m1 AS (
        |  SELECT b1, CAST(sum(n_pos) AS BIGINT) AS mp1,
        |         CAST(sum(n_neg) AS BIGINT) AS mn1
        |  FROM joint GROUP BY 1
        |), m1w AS (
        |  SELECT b1, mp1, mn1,
        |         sum(mn1) OVER (ORDER BY b1
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - mn1 AS negb1,
        |         sum(mp1) OVER (ORDER BY b1 DESC
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - mp1 AS posa1
        |  FROM m1
        |), m2 AS (
        |  SELECT b2, CAST(sum(n_pos) AS BIGINT) AS mp2,
        |         CAST(sum(n_neg) AS BIGINT) AS mn2
        |  FROM joint GROUP BY 1
        |), m2w AS (
        |  SELECT b2, mp2, mn2,
        |         sum(mn2) OVER (ORDER BY b2
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - mn2 AS negb2,
        |         sum(mp2) OVER (ORDER BY b2 DESC
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - mp2 AS posa2
        |  FROM m2
        |), consts AS (
        |  SELECT (SELECT CAST(sum(mp1) AS BIGINT) FROM m1) AS p,
        |         (SELECT CAST(sum(mn1) AS BIGINT) FROM m1) AS nn,
        |         (SELECT sum(CAST(mp1 AS HUGEINT)
        |                     * CAST(2 * negb1 + mn1 AS HUGEINT)) FROM m1w) AS u2a,
        |         (SELECT sum(CAST(mp2 AS HUGEINT)
        |                     * CAST(2 * negb2 + mn2 AS HUGEINT)) FROM m2w) AS u2b
        |), pv AS (
        |  SELECT n_pos, n_neg, p, nn,
        |         CAST(u2a AS DOUBLE) AS u2ad, CAST(u2b AS DOUBLE) AS u2bd,
        |         (2.0 * CAST(negb1 AS DOUBLE) + CAST(mn1 AS DOUBLE))
        |           / (2.0 * CAST(nn AS DOUBLE)) AS v1,
        |         (2.0 * CAST(negb2 AS DOUBLE) + CAST(mn2 AS DOUBLE))
        |           / (2.0 * CAST(nn AS DOUBLE)) AS v2,
        |         (2.0 * CAST(posa1 AS DOUBLE) + CAST(mp1 AS DOUBLE))
        |           / (2.0 * CAST(p AS DOUBLE)) AS w1,
        |         (2.0 * CAST(posa2 AS DOUBLE) + CAST(mp2 AS DOUBLE))
        |           / (2.0 * CAST(p AS DOUBLE)) AS w2,
        |         CAST(u2a AS DOUBLE)
        |           / (2.0 * CAST(p AS DOUBLE) * CAST(nn AS DOUBLE)) AS a1,
        |         CAST(u2b AS DOUBLE)
        |           / (2.0 * CAST(p AS DOUBLE) * CAST(nn AS DOUBLE)) AS a2
        |  FROM joint JOIN m1w USING (b1) JOIN m2w USING (b2) CROSS JOIN consts
        |), terms AS (
        |  SELECT p, nn, u2ad, u2bd,
        |    CAST(round(CAST(n_pos AS DOUBLE) * (v1 - a1) * (v1 - a1) * 1e9) AS BIGINT) AS t10_11,
        |    CAST(round(CAST(n_pos AS DOUBLE) * (v2 - a2) * (v2 - a2) * 1e9) AS BIGINT) AS t10_22,
        |    CAST(round(CAST(n_pos AS DOUBLE) * (v1 - a1) * (v2 - a2) * 1e9) AS BIGINT) AS t10_12,
        |    CAST(round(CAST(n_neg AS DOUBLE) * (w1 - a1) * (w1 - a1) * 1e9) AS BIGINT) AS t01_11,
        |    CAST(round(CAST(n_neg AS DOUBLE) * (w2 - a2) * (w2 - a2) * 1e9) AS BIGINT) AS t01_22,
        |    CAST(round(CAST(n_neg AS DOUBLE) * (w1 - a1) * (w2 - a2) * 1e9) AS BIGINT) AS t01_12
        |  FROM pv
        |), a AS (
        |  SELECT CAST(max(p) AS BIGINT) AS n_pos, CAST(max(nn) AS BIGINT) AS n_neg,
        |         max(u2ad) AS u2ad, max(u2bd) AS u2bd,
        |         CAST(sum(t10_11) AS BIGINT) AS s10_11,
        |         CAST(sum(t10_22) AS BIGINT) AS s10_22,
        |         CAST(sum(t10_12) AS BIGINT) AS s10_12,
        |         CAST(sum(t01_11) AS BIGINT) AS s01_11,
        |         CAST(sum(t01_22) AS BIGINT) AS s01_22,
        |         CAST(sum(t01_12) AS BIGINT) AS s01_12
        |  FROM terms
        |), f AS (
        |  SELECT n_pos, n_neg,
        |         u2ad / (2.0 * CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE)) AS a1r,
        |         u2bd / (2.0 * CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE)) AS a2r,
        |         (CAST(s10_11 + s10_22 - 2 * s10_12 AS DOUBLE)
        |            / (1e9 * (CAST(n_pos AS DOUBLE) - 1.0))) / CAST(n_pos AS DOUBLE)
        |       + (CAST(s01_11 + s01_22 - 2 * s01_12 AS DOUBLE)
        |            / (1e9 * (CAST(n_neg AS DOUBLE) - 1.0))) / CAST(n_neg AS DOUBLE)
        |           AS var_d
        |  FROM a
        |)
        |SELECT n_pos, n_neg,
        |       round(a1r, 6) AS auc1, round(a2r, 6) AS auc2,
        |       round(a1r - a2r, 6) AS d_auc,
        |       CASE WHEN n_pos > 1 AND n_neg > 1 AND var_d >= 0
        |            THEN round(sqrt(var_d), 6) END AS se,
        |       CASE WHEN n_pos > 1 AND n_neg > 1 AND var_d > 0
        |            THEN round((a1r - a2r) / sqrt(var_d), 6) END AS z
        |FROM f""".stripMargin,
    "score_isotonic" ->
      """WITH e AS (
        |  SELECT CAST(trunc(CAST(n_chars AS DOUBLE)
        |                    / (CAST(n_chars AS DOUBLE) + 200.0) * 1000000.0) AS BIGINT)
        |           AS pm,
        |         CASE WHEN lang = 'en' THEN CAST(1 AS BIGINT)
        |              ELSE CAST(0 AS BIGINT) END AS y
        |  FROM documents
        |), g AS (
        |  SELECT least(pm // 62500, 15) AS bin,
        |         CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(y) AS BIGINT) AS n_pos
        |  FROM e GROUP BY 1
        |), p AS (
        |  SELECT bin, n, n_pos,
        |         CAST(sum(n) OVER w AS BIGINT) AS cn,
        |         CAST(sum(n_pos) OVER w AS BIGINT) AS cp
        |  FROM g
        |  WINDOW w AS (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |), cells AS (
        |  SELECT a.bin AS i, b.bin AS j,
        |         CAST(round(1000000000.0
        |              * CAST(b.cp - (a.cp - a.n_pos) AS DOUBLE)
        |              / CAST(b.cn - (a.cn - a.n) AS DOUBLE)) AS BIGINT) AS m_nano
        |  FROM p a JOIN p b ON a.bin <= b.bin
        |), sm AS (
        |  SELECT i, j,
        |         min(m_nano) OVER (PARTITION BY i ORDER BY j DESC
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS suf
        |  FROM cells
        |), iso AS (
        |  SELECT j AS bin, CAST(max(suf) AS BIGINT) AS iso_nano FROM sm GROUP BY 1
        |)
        |SELECT g.bin, g.n, g.n_pos,
        |       round(CAST(g.n_pos AS DOUBLE) / CAST(g.n AS DOUBLE), 6) AS raw_rate,
        |       iso.iso_nano,
        |       round(CAST(iso.iso_nano AS DOUBLE) / 1000000000.0, 6) AS iso_rate
        |FROM g JOIN iso USING (bin) ORDER BY bin""".stripMargin,
    "score_calibration" ->
      """WITH e AS (
        |  SELECT CAST(trunc(CAST(n_chars AS DOUBLE)
        |                    / (CAST(n_chars AS DOUBLE) + 200.0) * 1000000.0) AS BIGINT)
        |           AS pm,
        |         CASE WHEN lang = 'en' THEN CAST(1 AS BIGINT)
        |              ELSE CAST(0 AS BIGINT) END AS y
        |  FROM documents
        |), g AS (
        |  SELECT least(pm // 100000, 9) AS bin,
        |         CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(y) AS BIGINT) AS n_pos,
        |         CAST(sum(pm) AS BIGINT) AS sum_pm
        |  FROM e GROUP BY 1
        |), t AS (
        |  SELECT bin, n, n_pos, sum_pm, sum(n) OVER () AS n_total FROM g
        |)
        |SELECT bin, n, n_pos,
        |       round(CAST(sum_pm AS DOUBLE) / (CAST(n AS DOUBLE) * 1000000.0), 6) AS conf,
        |       round(CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE), 6) AS acc,
        |       round(CAST(abs(n_pos * 1000000 - sum_pm) AS DOUBLE)
        |             / (1000000.0 * CAST(n_total AS DOUBLE)), 6) AS ece_contrib
        |FROM t ORDER BY bin""".stripMargin,
    "brier_decomposition" ->
      """WITH e AS (
        |  SELECT CAST(trunc(CAST(n_chars AS DOUBLE)
        |                    / (CAST(n_chars AS DOUBLE) + 200.0) * 1000000.0) AS BIGINT)
        |           AS pm,
        |         CASE WHEN lang = 'en' THEN CAST(1 AS BIGINT)
        |              ELSE CAST(0 AS BIGINT) END AS y
        |  FROM documents
        |), g AS (
        |  SELECT least(pm // 100000, 9) AS bin,
        |         CAST(count(*) AS BIGINT) AS n_b,
        |         CAST(sum(y) AS BIGINT) AS s_y,
        |         CAST(sum(pm) AS BIGINT) AS s_pm,
        |         sum(CAST((pm - y * 1000000) * (pm - y * 1000000) AS HUGEINT)) AS sq
        |  FROM e GROUP BY 1
        |), w AS (
        |  SELECT n_b, s_y, s_pm, sq,
        |         sum(n_b) OVER () AS n, sum(s_y) OVER () AS ty
        |  FROM g
        |), t AS (
        |  SELECT n, ty, sq,
        |         CAST(round(CAST(n_b AS DOUBLE)
        |           * (CAST(s_pm AS DOUBLE) / (CAST(n_b AS DOUBLE) * 1000000.0)
        |              - CAST(s_y AS DOUBLE) / CAST(n_b AS DOUBLE))
        |           * (CAST(s_pm AS DOUBLE) / (CAST(n_b AS DOUBLE) * 1000000.0)
        |              - CAST(s_y AS DOUBLE) / CAST(n_b AS DOUBLE))
        |           * 1000000000.0) AS BIGINT) AS rel_t,
        |         CAST(round(CAST(n_b AS DOUBLE)
        |           * (CAST(s_y AS DOUBLE) / CAST(n_b AS DOUBLE)
        |              - CAST(ty AS DOUBLE) / CAST(n AS DOUBLE))
        |           * (CAST(s_y AS DOUBLE) / CAST(n_b AS DOUBLE)
        |              - CAST(ty AS DOUBLE) / CAST(n AS DOUBLE))
        |           * 1000000000.0) AS BIGINT) AS res_t
        |  FROM w
        |), a AS (
        |  SELECT CAST(max(n) AS BIGINT) AS n, CAST(max(ty) AS BIGINT) AS ty,
        |         sum(sq) AS sq,
        |         CAST(sum(rel_t) AS BIGINT) AS rel_n,
        |         CAST(sum(res_t) AS BIGINT) AS res_n
        |  FROM t
        |)
        |SELECT n,
        |       round(CAST(sq AS DOUBLE)
        |             / (CAST(n AS DOUBLE) * 1000000000000.0), 6) AS brier,
        |       round(CAST(rel_n AS DOUBLE)
        |             / (1000000000.0 * CAST(n AS DOUBLE)), 6) AS reliability,
        |       round(CAST(res_n AS DOUBLE)
        |             / (1000000000.0 * CAST(n AS DOUBLE)), 6) AS resolution,
        |       round((CAST(ty AS DOUBLE) / CAST(n AS DOUBLE))
        |             * (1.0 - CAST(ty AS DOUBLE) / CAST(n AS DOUBLE)), 6) AS uncertainty,
        |       round(CAST(sq AS DOUBLE) / (CAST(n AS DOUBLE) * 1000000000000.0)
        |             - (CAST(rel_n AS DOUBLE) / (1000000000.0 * CAST(n AS DOUBLE))
        |                - CAST(res_n AS DOUBLE) / (1000000000.0 * CAST(n AS DOUBLE))
        |                + (CAST(ty AS DOUBLE) / CAST(n AS DOUBLE))
        |                  * (1.0 - CAST(ty AS DOUBLE) / CAST(n AS DOUBLE))), 6)
        |         AS residual
        |FROM a""".stripMargin,
    "drift_psi" ->
      """WITH stm AS (
        |  SELECT (min(epoch_us(o_orderdate)) + max(epoch_us(o_orderdate))) // 2 AS mid
        |  FROM orders
        |), e AS (
        |  SELECT CAST(trunc(o_totalprice * 100.0) AS BIGINT) AS c,
        |         CASE WHEN epoch_us(o_orderdate) <= mid THEN CAST(1 AS BIGINT)
        |              ELSE CAST(0 AS BIGINT) END AS a
        |  FROM orders CROSS JOIN stm
        |), st AS (
        |  SELECT min(c) AS minc, max(c) AS maxc FROM e
        |), b AS (
        |  SELECT ((c - minc) * 16) // (maxc - minc + 1) AS bin, a
        |  FROM e CROSS JOIN st
        |), g AS (
        |  SELECT bin, CAST(sum(a) AS BIGINT) AS n_early,
        |         CAST(sum(1 - a) AS BIGINT) AS n_late
        |  FROM b GROUP BY bin
        |), t AS (
        |  SELECT bin, n_early, n_late,
        |         sum(n_early) OVER () AS te, sum(n_late) OVER () AS tl
        |  FROM g
        |)
        |SELECT bin, n_early, n_late,
        |       round(((CAST(n_late AS DOUBLE) + 0.5) / (CAST(tl AS DOUBLE) + 8.0)
        |              - (CAST(n_early AS DOUBLE) + 0.5) / (CAST(te AS DOUBLE) + 8.0))
        |             * ln(((CAST(n_late AS DOUBLE) + 0.5) / (CAST(tl AS DOUBLE) + 8.0))
        |                  / ((CAST(n_early AS DOUBLE) + 0.5)
        |                     / (CAST(te AS DOUBLE) + 8.0))), 6) AS psi_contrib
        |FROM t ORDER BY bin""".stripMargin,
    "benford_audit" ->
      """WITH e AS (
        |  SELECT c FROM (
        |    SELECT CAST(trunc(l_extendedprice * 100.0) AS BIGINT) AS c FROM lineitem
        |  ) WHERE c > 0
        |), g AS (
        |  SELECT c // CAST(pow(10, length(CAST(c AS VARCHAR)) - 1) AS BIGINT) AS digit,
        |         CAST(count(*) AS BIGINT) AS n
        |  FROM e GROUP BY 1
        |), t AS (
        |  SELECT digit, n, sum(n) OVER () AS nt FROM g
        |)
        |SELECT digit, n,
        |       round(CAST(nt AS DOUBLE) * log10(1.0 + 1.0 / CAST(digit AS DOUBLE)), 6)
        |         AS exp_n,
        |       round((CAST(n AS DOUBLE)
        |              - CAST(nt AS DOUBLE) * log10(1.0 + 1.0 / CAST(digit AS DOUBLE)))
        |             * (CAST(n AS DOUBLE)
        |                - CAST(nt AS DOUBLE) * log10(1.0 + 1.0 / CAST(digit AS DOUBLE)))
        |             / (CAST(nt AS DOUBLE) * log10(1.0 + 1.0 / CAST(digit AS DOUBLE))), 6)
        |         AS chi2_contrib
        |FROM t ORDER BY digit""".stripMargin,
    "auc_by_source" ->
      """WITH e AS (
        |  SELECT source, CAST(n_chars AS BIGINT) AS c,
        |         CASE WHEN lang = 'en' THEN CAST(1 AS BIGINT)
        |              ELSE CAST(0 AS BIGINT) END AS y
        |  FROM documents
        |), st AS (
        |  SELECT source AS g, min(c) AS minc, max(c) AS maxc FROM e GROUP BY 1
        |), b AS (
        |  SELECT e.source AS g, ((c - minc) * 256) // (maxc - minc + 1) AS bin, y
        |  FROM e JOIN st ON e.source = st.g
        |), g2 AS (
        |  SELECT g, bin, CAST(sum(y) AS BIGINT) AS n_pos,
        |         CAST(sum(1 - y) AS BIGINT) AS n_neg
        |  FROM b GROUP BY 1, 2
        |), w AS (
        |  SELECT g, n_pos, n_neg,
        |         sum(n_neg) OVER (PARTITION BY g ORDER BY bin
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_neg AS neg_below
        |  FROM g2
        |), a AS (
        |  SELECT g AS source, CAST(sum(n_pos) AS BIGINT) AS n_pos,
        |         CAST(sum(n_neg) AS BIGINT) AS n_neg,
        |         sum(CAST(n_pos AS HUGEINT)
        |             * CAST(2 * neg_below + n_neg AS HUGEINT)) AS u2
        |  FROM w GROUP BY 1
        |)
        |SELECT source, n_pos, n_neg,
        |       CASE WHEN n_pos > 0 AND n_neg > 0
        |            THEN round(CAST(u2 AS DOUBLE)
        |                       / (2.0 * CAST(n_pos AS DOUBLE)
        |                          * CAST(n_neg AS DOUBLE)), 6)
        |       END AS auc
        |FROM a ORDER BY source""".stripMargin,
    "drift_psi_state" ->
      """WITH e AS (
        |  SELECT CAST(n_chars AS DOUBLE) / (CAST(n_chars AS DOUBLE) + 200.0) AS v,
        |         CASE WHEN lang = 'en' THEN CAST(1 AS BIGINT)
        |              ELSE CAST(0 AS BIGINT) END AS y
        |  FROM documents
        |), q AS (
        |  SELECT CASE WHEN CAST(trunc(v * 100) AS BIGINT) = 100 THEN 99
        |              ELSE CAST(trunc(v * 100) AS BIGINT) END AS bin, y
        |  FROM e
        |  WHERE CAST(trunc(v * 100) AS BIGINT) BETWEEN 0 AND 100
        |), g AS (
        |  SELECT bin, CAST(sum(y) AS BIGINT) AS n_ref,
        |         CAST(sum(1 - y) AS BIGINT) AS n_cur
        |  FROM q GROUP BY 1
        |), t AS (
        |  SELECT bin, n_ref, n_cur,
        |         sum(n_ref) OVER () AS tr, sum(n_cur) OVER () AS tc
        |  FROM g
        |)
        |SELECT CAST(bin AS INT) AS bin, n_ref, n_cur,
        |       round(((CAST(n_cur AS DOUBLE) + 0.5) / (CAST(tc AS DOUBLE) + 50.0)
        |               - (CAST(n_ref AS DOUBLE) + 0.5) / (CAST(tr AS DOUBLE) + 50.0))
        |             * ln(((CAST(n_cur AS DOUBLE) + 0.5) / (CAST(tc AS DOUBLE) + 50.0))
        |                  / ((CAST(n_ref AS DOUBLE) + 0.5) / (CAST(tr AS DOUBLE) + 50.0))),
        |             6) AS psi_contrib
        |FROM t ORDER BY bin""".stripMargin,
    "drift_ks_state" ->
      """WITH e AS (
        |  SELECT CAST(n_chars AS DOUBLE) / (CAST(n_chars AS DOUBLE) + 200.0) AS v,
        |         CASE WHEN lang = 'en' THEN CAST(1 AS BIGINT)
        |              ELSE CAST(0 AS BIGINT) END AS y
        |  FROM documents
        |), q AS (
        |  SELECT CASE WHEN CAST(trunc(v * 100) AS BIGINT) = 100 THEN 99
        |              ELSE CAST(trunc(v * 100) AS BIGINT) END AS bin, y
        |  FROM e
        |  WHERE CAST(trunc(v * 100) AS BIGINT) BETWEEN 0 AND 100
        |), g AS (
        |  SELECT bin, CAST(sum(y) AS BIGINT) AS n_ref,
        |         CAST(sum(1 - y) AS BIGINT) AS n_cur
        |  FROM q GROUP BY 1
        |), t AS (
        |  SELECT bin, n_ref, n_cur,
        |         sum(n_ref) OVER (ORDER BY bin
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cr,
        |         sum(n_cur) OVER (ORDER BY bin
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cc,
        |         sum(n_ref) OVER () AS tr, sum(n_cur) OVER () AS tc
        |  FROM g
        |), a AS (
        |  SELECT CAST(max(tr) AS BIGINT) AS n_ref, CAST(max(tc) AS BIGINT) AS n_cur,
        |         CASE WHEN max(tr) > 0 AND max(tc) > 0
        |              THEN round(max(abs(CAST(cr AS DOUBLE) / CAST(tr AS DOUBLE)
        |                                 - CAST(cc AS DOUBLE) / CAST(tc AS DOUBLE))), 6)
        |         END AS ks_stat
        |  FROM t
        |)
        |SELECT n_ref, n_cur, ks_stat,
        |       CASE WHEN ks_stat IS NOT NULL
        |            THEN round(1.3581015 * sqrt(CAST(n_ref + n_cur AS DOUBLE)
        |                       / (CAST(n_ref AS DOUBLE) * CAST(n_cur AS DOUBLE))), 6)
        |       END AS ks_crit,
        |       CASE WHEN ks_stat IS NOT NULL
        |            THEN ks_stat > round(1.3581015 * sqrt(CAST(n_ref + n_cur AS DOUBLE)
        |                       / (CAST(n_ref AS DOUBLE) * CAST(n_cur AS DOUBLE))), 6)
        |       END AS drifted
        |FROM a""".stripMargin,
    "auc_state" ->
      """WITH e AS (
        |  SELECT CAST(n_chars AS DOUBLE) / (CAST(n_chars AS DOUBLE) + 200.0) AS v,
        |         CASE WHEN lang = 'en' THEN CAST(1 AS BIGINT)
        |              ELSE CAST(0 AS BIGINT) END AS y
        |  FROM documents
        |), q AS (
        |  SELECT CASE WHEN CAST(trunc(v * 100) AS BIGINT) = 100 THEN 99
        |              ELSE CAST(trunc(v * 100) AS BIGINT) END AS bin, y
        |  FROM e
        |  WHERE CAST(trunc(v * 100) AS BIGINT) BETWEEN 0 AND 100
        |), g AS (
        |  SELECT bin, CAST(sum(y) AS BIGINT) AS n_pos,
        |         CAST(sum(1 - y) AS BIGINT) AS n_neg
        |  FROM q GROUP BY 1
        |), w AS (
        |  SELECT n_pos, n_neg,
        |         sum(n_neg) OVER (ORDER BY bin
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_neg AS neg_below
        |  FROM g
        |), a AS (
        |  SELECT CAST(sum(n_pos) AS BIGINT) AS n_pos,
        |         CAST(sum(n_neg) AS BIGINT) AS n_neg,
        |         sum(CAST(n_pos AS HUGEINT) * CAST(2 * neg_below + n_neg AS HUGEINT)) AS u2,
        |         sum(CAST(n_pos AS HUGEINT) * CAST(neg_below AS HUGEINT)) AS u_min,
        |         sum(CAST(n_pos AS HUGEINT) * CAST(neg_below + n_neg AS HUGEINT)) AS u_max
        |  FROM w
        |)
        |SELECT n_pos, n_neg,
        |       CASE WHEN n_pos > 0 AND n_neg > 0
        |            THEN round(CAST(u2 AS DOUBLE)
        |                       / (2.0 * CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE)), 6)
        |       END AS auc,
        |       CASE WHEN n_pos > 0 AND n_neg > 0
        |            THEN round(CAST(u_min AS DOUBLE)
        |                       / (CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE)), 6)
        |       END AS err_lo,
        |       CASE WHEN n_pos > 0 AND n_neg > 0
        |            THEN round(CAST(u_max AS DOUBLE)
        |                       / (CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE)), 6)
        |       END AS err_hi
        |FROM a""".stripMargin,
    "ntile_cuts_state" ->
      """WITH e AS (
        |  SELECT CAST(n_chars AS DOUBLE) / (CAST(n_chars AS DOUBLE) + 200.0) AS v
        |  FROM documents
        |), q AS (
        |  SELECT CASE WHEN CAST(trunc(v * 100) AS BIGINT) = 100 THEN 99
        |              ELSE CAST(trunc(v * 100) AS BIGINT) END AS bin
        |  FROM e
        |  WHERE CAST(trunc(v * 100) AS BIGINT) BETWEEN 0 AND 100
        |), g AS (
        |  SELECT bin, CAST(count(*) AS BIGINT) AS cnt FROM q GROUP BY 1
        |), t AS (
        |  SELECT bin, cnt,
        |         sum(cnt) OVER (ORDER BY bin
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |         sum(cnt) OVER () AS n
        |  FROM g
        |), x AS (
        |  SELECT bin, cum, cum - cnt AS cum_prev, n, j.j AS j,
        |         (n // 5) * j.j + least(j.j, n % 5) AS t
        |  FROM t CROSS JOIN (SELECT unnest([1, 2, 3, 4]) AS j) j
        |)
        |SELECT CAST(j AS INT) AS j, CAST(t AS BIGINT) AS boundary_rank,
        |       CAST(bin AS INT) AS bin,
        |       CAST(bin AS DOUBLE) / 100.0 AS err_lo,
        |       CAST(bin + 1 AS DOUBLE) / 100.0 AS err_hi
        |FROM x WHERE t > cum_prev AND t <= cum ORDER BY j""".stripMargin,
    "pr_curve_state" ->
      """WITH e AS (
        |  SELECT CAST(n_chars AS DOUBLE) / (CAST(n_chars AS DOUBLE) + 200.0) AS v,
        |         CASE WHEN lang = 'en' THEN CAST(1 AS BIGINT)
        |              ELSE CAST(0 AS BIGINT) END AS y
        |  FROM documents
        |), q AS (
        |  -- quantize ×100 (trunc toward zero), numpy range semantics:
        |  -- codes outside [0, 100] drop, code 100 merges into bin 99
        |  SELECT CASE WHEN CAST(trunc(v * 100) AS BIGINT) = 100 THEN 99
        |              ELSE CAST(trunc(v * 100) AS BIGINT) END AS bin, y
        |  FROM e
        |  WHERE CAST(trunc(v * 100) AS BIGINT) BETWEEN 0 AND 100
        |), g AS (
        |  SELECT bin, CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS n_pos
        |  FROM q GROUP BY 1
        |), t AS (
        |  SELECT bin, n, n_pos,
        |         CAST(sum(n) OVER (ORDER BY bin DESC
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_n,
        |         CAST(sum(n_pos) OVER (ORDER BY bin DESC
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_pos,
        |         sum(n_pos) OVER () AS pt
        |  FROM g
        |)
        |SELECT bin, n, n_pos, cum_n, cum_pos,
        |       round(CAST(cum_pos AS DOUBLE) / CAST(cum_n AS DOUBLE), 6) AS precision,
        |       CASE WHEN pt > 0
        |            THEN round(CAST(cum_pos AS DOUBLE) / CAST(pt AS DOUBLE), 6)
        |       END AS recall,
        |       CASE WHEN cum_n + pt > 0
        |            THEN round(2.0 * CAST(cum_pos AS DOUBLE)
        |                       / CAST(cum_n + pt AS DOUBLE), 6)
        |       END AS f1,
        |       CASE WHEN pt > 0
        |            THEN round(CAST(n_pos AS DOUBLE) * CAST(cum_pos AS DOUBLE)
        |                       / (CAST(pt AS DOUBLE) * CAST(cum_n AS DOUBLE)), 6)
        |       END AS ap_contrib
        |FROM t ORDER BY bin DESC""".stripMargin,
    "lift_curve" ->
      """WITH e AS (
        |  SELECT CAST(trunc(CAST(n_chars AS DOUBLE)
        |                    / (CAST(n_chars AS DOUBLE) + 200.0) * 1000000.0) AS BIGINT)
        |           AS pm,
        |         CASE WHEN lang = 'en' THEN CAST(1 AS BIGINT)
        |              ELSE CAST(0 AS BIGINT) END AS y
        |  FROM documents
        |), g AS (
        |  SELECT least(pm // 100000, 9) AS bin,
        |         CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS n_pos
        |  FROM e GROUP BY 1
        |), t AS (
        |  SELECT bin, n, n_pos,
        |         CAST(sum(n) OVER (ORDER BY bin DESC
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_n,
        |         CAST(sum(n_pos) OVER (ORDER BY bin DESC
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_pos,
        |         sum(n) OVER () AS nt, sum(n_pos) OVER () AS pt
        |  FROM g
        |)
        |SELECT bin, n, n_pos, cum_n, cum_pos,
        |       CASE WHEN pt > 0
        |            THEN round(CAST(cum_pos AS DOUBLE) / CAST(pt AS DOUBLE), 6)
        |       END AS capture,
        |       CASE WHEN pt > 0
        |            THEN round(CAST(cum_pos AS DOUBLE) * CAST(nt AS DOUBLE)
        |                       / (CAST(cum_n AS DOUBLE) * CAST(pt AS DOUBLE)), 6)
        |       END AS lift
        |FROM t ORDER BY bin DESC""".stripMargin,
    "spend_gini" ->
      """WITH s AS (
        |  SELECT CAST(sum(CAST(trunc(o_totalprice * 100.0) AS BIGINT)) AS BIGINT) AS c
        |  FROM orders GROUP BY o_custkey
        |), e AS (
        |  SELECT c FROM s WHERE c >= 0
        |), st AS (
        |  SELECT min(c) AS minc, max(c) AS maxc FROM e
        |), b AS (
        |  SELECT ((c - minc) * 256) // (maxc - minc + 1) AS bin, c
        |  FROM e CROSS JOIN st
        |), g AS (
        |  SELECT bin, CAST(count(*) AS BIGINT) AS cnt, min(c) AS rep
        |  FROM b GROUP BY bin
        |), w AS (
        |  SELECT cnt, rep,
        |         sum(cnt) OVER (ORDER BY bin
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - cnt AS below
        |  FROM g
        |), a AS (
        |  SELECT CAST(sum(cnt) AS BIGINT) AS n,
        |         sum(CAST(rep AS HUGEINT) * CAST(cnt AS HUGEINT)) AS t,
        |         sum(CAST(rep AS HUGEINT) * CAST(cnt AS HUGEINT)
        |             * CAST(2 * below + cnt AS HUGEINT)) AS term
        |  FROM w
        |)
        |SELECT n, CAST(t AS BIGINT) AS total_amount,
        |       CASE WHEN t > 0
        |            THEN round(CAST(term AS DOUBLE)
        |                       / (CAST(n AS DOUBLE) * CAST(t AS DOUBLE)) - 1.0, 6)
        |       END AS gini
        |FROM a""".stripMargin,
    "score_kendall" ->
      """WITH e AS (
        |  SELECT CAST(trunc(CAST(embedding[1] AS DOUBLE) * 100000.0) AS BIGINT) AS cx,
        |         CAST(trunc(CAST(embedding[2] AS DOUBLE) * 100000.0) AS BIGINT) AS cy
        |  FROM embeddings
        |  WHERE embedding[1] IS NOT NULL AND embedding[2] IS NOT NULL
        |), st AS (
        |  SELECT min(cx) AS minx, max(cx) AS maxx,
        |         min(cy) AS miny, max(cy) AS maxy FROM e
        |), cells AS (
        |  SELECT ((cx - minx) * 64) // (maxx - minx + 1) AS bx,
        |         ((cy - miny) * 64) // (maxy - miny + 1) AS by,
        |         CAST(count(*) AS BIGINT) AS n_c
        |  FROM e CROSS JOIN st GROUP BY 1, 2
        |), dense AS (
        |  SELECT xs.bx, ys.by, coalesce(c.n_c, CAST(0 AS BIGINT)) AS n_c
        |  FROM (SELECT DISTINCT bx FROM cells) xs
        |  CROSS JOIN (SELECT DISTINCT by FROM cells) ys
        |  LEFT JOIN cells c ON c.bx = xs.bx AND c.by = ys.by
        |), w1 AS (
        |  SELECT bx, by, n_c,
        |         coalesce(sum(n_c) OVER (PARTITION BY bx ORDER BY by
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below,
        |         coalesce(sum(n_c) OVER (PARTITION BY bx ORDER BY by DESC
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS above
        |  FROM dense
        |), w2 AS (
        |  SELECT n_c,
        |         coalesce(sum(below) OVER (PARTITION BY by ORDER BY bx
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS sw,
        |         coalesce(sum(above) OVER (PARTITION BY by ORDER BY bx
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS nw
        |  FROM w1
        |), o AS (
        |  SELECT CAST(sum(n_c) AS BIGINT) AS n,
        |         sum(CAST(n_c AS HUGEINT) * CAST(sw AS HUGEINT)) AS c_pairs,
        |         sum(CAST(n_c AS HUGEINT) * CAST(nw AS HUGEINT)) AS d_pairs
        |  FROM w2
        |), xm AS (
        |  SELECT sum(CAST(n_x AS HUGEINT) * CAST(n_x - 1 AS HUGEINT)) AS tx2
        |  FROM (SELECT CAST(sum(n_c) AS BIGINT) AS n_x FROM cells GROUP BY bx)
        |), ym AS (
        |  SELECT sum(CAST(n_y AS HUGEINT) * CAST(n_y - 1 AS HUGEINT)) AS ty2
        |  FROM (SELECT CAST(sum(n_c) AS BIGINT) AS n_y FROM cells GROUP BY by)
        |), f AS (
        |  SELECT n, c_pairs, d_pairs, tx2, ty2,
        |         CAST(n AS HUGEINT) * CAST(n - 1 AS HUGEINT) AS n2
        |  FROM o CROSS JOIN xm CROSS JOIN ym
        |)
        |SELECT n, CAST(c_pairs AS BIGINT) AS concordant,
        |       CAST(d_pairs AS BIGINT) AS discordant,
        |       CASE WHEN n2 > tx2 AND n2 > ty2
        |            THEN round(2.0 * CAST(c_pairs - d_pairs AS DOUBLE)
        |                       / sqrt(CAST(n2 - tx2 AS DOUBLE)
        |                              * CAST(n2 - ty2 AS DOUBLE)), 6)
        |       END AS tau_b
        |FROM f""".stripMargin,
    "rater_kappa" ->
      """WITH d AS (
        |  SELECT doc_id,
        |         CAST(len(string_split(text, ' ')) AS BIGINT) AS nt,
        |         CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS nd
        |  FROM documents
        |), r AS (
        |  SELECT ntile(3) OVER (ORDER BY nt, doc_id) AS ra,
        |         ntile(3) OVER (ORDER BY nd, doc_id) AS rb
        |  FROM d
        |), c AS (
        |  SELECT ra, rb, CAST(count(*) AS BIGINT) AS n_ab FROM r GROUP BY 1, 2
        |), tot AS (
        |  SELECT CAST(sum(n_ab) AS BIGINT) AS n,
        |         CAST(sum(CASE WHEN ra = rb THEN n_ab ELSE 0 END) AS BIGINT) AS diag,
        |         sum(CAST(2 - abs(ra - rb) AS HUGEINT) * CAST(n_ab AS HUGEINT)) AS wsum
        |  FROM c
        |), ma AS (SELECT ra AS a, CAST(sum(n_ab) AS BIGINT) AS n_a FROM c GROUP BY 1),
        |mb AS (SELECT rb AS b, CAST(sum(n_ab) AS BIGINT) AS n_b FROM c GROUP BY 1),
        |pe AS (
        |  SELECT coalesce(sum(CAST(n_a AS HUGEINT) * CAST(n_b AS HUGEINT)),
        |                  CAST(0 AS HUGEINT)) AS pe_num
        |  FROM ma JOIN mb ON a = b
        |), pew AS (
        |  SELECT sum(CAST(2 - abs(a - b) AS HUGEINT)
        |             * CAST(n_a AS HUGEINT) * CAST(n_b AS HUGEINT)) AS pew_num
        |  FROM ma CROSS JOIN mb
        |), f AS (
        |  SELECT n, diag, wsum, pe_num, pew_num,
        |         CAST(n AS HUGEINT) * CAST(n AS HUGEINT) AS n2
        |  FROM tot CROSS JOIN pe CROSS JOIN pew
        |)
        |SELECT n,
        |       round(CAST(diag AS DOUBLE) / CAST(n AS DOUBLE), 6) AS po,
        |       round(CAST(pe_num AS DOUBLE) / CAST(n2 AS DOUBLE), 6) AS pe,
        |       CASE WHEN n2 > pe_num THEN
        |         round(CAST(CAST(diag AS HUGEINT) * CAST(n AS HUGEINT) - pe_num AS DOUBLE)
        |               / CAST(n2 - pe_num AS DOUBLE), 6) END AS kappa,
        |       round(CAST(wsum AS DOUBLE) / (2.0 * CAST(n AS DOUBLE)), 6) AS po_w,
        |       round(CAST(pew_num AS DOUBLE) / (2.0 * CAST(n2 AS DOUBLE)), 6) AS pe_w,
        |       CASE WHEN 2 * n2 > pew_num THEN
        |         round(CAST(wsum * CAST(n AS HUGEINT) - pew_num AS DOUBLE)
        |               / CAST(2 * n2 - pew_num AS DOUBLE), 6) END AS kappa_w
        |FROM f""".stripMargin,
    "topk_overlap" ->
      """WITH d AS (
        |  SELECT doc_id,
        |         CAST(len(string_split(text, ' ')) AS BIGINT) AS nt,
        |         CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS nd
        |  FROM documents
        |), r1 AS (
        |  SELECT doc_id, rank1 FROM (
        |    SELECT doc_id, row_number() OVER (ORDER BY nt DESC, doc_id) AS rank1
        |    FROM d) WHERE rank1 <= 100
        |), r2 AS (
        |  SELECT doc_id, rank2 FROM (
        |    SELECT doc_id, row_number() OVER (ORDER BY nd DESC, doc_id) AS rank2
        |    FROM d) WHERE rank2 <= 100
        |), j AS (
        |  SELECT coalesce(r1.doc_id, r2.doc_id) AS doc_id, rank1, rank2
        |  FROM r1 FULL OUTER JOIN r2 ON r1.doc_id = r2.doc_id
        |), ks AS (SELECT * FROM (VALUES (10), (25), (50), (100)) AS t(depth)),
        |g AS (
        |  SELECT depth,
        |         CAST(sum(CASE WHEN rank1 <= depth THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |         CAST(sum(CASE WHEN rank2 <= depth THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
        |         CAST(sum(CASE WHEN rank1 <= depth AND rank2 <= depth
        |                       THEN 1 ELSE 0 END) AS BIGINT) AS n_common
        |  FROM j CROSS JOIN ks GROUP BY depth
        |)
        |SELECT depth, n_a, n_b, n_common,
        |       CASE WHEN least(n_a, n_b) > 0 THEN
        |         round(CAST(n_common AS DOUBLE) / CAST(least(n_a, n_b) AS DOUBLE), 6)
        |       END AS overlap,
        |       CASE WHEN n_a + n_b > n_common THEN
        |         round(CAST(n_common AS DOUBLE) / CAST(n_a + n_b - n_common AS DOUBLE), 6)
        |       END AS jaccard
        |FROM g ORDER BY depth""".stripMargin,
    "volume_trend" ->
      """WITH d AS (
        |  SELECT event_type AS grp, epoch_us(ts) // 86400000000 AS day,
        |         CAST(count(*) AS BIGINT) AS n_events
        |  FROM events GROUP BY 1, 2
        |), b AS (
        |  SELECT grp,
        |         CAST(trunc(CAST(day AS DOUBLE) * 100.0) AS BIGINT) AS x,
        |         CAST(trunc(CAST(n_events AS DOUBLE) * 100.0) AS BIGINT) AS y
        |  FROM d
        |), g AS (
        |  SELECT grp, CAST(count(*) AS HUGEINT) AS n,
        |         sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
        |         sum(CAST(x AS HUGEINT) * x) AS sxx,
        |         sum(CAST(y AS HUGEINT) * y) AS syy,
        |         sum(CAST(x AS HUGEINT) * y) AS sxy
        |  FROM b GROUP BY grp
        |)
        |SELECT grp, CAST(n AS BIGINT) AS n,
        |       round(CAST(n * sxy - sx * sy AS DOUBLE)
        |             / CAST(n * sxx - sx * sx AS DOUBLE), 6) AS slope,
        |       round((CAST(sy AS DOUBLE)
        |              - CAST(n * sxy - sx * sy AS DOUBLE)
        |                / CAST(n * sxx - sx * sx AS DOUBLE)
        |                * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE), 6) AS intercept_c,
        |       round(CAST(n * sxy - sx * sy AS DOUBLE) * CAST(n * sxy - sx * sy AS DOUBLE)
        |             / (CAST(n * sxx - sx * sx AS DOUBLE)
        |                * CAST(n * syy - sy * sy AS DOUBLE)), 6) AS r2
        |FROM g ORDER BY grp""".stripMargin,
    "weighted_median" ->
      """WITH d AS (
        |  SELECT source, CAST(n_chars AS BIGINT) AS v,
        |         CAST(len(string_split(text, ' ')) AS BIGINT) AS w
        |  FROM documents
        |), t AS (
        |  SELECT source, CAST(sum(w) AS BIGINT) AS tw FROM d GROUP BY 1
        |), c AS (
        |  SELECT source, v, CAST(sum(w) AS BIGINT) AS wv FROM d GROUP BY 1, 2
        |), r AS (
        |  SELECT source, v,
        |         CAST(sum(wv) OVER (PARTITION BY source ORDER BY v) AS BIGINT) AS cum
        |  FROM c
        |)
        |SELECT r.source AS source, CAST(max(tw) AS BIGINT) AS total_w,
        |       CAST(min(CASE WHEN cum >= (tw + 1) // 2 THEN v END) AS BIGINT)
        |         AS wmedian_chars
        |FROM r JOIN t ON r.source = t.source
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "weighted_quantiles" ->
      """WITH d AS (
        |  SELECT lang, CAST(n_chars AS BIGINT) AS v,
        |         CAST(len(string_split(text, ' ')) AS BIGINT) AS w
        |  FROM documents
        |), t AS (
        |  SELECT lang, CAST(sum(w) AS BIGINT) AS tw FROM d GROUP BY 1
        |), c AS (
        |  SELECT lang, v, CAST(sum(w) AS BIGINT) AS wv FROM d GROUP BY 1, 2
        |), r AS (
        |  SELECT lang, v,
        |         CAST(sum(wv) OVER (PARTITION BY lang ORDER BY v) AS BIGINT) AS cum
        |  FROM c
        |)
        |SELECT r.lang AS lang, CAST(max(tw) AS BIGINT) AS total_w,
        |       CAST(min(CASE WHEN cum >= (25 * tw + 99) // 100 THEN v END) AS BIGINT) AS p25,
        |       CAST(min(CASE WHEN cum >= (50 * tw + 99) // 100 THEN v END) AS BIGINT) AS p50,
        |       CAST(min(CASE WHEN cum >= (75 * tw + 99) // 100 THEN v END) AS BIGINT) AS p75,
        |       CAST(min(CASE WHEN cum >= (90 * tw + 99) // 100 THEN v END) AS BIGINT) AS p90
        |FROM r JOIN t ON r.lang = t.lang
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "usage_shift" ->
      """WITH stm AS (
        |  SELECT (min(epoch_us(ts)) + max(epoch_us(ts))) // 2 AS mid FROM events
        |), s AS (
        |  SELECT CAST(hour(ts) AS INT) AS a,
        |         CASE WHEN epoch_us(ts) <= mid THEN 'early' ELSE 'late' END AS b2
        |  FROM events CROSS JOIN stm
        |), c AS (
        |  SELECT a, b2, CAST(count(*) AS BIGINT) AS n_ab FROM s GROUP BY 1, 2
        |), dense AS (
        |  SELECT xa.a, xb.b2, coalesce(c.n_ab, CAST(0 AS BIGINT)) AS n_ab
        |  FROM (SELECT DISTINCT a FROM c) xa
        |  CROSS JOIN (SELECT DISTINCT b2 FROM c) xb
        |  LEFT JOIN c ON c.a = xa.a AND c.b2 = xb.b2
        |), m AS (
        |  SELECT a, b2, n_ab,
        |         CAST(sum(n_ab) OVER (PARTITION BY a) AS BIGINT) AS n_a,
        |         CAST(sum(n_ab) OVER (PARTITION BY b2) AS BIGINT) AS n_b,
        |         CAST(sum(n_ab) OVER () AS BIGINT) AS n
        |  FROM dense
        |)
        |SELECT a AS hod, b2 AS half, n_ab,
        |       round(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)
        |             / CAST(n AS DOUBLE), 6) AS exp_n,
        |       round((CAST(n_ab AS DOUBLE)
        |              - CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / CAST(n AS DOUBLE))
        |             * (CAST(n_ab AS DOUBLE)
        |              - CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / CAST(n AS DOUBLE))
        |             / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / CAST(n AS DOUBLE)),
        |             6) AS chi2_contrib
        |FROM m ORDER BY hod, half""".stripMargin,
    "split_drift" -> {
      val bucket =
        s"(${graft.functions.PortableHash.hash60Sql("'split:' || CAST(doc_id AS VARCHAR)")}) % 100"
      s"""WITH e AS (
         |  SELECT CAST(n_chars AS BIGINT) AS c,
         |         CASE WHEN $bucket < 80 THEN CAST(1 AS BIGINT)
         |              ELSE CAST(0 AS BIGINT) END AS a
         |  FROM documents
         |), st AS (
         |  SELECT min(c) AS minc, max(c) AS maxc FROM e
         |), b AS (
         |  SELECT ((c - minc) * 16) // (maxc - minc + 1) AS bin, a
         |  FROM e CROSS JOIN st
         |), g AS (
         |  SELECT bin, CAST(sum(a) AS BIGINT) AS n_early,
         |         CAST(sum(1 - a) AS BIGINT) AS n_late
         |  FROM b GROUP BY bin
         |), t AS (
         |  SELECT bin, n_early, n_late,
         |         sum(n_early) OVER () AS te, sum(n_late) OVER () AS tl
         |  FROM g
         |)
         |SELECT bin, n_early, n_late,
         |       round(((CAST(n_late AS DOUBLE) + 0.5) / (CAST(tl AS DOUBLE) + 8.0)
         |              - (CAST(n_early AS DOUBLE) + 0.5) / (CAST(te AS DOUBLE) + 8.0))
         |             * ln(((CAST(n_late AS DOUBLE) + 0.5) / (CAST(tl AS DOUBLE) + 8.0))
         |                  / ((CAST(n_early AS DOUBLE) + 0.5)
         |                     / (CAST(te AS DOUBLE) + 8.0))), 6) AS psi_contrib
         |FROM t ORDER BY bin""".stripMargin
    },
    "weekend_effect" ->
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS k,
        |         CAST(sum(CAST(trunc(o_totalprice * 100.0) AS BIGINT)) AS BIGINT) AS c
        |  FROM orders GROUP BY 1
        |), e AS (
        |  SELECT c, CASE WHEN isodow(k) >= 6 THEN CAST(1 AS BIGINT)
        |                 ELSE CAST(0 AS BIGINT) END AS y
        |  FROM daily
        |), st AS (
        |  SELECT min(c) AS minc, max(c) AS maxc FROM e
        |), b AS (
        |  SELECT ((c - minc) * 256) // (maxc - minc + 1) AS bin, y
        |  FROM e CROSS JOIN st
        |), g AS (
        |  SELECT bin, CAST(sum(y) AS BIGINT) AS n_pos,
        |         CAST(sum(1 - y) AS BIGINT) AS n_neg
        |  FROM b GROUP BY bin
        |), w AS (
        |  SELECT n_pos, n_neg,
        |         sum(n_neg) OVER (ORDER BY bin
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_neg AS neg_below
        |  FROM g
        |), a AS (
        |  SELECT CAST(sum(n_pos) AS BIGINT) AS n_pos,
        |         CAST(sum(n_neg) AS BIGINT) AS n_neg,
        |         sum(CAST(n_pos AS HUGEINT)
        |             * CAST(2 * neg_below + n_neg AS HUGEINT)) AS u2
        |  FROM w
        |)
        |SELECT n_pos, n_neg,
        |       round(CAST(u2 AS DOUBLE)
        |             / (2.0 * CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE)), 6) AS auc
        |FROM a""".stripMargin,
    "split_balance" -> {
      val bucket =
        s"(${graft.functions.PortableHash.hash60Sql("'split:' || CAST(doc_id AS VARCHAR)")}) % 100"
      s"""WITH s AS (
         |  SELECT CASE WHEN $bucket < 80 THEN 'train'
         |              WHEN $bucket < 90 THEN 'val'
         |              ELSE 'test' END AS split,
         |         source
         |  FROM documents
         |), c AS (
         |  SELECT split, source, CAST(count(*) AS BIGINT) AS n_ab
         |  FROM s GROUP BY 1, 2
         |), dense AS (
         |  SELECT sp.split, so.source, coalesce(c.n_ab, CAST(0 AS BIGINT)) AS n_ab
         |  FROM (SELECT DISTINCT split FROM c) sp
         |  CROSS JOIN (SELECT DISTINCT source FROM c) so
         |  LEFT JOIN c ON c.split = sp.split AND c.source = so.source
         |), m AS (
         |  SELECT split, source, n_ab,
         |         CAST(sum(n_ab) OVER (PARTITION BY split) AS BIGINT) AS n_a,
         |         CAST(sum(n_ab) OVER (PARTITION BY source) AS BIGINT) AS n_b,
         |         CAST(sum(n_ab) OVER () AS BIGINT) AS n
         |  FROM dense
         |)
         |SELECT split, source, n_ab,
         |       round(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)
         |             / CAST(n AS DOUBLE), 6) AS exp_n,
         |       round((CAST(n_ab AS DOUBLE)
         |              - CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / CAST(n AS DOUBLE))
         |             * (CAST(n_ab AS DOUBLE)
         |              - CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / CAST(n AS DOUBLE))
         |             / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / CAST(n AS DOUBLE)),
         |             6) AS chi2_contrib
         |FROM m ORDER BY split, source""".stripMargin
    },
    "cohort_ltv" ->
      """WITH o AS (
        |  SELECT o_custkey, epoch_us(o_orderdate) // 604800000000 AS wk,
        |         CAST(trunc(o_totalprice * 100.0) AS BIGINT) AS cents
        |  FROM orders
        |), ch AS (
        |  SELECT o_custkey, CAST(min(wk) AS BIGINT) AS cw FROM o GROUP BY 1
        |), sz AS (
        |  SELECT cw, CAST(count(*) AS BIGINT) AS n_customers FROM ch GROUP BY 1
        |), cells AS (
        |  SELECT ch.cw, o.wk - ch.cw AS woff, CAST(sum(cents) AS BIGINT) AS rev_c
        |  FROM o JOIN ch USING (o_custkey) GROUP BY 1, 2
        |), cum AS (
        |  SELECT cw, woff, rev_c,
        |         CAST(sum(rev_c) OVER (PARTITION BY cw ORDER BY woff
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |           AS cum_rev_c
        |  FROM cells
        |)
        |SELECT cw AS cohort_week, woff, n_customers, rev_c, cum_rev_c,
        |       round(CAST(cum_rev_c AS DOUBLE)
        |             / CAST(n_customers AS DOUBLE) / 100.0, 6) AS ltv_per_customer
        |FROM cum JOIN sz USING (cw)
        |WHERE woff <= 12
        |ORDER BY cohort_week, woff""".stripMargin,
    "customer_migration" ->
      """WITH st AS (
        |  SELECT (min(epoch_us(o_orderdate)) + max(epoch_us(o_orderdate))) // 2 AS mid
        |  FROM orders
        |), s AS (
        |  SELECT CASE WHEN epoch_us(o_orderdate) <= mid THEN 0 ELSE 1 END AS half,
        |         o_custkey,
        |         CAST(sum(CAST(trunc(o_totalprice * 100.0) AS BIGINT)) AS BIGINT) AS tot
        |  FROM orders CROSS JOIN st GROUP BY 1, 2
        |), q AS (
        |  SELECT half, o_custkey,
        |         ntile(5) OVER (PARTITION BY half ORDER BY tot, o_custkey) AS qb
        |  FROM s
        |), m AS (
        |  SELECT e.qb AS from_q, l.qb AS to_q, CAST(count(*) AS BIGINT) AS n_customers
        |  FROM q e JOIN q l ON e.o_custkey = l.o_custkey
        |  WHERE e.half = 0 AND l.half = 1
        |  GROUP BY 1, 2
        |)
        |SELECT from_q, to_q, n_customers,
        |       round(CAST(n_customers AS DOUBLE)
        |             / CAST(sum(n_customers) OVER (PARTITION BY from_q) AS DOUBLE), 6)
        |         AS row_share
        |FROM m ORDER BY from_q, to_q""".stripMargin,
    "delete_audit" -> {
      val h = (inner: String) =>
        graft.functions.PortableHash.hash60Sql(s"'del:' || CAST($inner AS VARCHAR)")
      s"""WITH del AS (
         |  SELECT c_custkey FROM customer WHERE (${h("c_custkey")}) % 20 = 0
         |), delord AS (
         |  SELECT o_orderkey FROM orders
         |  WHERE o_custkey IN (SELECT c_custkey FROM del)
         |), u AS (
         |  SELECT 'customer' AS tbl, CAST(count(*) AS BIGINT) AS n_rows,
         |         CAST(sum(CASE WHEN (${h("c_custkey")}) % 20 = 0 THEN 1 ELSE 0 END)
         |              AS BIGINT) AS n_affected
         |  FROM customer
         |  UNION ALL
         |  SELECT 'orders', CAST(count(*) AS BIGINT),
         |         CAST(sum(CASE WHEN o_custkey IN (SELECT c_custkey FROM del)
         |                       THEN 1 ELSE 0 END) AS BIGINT)
         |  FROM orders
         |  UNION ALL
         |  SELECT 'lineitem', CAST(count(*) AS BIGINT),
         |         CAST(sum(CASE WHEN l_orderkey IN (SELECT o_orderkey FROM delord)
         |                       THEN 1 ELSE 0 END) AS BIGINT)
         |  FROM lineitem
         |  UNION ALL
         |  SELECT 'events', CAST(count(*) AS BIGINT),
         |         CAST(sum(CASE WHEN (${h("user_id")}) % 20 = 0 THEN 1 ELSE 0 END)
         |              AS BIGINT)
         |  FROM events
         |)
         |SELECT tbl, n_rows, n_affected,
         |       round(CAST(n_affected AS DOUBLE) / CAST(n_rows AS DOUBLE), 6) AS share
         |FROM u ORDER BY tbl""".stripMargin
    },
    "survival_logrank" ->
      """WITH o AS (
        |  SELECT o_custkey, epoch_us(o_orderdate) AS ts, o_orderkey FROM orders
        |), g AS (
        |  SELECT o_custkey % 2 AS g,
        |         ((ts - lag(ts) OVER (PARTITION BY o_custkey
        |                              ORDER BY ts, o_orderkey))
        |          // 86400000000) // 7 AS b
        |  FROM o
        |), ev AS (
        |  SELECT b, CAST(1 AS BIGINT) AS ev, g FROM g WHERE b IS NOT NULL
        |  UNION ALL
        |  SELECT (((SELECT max(ts) FROM o) - lts) // 86400000000) // 7 AS b,
        |         CAST(0 AS BIGINT), ck % 2
        |  FROM (SELECT o_custkey AS ck, max(ts) AS lts FROM o GROUP BY o_custkey)
        |), cg AS (
        |  SELECT b AS t,
        |         CAST(sum(CASE WHEN g = 1 THEN ev ELSE 0 END) AS BIGINT) AS d1,
        |         CAST(sum(CASE WHEN g = 1 THEN 1 - ev ELSE 0 END) AS BIGINT) AS c1,
        |         CAST(sum(CASE WHEN g = 0 THEN ev ELSE 0 END) AS BIGINT) AS d0,
        |         CAST(sum(CASE WHEN g = 0 THEN 1 - ev ELSE 0 END) AS BIGINT) AS c0
        |  FROM ev GROUP BY 1
        |), wg AS (
        |  SELECT t, d1, d0,
        |         CAST(sum(d1 + c1) OVER ()
        |              - coalesce(sum(d1 + c1) OVER (ORDER BY t
        |                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |              AS BIGINT) AS n1t,
        |         CAST(sum(d0 + c0) OVER ()
        |              - coalesce(sum(d0 + c0) OVER (ORDER BY t
        |                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |              AS BIGINT) AS n0t
        |  FROM cg
        |), tm AS (
        |  SELECT d1,
        |         CAST(round(1e9 * CAST(d1 + d0 AS DOUBLE) * CAST(n1t AS DOUBLE)
        |                    / CAST(n1t + n0t AS DOUBLE)) AS BIGINT) AS e1n,
        |         CASE WHEN n1t + n0t > 1 THEN
        |           CAST(round(1e9 * CAST(d1 + d0 AS DOUBLE) * CAST(n1t AS DOUBLE)
        |                      * CAST(n0t AS DOUBLE)
        |                      * CAST(n1t + n0t - (d1 + d0) AS DOUBLE)
        |                      / (CAST(n1t + n0t AS DOUBLE) * CAST(n1t + n0t AS DOUBLE)
        |                         * CAST(n1t + n0t - 1 AS DOUBLE))) AS BIGINT)
        |         ELSE 0 END AS vn
        |  FROM wg WHERE d1 + d0 > 0
        |), ag AS (
        |  SELECT CAST(sum(d1) AS BIGINT) AS o1, CAST(sum(e1n) AS BIGINT) AS e1n,
        |         CAST(sum(vn) AS BIGINT) AS vn
        |  FROM tm
        |), sz AS (
        |  SELECT CAST(sum(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |         CAST(sum(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0
        |  FROM ev
        |)
        |SELECT n1, n0, o1,
        |       round(CAST(e1n AS DOUBLE) / 1e9, 6) AS e1,
        |       CASE WHEN vn > 0 THEN
        |         round((CAST(o1 AS DOUBLE) - CAST(e1n AS DOUBLE) / 1e9)
        |               * (CAST(o1 AS DOUBLE) - CAST(e1n AS DOUBLE) / 1e9)
        |               / (CAST(vn AS DOUBLE) / 1e9), 6) END AS chi2,
        |       CASE WHEN vn > 0 THEN
        |         (CAST(o1 AS DOUBLE) - CAST(e1n AS DOUBLE) / 1e9)
        |           * (CAST(o1 AS DOUBLE) - CAST(e1n AS DOUBLE) / 1e9)
        |           / (CAST(vn AS DOUBLE) / 1e9) > 3.841 END AS significant
        |FROM ag CROSS JOIN sz""".stripMargin,
    "order_gap_survival" ->
      """WITH o AS (
        |  SELECT o_custkey, epoch_us(o_orderdate) AS ts, o_orderkey FROM orders
        |), g AS (
        |  SELECT ((ts - lag(ts) OVER (PARTITION BY o_custkey
        |                              ORDER BY ts, o_orderkey))
        |          // 86400000000) // 7 AS b
        |  FROM o
        |), ev AS (
        |  SELECT b, CAST(1 AS BIGINT) AS ev FROM g WHERE b IS NOT NULL
        |  UNION ALL
        |  SELECT (((SELECT max(ts) FROM o) - lts) // 86400000000) // 7 AS b,
        |         CAST(0 AS BIGINT)
        |  FROM (SELECT max(ts) AS lts FROM o GROUP BY o_custkey)
        |), cg AS (
        |  SELECT b AS t, CAST(sum(ev) AS BIGINT) AS d,
        |         CAST(sum(1 - ev) AS BIGINT) AS cc
        |  FROM ev GROUP BY 1
        |), wg AS (
        |  SELECT t, d, cc,
        |         CAST(sum(d + cc) OVER ()
        |              - coalesce(sum(d + cc) OVER (ORDER BY t
        |                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |              AS BIGINT) AS at_risk
        |  FROM cg
        |), mg AS (
        |  SELECT t, at_risk, d, cc,
        |         CASE WHEN d = 0 THEN 0
        |              WHEN at_risk > d THEN
        |                CAST(round(ln(1.0 - CAST(d AS DOUBLE) / CAST(at_risk AS DOUBLE))
        |                           * 1e9) AS BIGINT)
        |              ELSE 0 END AS tn,
        |         max(CASE WHEN d > 0 AND d >= at_risk THEN 1 ELSE 0 END)
        |           OVER (ORDER BY t
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS dead
        |  FROM wg
        |)
        |SELECT t, at_risk AS n_at_risk, d AS n_events, cc AS n_censored,
        |       CASE WHEN dead = 0 THEN
        |         round(CAST(sum(tn) OVER (ORDER BY t
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        |               / 1e9, 6)
        |       END AS log_survival
        |FROM mg ORDER BY t""".stripMargin,
    "revenue_acf" -> {
      val leads = (1 to 7)
        .map(l => s"lead(d, $l) OVER (ORDER BY k) AS d$l").mkString(", ")
      val sums = (1 to 7)
        .map(l => s"sum(d * d$l) AS num$l, CAST(count(d$l) AS BIGINT) AS np$l")
        .mkString(", ")
      val union = (1 to 7)
        .map(l => s"SELECT $l AS lag, np$l AS n_pairs, num$l AS num, den FROM f")
        .mkString(" UNION ALL ")
      s"""WITH g AS (
         |  SELECT CAST(o_orderdate AS DATE) AS k,
         |         CAST(sum(CAST(trunc(o_totalprice * 100.0) AS BIGINT)) AS BIGINT) AS xs
         |  FROM orders GROUP BY 1
         |), w AS (
         |  SELECT k, xs,
         |         CAST(sum(xs) OVER () AS BIGINT) AS tot,
         |         CAST(count(*) OVER () AS BIGINT) AS n
         |  FROM g
         |), dd AS (
         |  SELECT k, CAST(n AS HUGEINT) * CAST(xs AS HUGEINT)
         |            - CAST(tot AS HUGEINT) AS d
         |  FROM w
         |), l AS (
         |  SELECT d, $leads FROM dd
         |), f AS (
         |  SELECT sum(d * d) AS den, $sums FROM l
         |)
         |SELECT lag, n_pairs,
         |       CASE WHEN den > 0 AND n_pairs > 0
         |            THEN round(CAST(num AS DOUBLE) / CAST(den AS DOUBLE), 6)
         |       END AS acf
         |FROM ($union) ORDER BY lag""".stripMargin
    },
    "revenue_cusum" ->
      """WITH g AS (
        |  SELECT CAST(o_orderdate AS DATE) AS k,
        |         CAST(sum(CAST(trunc(o_totalprice * 100.0) AS BIGINT)) AS BIGINT) AS xs
        |  FROM orders GROUP BY 1
        |), w AS (
        |  SELECT k, xs,
        |         CAST(row_number() OVER (ORDER BY k) AS BIGINT) AS i,
        |         CAST(sum(xs) OVER (ORDER BY k
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS p,
        |         CAST(sum(xs) OVER () AS BIGINT) AS tot,
        |         CAST(count(*) OVER () AS BIGINT) AS n
        |  FROM g
        |), d AS (
        |  SELECT *, CAST(n AS HUGEINT) * CAST(p AS HUGEINT)
        |            - CAST(i AS HUGEINT) * CAST(tot AS HUGEINT) AS dstat
        |  FROM w WHERE i < n
        |), best AS (
        |  SELECT * FROM d ORDER BY abs(dstat) DESC, k LIMIT 1
        |)
        |SELECT n AS n_periods, k AS cp_key, i AS cp_index,
        |       round(CAST(abs(dstat) AS DOUBLE) / (CAST(n AS DOUBLE) * 100.0), 6) AS cusum,
        |       round(CAST(p AS DOUBLE) / (CAST(i AS DOUBLE) * 100.0), 6) AS mean_before,
        |       round(CAST(tot - p AS DOUBLE) / (CAST(n - i AS DOUBLE) * 100.0), 6)
        |         AS mean_after,
        |       round(CAST(tot - p AS DOUBLE) / (CAST(n - i AS DOUBLE) * 100.0)
        |             - CAST(p AS DOUBLE) / (CAST(i AS DOUBLE) * 100.0), 6) AS shift
        |FROM best""".stripMargin,
    "rater_fleiss" ->
      """WITH d AS (
        |  SELECT doc_id,
        |         CAST(len(string_split(text, ' ')) AS BIGINT) AS nt,
        |         CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS nd,
        |         CAST(n_chars AS BIGINT) AS nc
        |  FROM documents
        |), r AS (
        |  SELECT ntile(3) OVER (ORDER BY nt, doc_id) AS r1,
        |         ntile(3) OVER (ORDER BY nd, doc_id) AS r2,
        |         ntile(3) OVER (ORDER BY nc, doc_id) AS r3
        |  FROM d
        |), c AS (
        |  SELECT (CASE WHEN r1 = 1 THEN 1 ELSE 0 END
        |          + CASE WHEN r2 = 1 THEN 1 ELSE 0 END
        |          + CASE WHEN r3 = 1 THEN 1 ELSE 0 END) AS c1,
        |         (CASE WHEN r1 = 2 THEN 1 ELSE 0 END
        |          + CASE WHEN r2 = 2 THEN 1 ELSE 0 END
        |          + CASE WHEN r3 = 2 THEN 1 ELSE 0 END) AS c2,
        |         (CASE WHEN r1 = 3 THEN 1 ELSE 0 END
        |          + CASE WHEN r2 = 3 THEN 1 ELSE 0 END
        |          + CASE WHEN r3 = 3 THEN 1 ELSE 0 END) AS c3
        |  FROM r
        |), f AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(c1 * c1 + c2 * c2 + c3 * c3) AS BIGINT) AS a,
        |         CAST(sum(c1) AS BIGINT) AS m1,
        |         CAST(sum(c2) AS BIGINT) AS m2,
        |         CAST(sum(c3) AS BIGINT) AS m3
        |  FROM c
        |), g AS (
        |  SELECT n, a,
        |         CAST(m1 AS HUGEINT) * m1 + CAST(m2 AS HUGEINT) * m2
        |           + CAST(m3 AS HUGEINT) * m3 AS e,
        |         CAST(a AS HUGEINT) - CAST(n AS HUGEINT) * 3 AS anr,
        |         CAST(n AS HUGEINT) * 6 AS d1,
        |         CAST(n AS HUGEINT) * CAST(n AS HUGEINT) * 9 AS d2
        |  FROM f
        |)
        |SELECT n AS n_items, CAST(3 AS BIGINT) AS n_raters,
        |       round(CAST(anr AS DOUBLE) / CAST(d1 AS DOUBLE), 6) AS p_bar,
        |       round(CAST(e AS DOUBLE) / CAST(d2 AS DOUBLE), 6) AS p_e,
        |       CASE WHEN d2 > e THEN
        |         round(CAST(anr * d2 - e * d1 AS DOUBLE)
        |               / CAST(d1 * (d2 - e) AS DOUBLE), 6) END AS kappa
        |FROM g""".stripMargin,
    "lang_source_mi" ->
      """WITH g AS (
        |  SELECT lang, source, CAST(count(*) AS BIGINT) AS n_ab
        |  FROM documents GROUP BY 1, 2
        |), w AS (
        |  SELECT lang, source, n_ab,
        |         sum(n_ab) OVER (PARTITION BY lang) AS n_a,
        |         sum(n_ab) OVER (PARTITION BY source) AS n_b,
        |         sum(n_ab) OVER () AS n
        |  FROM g
        |)
        |SELECT lang, source, n_ab,
        |       round((CAST(n_ab AS DOUBLE) / CAST(n AS DOUBLE))
        |             * ln(CAST(n_ab AS DOUBLE) * CAST(n AS DOUBLE)
        |                  / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))), 6)
        |         AS mi_contrib
        |FROM w ORDER BY lang, source""".stripMargin,
    "psi_by_type" ->
      """WITH f AS (
        |  SELECT event_type, value, epoch_us(ts) AS ts_us FROM events
        |  WHERE value IS NOT NULL AND NOT isnan(value)
        |), stm AS (
        |  SELECT (min(ts_us) + max(ts_us)) // 2 AS mid FROM f
        |), e AS (
        |  SELECT event_type AS g, CAST(trunc(value * 100.0) AS BIGINT) AS c,
        |         CASE WHEN ts_us <= mid THEN CAST(1 AS BIGINT)
        |              ELSE CAST(0 AS BIGINT) END AS a
        |  FROM f CROSS JOIN stm
        |), st AS (
        |  SELECT g, min(c) AS minc, max(c) AS maxc FROM e GROUP BY 1
        |), b AS (
        |  SELECT e.g, ((c - minc) * 16) // (maxc - minc + 1) AS bin, a
        |  FROM e JOIN st ON e.g = st.g
        |), gg AS (
        |  SELECT g, bin, CAST(sum(a) AS BIGINT) AS n_early,
        |         CAST(sum(1 - a) AS BIGINT) AS n_late
        |  FROM b GROUP BY 1, 2
        |), t AS (
        |  SELECT g, bin, n_early, n_late,
        |         sum(n_early) OVER (PARTITION BY g) AS te,
        |         sum(n_late) OVER (PARTITION BY g) AS tl
        |  FROM gg
        |)
        |SELECT g AS event_type, bin, n_early, n_late,
        |       round(((CAST(n_late AS DOUBLE) + 0.5) / (CAST(tl AS DOUBLE) + 8.0)
        |              - (CAST(n_early AS DOUBLE) + 0.5) / (CAST(te AS DOUBLE) + 8.0))
        |             * ln(((CAST(n_late AS DOUBLE) + 0.5) / (CAST(tl AS DOUBLE) + 8.0))
        |                  / ((CAST(n_early AS DOUBLE) + 0.5)
        |                     / (CAST(te AS DOUBLE) + 8.0))), 6) AS psi_contrib
        |FROM t ORDER BY event_type, bin""".stripMargin)
}
