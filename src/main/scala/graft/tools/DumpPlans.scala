package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.ExplainMode

/** Regenerates PLANS.md: the formatted physical plans of the flagship
  * queries, with the scale-relevant properties they demonstrate.
  * Usage: runMain graft.tools.DumpPlans
  */
object DumpPlans {
  private val Sections = Seq(
    "hist_linear" -> "Column-pruned scan (only the value column), pushed IsNotNull, partial/final hash aggregate over ≤ bins keys, broadcast densify join.",
    "hist_deciles" -> "Window sits ABOVE the aggregation — the unpartitioned running-sum window only ever sees the ≤ bins-row binned relation.",
    "q3_top_orders" -> "Timestamp predicates pushed into both parquet scans; dims joined by broadcast; global top-k as TakeOrderedAndProject (no full sort).",
    "knn_cosine" -> "Broadcast nested-loop of the tiny query side; the native graft_cosine expression inside the projection; WindowGroupLimit prunes to top-k before the rank window.",
    "events_sessions" -> "One shuffle on user_id shared by both window passes (lag + running sum) and the session aggregation.",
    "dedup_ngram_jaccard" -> "Cached shingle relation, prefix-filtered candidate equi-join (df-sorted prefixes), then exact-verify join over full sets — no unbounded hot-key fan-out.",
    "dedup_embedding" -> "SIZE-ROUTED: above a plan-time vector-count estimate of 1e5 the call routes to the banded-LSH prefilter + exact verify (threshold-adaptive banding); below it, exact all-pairs as a balanced block-pair EQUI-join (block count auto-sized from plan-time stats: ~256k cosine evals per tile, B+1-row replication ceiling; broadcast of the tiny block-pair relation, shuffled join on the pair key) — no CartesianProduct/BNLJ node on either route; graft_cosine runs inside the join projection.",
    "decontaminate" -> "Contamination check as a map-side broadcast hash probe: the held-out side's distinct n-gram hashes broadcast; the training corpus never shuffles.",
    "embed_kmeans" -> "Assignment = broadcast NLJ against the k-row centroid relation, projected to thin (vec_id, cid, dist) rows before the exchange; arg-min is a map-side-combinable min(struct); the vectors themselves never shuffle.",
    "dedup_spans" -> "Span-level dedup: both exchanges (count aggregate + join-back) keyed on the 8-byte span hash of the cached span relation — text never shuffles.",
    "bm25_search" -> "Corpus stats and per-term df broadcast into the scoring projection; the token stream is filtered to query terms BEFORE the cached tf aggregation; the global top-k runs as TakeOrderedAndProject (heap top-k, no global sort).",
    "stratified_sample" -> "Exact-k per-stratum sampling: the sample side's row_number ≤ k filter becomes WindowGroupLimit — each map task pre-prunes to k rows per stratum before the window exchange; totals are a separate plain aggregate.",
    "events_anomaly" -> "Per-type stats (count/Σc/Σc²) broadcast back onto the hourly cells; the 2σ gate is all-BIGINT arithmetic inside the filter — no sqrt, no float compare.",
    "dedup_substring" -> "Token-span winnowing containment: cached fingerprint relation (double HOF barrier), prefix-filtered candidates on the pair's smaller set, SHUFFLE_HASH exact verify from the full sets.",
    "latest_events" -> "Arg-max snapshot as a map-side-combinable max(struct) — one keyed aggregation, no rank window, no per-user sort.",
    "dedup_minhash" -> "Wide-signature LSH: one aggregation computes all 16 minima; banding is a projection (no collect_list re-aggregation); the bounded candidate relation broadcasts into the column-wise agreement estimate — no SortMergeJoin anywhere.",
    "q8_market_share" -> "Deepest join tree in the suite: Catalyst orders the 8 relations; nation/region broadcast explicitly (fixed-size), part/customer/supplier left to AQE; one grouped aggregate over exact cents² sums.",
    "zorder_cells" -> "Morton interleave as pure BIGINT shift/mask arithmetic inside one codegen projection over a two-column pruned scan; cell top-k via TakeOrderedAndProject.",
    "group_quantiles" -> "Exact quantiles without a group-scale sort: RankOps bin histogram locates each interpolation rank's bin, only boundary-bin rows get ranked (partitioned group × target) — neither the collect-the-group percentile buffer nor a per-group corpus sort appears.",
    "winsorized_stats" -> "Clamp thresholds are two RankOps order statistics per group (bounded bin histogram + boundary-bin ranks); the clamp aggregate runs over the unsorted base joined with the broadcast thresholds.",
    "rfm_segments" -> "Three ntile(5)-equivalent quintiles as broadcast cut-key comparisons from RankOps.ntileCuts — no unpartitioned window over the customer-cardinality aggregate.",
    "customer_balance_pct" -> "Top quartile + percent_rank from exact bin-cumulative positions (RankOps.rowsAboveRank): rank windows only over boundary-and-above bins, partitioned segment × bin.",
    "minute_gapfill" -> "Calendar sequence join + IGNORE-NULLS carry-forward; the unpartitioned fill window consumes the bounded calendar relation, never raw events.",
    "snapshot_diff" -> "CDC diff: md5 row digests computed map-side; the one full-outer exchange moves (key, digest) pairs — payload columns never shuffle.",
    "dedup_survivors" -> "Survivor selection: cluster labels from the iterative propagation, then one rank window keyed by cluster (WindowGroupLimit-prunable) and the summary aggregate.",
    "cms_terms" -> "Count-Min point queries: the fixed 4×1024 state is ONE map-side-combinable aggregation; probes left-join the broadcast state — estimate 0 for empty buckets survives.",
    "dedup_semantic" -> "SemDeDup: the quadratic cosine kernel joins on CLUSTER ID (equi-join, no corpus²); the materialized assignment relation feeds pair sides + size counts from cache; graft_cosine runs inside the join projection.",
    "embed_prototypes" -> "Prototypicality cut: rank window PARTITIONED by cluster id over the thin (vec_id, cid, dist) assignment — never an unpartitioned corpus window; both distance sums come from one aggregation pass.",
    "dsir_weights" -> "DSIR: the 256-row hashed feature table (log-ratios) BROADCASTS into the token stream; corpus-sized shuffles are only the bucket count and per-doc sum, both map-side combinable.",
    "q7_volume" -> "Q7: both nation dims broadcast with the pair filter applied BEFORE the join; ship-date range pushed to the lineitem scan; exact cents² aggregation.",
    "q17_small_qty" -> "Q17 decorrelated: per-part averages as an aggregate joined back (AQE broadcasts the brand-pruned side); the 20%-of-avg compare is integer-exact inside the filter.",
    "dedup_incremental" -> "Incremental ingest: base md5 fingerprint index probed by the batch (16-byte keys); near-dups are a FILTER on the memoized PPJoin pair relation — candidate pipeline not re-paid.",
    "graph_triangles" -> "Degree-ordered triangle census: the wedge stage self-joins the ORIENTED edge relation (outdeg bounded O(√E) on any skew), wedges close via left_semi against the cached undirected edges; degree/edge-count aggregates come from the same cache.",
    "q21_waiting" -> "Q21 double EXISTS/NOT EXISTS decorrelated: the distinct late-pair relation fills once (session cache) and feeds both its own per-order count and the final join; both EXISTS gates are left_semi hash joins.",
    "bloom_probe" -> "Bloom build/probe: ≤ m-row set-bit state BROADCASTS into the probe-bit join; both key scans aggregate to distinct key relations once (cached) — the corpus-sized key set never shuffles twice.",
    "scd2_apply" -> "SCD2 merge: ONE full-outer co-partitioned join on the key, then a ≤ 2-struct explode emits closed/carried/inserted generations — no second pass, no driver merge loop.",
    "hll_overlap" -> "HLL merge: per-side registers from ONE tagged pass over a∪b (cached ≤ 512-row state feeds per-side AND union estimates); exact membership via one per-key flag aggregation, not three set ops.",
    "feature_corr" -> "Correlation matrix: ONE partial/final aggregate over a 4-column pruned scan accumulates all 15 decimal sufficient stats; the six correlations are a projection + explode of the 1-row result — no per-pair passes, no float co-moments.",
    "skew_keys" -> "Join-key skew profile: keyed count with map-side combine, 1-row stats BROADCAST back, global top-10 as TakeOrderedAndProject — no full sort of the key histogram.",
    "attribution" -> "Last-touch attribution: ONE shuffle on user_id feeds the carry-forward window; the purchase filter and channel aggregation sit above it — no self-join of events to events.",
    "compaction_bins" -> "Compaction planning: the exclusive-prefix-sum window and the (part, bin) aggregation share the per-partition sort order — one exchange keyed on the table partition, no driver packing loop.",
    "drift_ks" -> "Two-sample KS: raw rows reduce to ≤ 256 grid bins BEFORE any window; the ECDF running sums and totals run on the bounded binned relation (the documented unpartitioned-window exemption).",
    "rolling_7d" -> "RANGE-frame rolling totals: events aggregate to per-DAY rows first; the 6-preceding value frame runs over the bounded day relation, so calendar gaps shorten the window by value, not row count.",
    "profile_columns" -> "Exact per-column profile as a manual two-level aggregate — groupBy(col_name, v) then fold by col_name — so NO Expand node multiplies the melted relation (the countDistinct-mixed-with-plain-aggs rewrite did); every stat rides the distinct pass weighted by group count.",
    "doc_lm_buckets" -> "ntile(3) semantics WITHOUT a corpus window: tercile boundary ranks located via a ≤ 4096-bin histogram (running sum over the BIN relation only), exact cut keys from ranking just the boundary bins, docs bucketed by broadcast cut-key comparison.",
    "pmi_bigrams" -> "PMI collocations: two map-side-combined count aggregations (bigrams + unigrams, both vocabulary-bounded), the min-count filter BEFORE the marginal joins, 1-row totals broadcast, top-20 as TakeOrderedAndProject.",
    "zipf_slope" -> "Zipf fit: vocabulary ranks via RankOps.rowsAboveRank (bin histogram + per-bin rank windows — no vocab-scale sort); the OLS sufficient stats are one DECIMAL(38,0) grouped aggregate over nano-quantized logs.",
    "train_shuffle" -> "Deterministic md5 training order: the reviewable head is TakeOrderedAndProject (heap top-k, no global sort); the ord row_number window consumes only the ≤ sample-row result.",
    "label_noise" -> "k-NN label audit: exact neighbors from the broadcast probe slice, label joins attach to the k·probes relation (never the corpus), two integer aggregations — per-probe agreement then per-label rollup.",
    "zone_skipping" -> "Zone-map audit: file ordinals for BOTH layouts from RankOps (bounded bin windows — the same machinery a layout rewrite's range partitioner uses), per-file min/max aggregation, 2-row plan summary.",
    "join_size_est" -> "AMS join-size estimate: two fixed 4×1024 CMS states (one map-side-combinable pass each), the estimate is a ≤4096-row join + min-over-depth — no key-level relation, the planner statistic costs two scans.",
    "split_leakage" -> "Cross-split 8-gram contamination: session-cached shingle relation, split as a map-side hash of doc_id (never a corpus join), gram-flag aggregation + one hash join back, 3-row pair summary.",
    "score_auc" -> "Binned Mann-Whitney AUC: one min/max stats broadcast grids the scores, per-bin class counts from ONE map-side-combinable aggregation, the ECDF window and the DECIMAL pair-count fold both consume the ≤ 256-row binned relation — the global rank the exact statistic needs never happens.",
    "spend_gini" -> "Concentration audit: per-customer rollup, stats-broadcast grid, per-bin (count, min-representative) aggregation; the Lorenz running-count window and the DECIMAL term fold ride the ≤ 256-row bin relation — no sorted-cumulative-sum over customers.",
    "score_kendall" -> "Binned Kendall tau-b: ONE corpus aggregation to the cached 64² cell relation; the densify cross and both tie margins re-read the cache; chained exclusive prefix-sum windows (south-west / north-west orientation counts) run over ≤ 4096 cells — the O(N²) pair enumeration the exact statistic implies never happens.",
    "auc_compare" -> "Paired DeLong: ONE corpus pass to the cached ≤ 256² joint (b1, b2) cell relation; per-score margins, placement values and both U-statistics derive from the cache; the placement-covariance fold is cell-weighted with integer-nano terms — two scores compared with the same single-scan cost as one.",
    "drift_psi" -> "PSI drift: date-midpoint and value-range stats broadcast (two 1-row relations), one (bin × early) count aggregation, smoothed contributions as per-row double chains over the 16-row binned relation.",
    "benford_audit" -> "Benford audit: first digit via integer string-length arithmetic inside the scan projection (column-pruned to the price), a 9-key aggregation, expectation and chi-square contributions per row over the 9-row digit relation.",
    "conformal_state" -> "Streaming conformal readout: the scored relation reduces to two ≤200-row bin-count states (one map-side-combinable aggregation each); the order-statistic window, cutoff locate, and coverage bracket all ride the aggregated states — calibration history is never re-sorted.",
    "heavy_hitters_mg" -> "Misra-Gries heavy hitters: ONE typed-Aggregator pass (≤48 counters of state per task, ObjectHashAggregate partial/final) produces the candidate hash set; the exact verify is a ≤48-row broadcast semi-join + count — the full-cardinality term groupBy never happens.",
    "knn_ivf_trained" -> "Trained IVF: the Lloyd codebook fits over cached k-row centroid relations; corpus list assignment is a thin map-side-combinable arg-min (no fat rank window); the codebook broadcasts into both the probe ranking and the candidate scoring; probed candidates arrive through a cid equi-join — per-query cost O(N*nprobe/nlist).",
    "attribution_markov" -> "Markov removal attribution: truncation + lag windows share ONE user_id partitioning, the open-end aggregate rides the same key, and everything reduces to the <= (states+1)^2-row transition relation; the absorbing-chain solve consumes that bounded stats read on the driver in exact integer-nano sweeps.",
    "uplift_qini" -> "Qini uplift curve: one per-user aggregation (treatment hash, outcome flag, capped engagement score), one map-side-combinable per-score sufficient-stats aggregation, and the cumulative windows ride the <= 33-row score relation — no global rank of raw units.")

  def main(args: Array[String]): Unit = {
    val spark = graft.SparkEntry.localSession(4)
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.GraftFunctions.register(spark)
    val sb = new StringBuilder
    sb.append(
      """# PLANS — formatted physical plans of the flagship queries
        |
        |Generated by `runMain graft.tools.DumpPlans` (sf0.001 inputs; plan
        |shapes are scale-independent — AQE may swap join strategies by size).
        |The properties called out per plan are the ones PlanSpec pins.
        |""".stripMargin)
    Sections.foreach { case (name, note) =>
      val df = graft.SparkEntry.queries(name)(spark, "/root/testdata/sf0.001")
      val plan = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      // drop the per-operator detail dump; the tree + scan details suffice
      val tree = plan.split("\n\n").headOption.getOrElse(plan)
      val scans = plan
        .split("\n")
        .filter(l => l.contains("ReadSchema:") || l.contains("PushedFilters:"))
        .mkString("\n")
      sb.append(s"\n## $name\n\n$note\n\n```\n$tree\n$scans\n```\n")
    }
    Files.writeString(Paths.get("PLANS.md"), sb.toString)
    println("WROTE PLANS.md")
    spark.stop()
  }
}
