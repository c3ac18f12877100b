package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{ExplainMode, QueryExecution}
import org.apache.spark.sql.util.QueryExecutionListener

/** Plan-shape regression guards: the scale properties README promises
  * (column pruning, predicate pushdown, broadcast choices, top-k without
  * global sort) asserted against the formatted physical plan so a future
  * refactor can't silently regress them.
  */
class PlanSpec extends SparkSpec {

  private def plan(name: String): String = {
    val df: DataFrame = SparkEntry.queries(name)(spark, TestSpark.sf0001)
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))
  }

  /** The formatted plans of the queries `body` executes, build included. */
  private def executed(body: => Unit): Seq[String] = {
    val qes = new ConcurrentLinkedQueue[QueryExecution]
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = qes.add(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    ListenerBusDrain(spark.sparkContext)
    spark.listenerManager.register(listener)
    try { body; ListenerBusDrain(spark.sparkContext) }
    finally spark.listenerManager.unregister(listener)
    qes.asScala.toSeq.map(_.explainString(ExplainMode.fromString("formatted")))
  }

  // formatted mode prints each node twice (tree + "(n) Node" detail
  // section); count the detail headers = distinct scan nodes
  private def parquetScans(p: String): Int = """(?m)^\(\d+\) Scan parquet""".r.findAllIn(p).length

  test("hist_linear: scan prunes to the value column and pushes IsNotNull") {
    // the histogram's one aggregate runs while the query is built: its
    // executed plan holds the scan
    val scans = executed(plan("hist_linear")).filter(parquetScans(_) > 0)
    assert(scans.length == 1, scans.mkString("\n"))
    val p = scans.head
    assert(p.contains("ReadSchema: struct<l_quantity:double>"))
    assert(p.contains("PushedFilters: [IsNotNull(l_quantity)]"))
  }

  test("hist_deciles: window runs after aggregation (bounded input), no raw-value window") {
    val p = plan("hist_deciles")
    // the Window node must consume the densified bin relation — its plan
    // subtree contains the HashAggregate, not the raw parquet scan directly
    val windowIdx = p.indexOf("Window")
    assert(windowIdx > 0)
    assert(p.indexOf("HashAggregate") < windowIdx, "window must sit above the aggregation")
    // the window reads the folded bins, never a raw scan
    assert(parquetScans(p) == 0, p)
  }

  test("doc_repetition: native kernel keeps the plan shuffle-free (sort exchange only)") {
    val p = plan("doc_repetition")
    // one narrow projection over the scan — no explode, no aggregation,
    // no join; the only Exchange is the rangepartitioning for orderBy
    assert(!p.contains("Generate"), "no explode in the kernel plan")
    assert(!p.contains("HashAggregate"), "no aggregation in the kernel plan")
    assert(!p.contains("Join"), "no join in the kernel plan")
    // formatted mode prints each node twice (tree + detail); count the
    // "(n) Exchange" detail headers = distinct exchange nodes
    val exchanges = """(?m)^\(\d+\) Exchange""".r.findAllIn(p).length
    assert(exchanges <= 1, s"sort exchange only, got $exchanges:\n$p")
  }

  test("doc_winnow: native kernel plan has no cache barrier and no HOF stages") {
    val p = plan("doc_winnow")
    assert(!p.contains("InMemoryTableScan"), "persist barrier gone with the kernel")
    assert(p.contains("graft_winnow_fp"), "kernel expression present")
    assert(!p.contains("transform("), "no interpreted HOF stage")
  }

  test("hist_deciles: one parquet scan for the whole query, build and exec together") {
    // no stats job: the fold reads lineitem once while the query is built,
    // and the scalar total is an unbounded window over the binned relation,
    // not a cross join that would evaluate the histogram lineage twice
    val plans = executed(SparkEntry.queries("hist_deciles")(spark, TestSpark.sf0001).collect())
    val scans = plans.map(parquetScans).sum
    assert(scans == 1, s"expected 1 parquet scan node over the query's plans, got $scans")
  }

  test("shared fold: hist_linear, hist_log and hist_deciles each read their table in one scan") {
    val scans = new java.util.concurrent.atomic.AtomicInteger
    val counter = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (e.stageInfo.rddInfos.exists(_.name == "FileScanRDD")) scans.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(counter)
    try
      for (q <- Seq("hist_linear", "hist_log", "hist_deciles")) {
        ListenerBusDrain(spark.sparkContext)
        scans.set(0)
        SparkEntry.queries(q)(spark, TestSpark.sf0001).collect()
        ListenerBusDrain(spark.sparkContext)
        assert(scans.get == 1, s"$q: ${scans.get} parquet scan stages")
      }
    finally spark.sparkContext.removeSparkListener(counter)
  }

  test("hist_cut_bounds: one lineitem scan — the fold gives both the spec and the bin state") {
    val scans = new java.util.concurrent.atomic.AtomicInteger
    val counter = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (e.stageInfo.rddInfos.exists(_.name == "FileScanRDD")) scans.incrementAndGet()
    }
    ListenerBusDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(counter)
    try {
      SparkEntry.queries("hist_cut_bounds")(spark, TestSpark.sf0001).collect()
      ListenerBusDrain(spark.sparkContext)
      assert(scans.get == 1, s"${scans.get} parquet scan stages")
    } finally spark.sparkContext.removeSparkListener(counter)
  }

  test("q3: dims broadcast, timestamp predicates pushed, top-k avoids global sort") {
    val p = plan("q3_top_orders")
    assert(p.contains("BroadcastHashJoin"))
    assert(p.contains("TakeOrderedAndProject"))
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), GreaterThan(l_shipdate"))
  }

  test("q1: scan reads only the six referenced lineitem columns") {
    val p = plan("q1_pricing")
    assert(
      p.contains(
        "ReadSchema: struct<l_quantity:double,l_extendedprice:double,l_discount:double," +
          "l_tax:double,l_returnflag:string,l_linestatus:string,l_shipdate:timestamp"))
  }

  test("knn_cosine: broadcast query side + rank-limit pushdown") {
    val p = plan("knn_cosine")
    assert(p.contains("BroadcastNestedLoopJoin"))
    assert(p.contains("WindowGroupLimit"), "Spark 4 rank-limit pushdown expected")
    assert(p.contains("graft_cosine"), "native expression must appear in the plan")
  }

  test("dedup_embedding: balanced block-pair equi-join — no cartesian, no BNLJ") {
    // exact all-pairs on isotropic data is Θ(n²) by output size; the scale
    // property to pin is HOW the quadratic work is laid out: a shuffled
    // equi-join on block-pair keys (even tiles, spill-safe), never a
    // CartesianProduct / BroadcastNestedLoopJoin node
    val p = plan("dedup_embedding")
    assert(!p.contains("CartesianProduct"), "cartesian product in dedup_embedding plan")
    assert(!p.contains("BroadcastNestedLoopJoin"), "BNLJ in dedup_embedding plan")
    assert(p.contains("graft_cosine"), "codegen'd kernel must run inside the join")
  }

  test("dedup_embedding large-n route: banded candidate join, no all-pairs block kernel") {
    // above the size threshold nearDupPairs must route to the LSH
    // prefilter: the plan carries NO block-pair replication join (the
    // exact kernel's `pk` key never appears) and no cartesian/BNLJ —
    // candidate generation is the (band, bucket) equi-join
    import graft.operators.SimilarityOps
    import graft.sources.Tables
    val routed = SimilarityOps.nearDupPairs(
      Tables.embeddings(spark, TestSpark.sf0001), minCos = 0.4, maxExactVectors = 10)
    val p = routed.queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(!p.contains("pk#"), "block-pair all-pairs key in the routed plan")
    assert(!p.contains("CartesianProduct"), "cartesian in the routed plan")
    assert(!p.contains("BroadcastNestedLoopJoin"), "BNLJ in the routed plan")
  }

  test("dedup_exact: map-side partial aggregation before the exchange") {
    val p = plan("dedup_exact")
    val firstAgg = p.indexOf("HashAggregate")
    val exchange = p.indexOf("Exchange")
    assert(firstAgg >= 0 && exchange >= 0)
  }

  test("decontaminate: eval side broadcast — contamination check is a map-side probe") {
    val p = plan("decontaminate")
    assert(p.contains("BroadcastHashJoin"), "eval n-gram set must broadcast")
    graft.operators.DedupOps.releaseShingleCaches()
  }

  test("embed_kmeans: assignment broadcasts centroids; vectors never in a join exchange") {
    val p = plan("embed_kmeans")
    assert(p.contains("BroadcastNestedLoopJoin"), "k-row centroid relation must broadcast")
    assert(p.contains("graft_dot"), "codegen'd distance kernel must run in the projection")
    assert(!p.contains("CartesianProduct"), "no cartesian in the assignment plan")
    graft.operators.DedupOps.releaseShingleCaches()
  }

  test("stratified_sample: rank filter rewrites to WindowGroupLimit (map-side prune)") {
    val p = plan("stratified_sample")
    assert(p.contains("WindowGroupLimit"), "row_number <= k must prune before the exchange")
  }

  test("bm25_search: cached tf relation, heap top-k, no cartesian fan-out") {
    val p = plan("bm25_search")
    assert(p.contains("InMemoryTableScan"), "tf must be computed once and cached")
    assert(p.contains("TakeOrderedAndProject"), "global top-k must avoid a full sort")
    assert(!p.contains("CartesianProduct"), "stats joins must broadcast")
    graft.operators.DedupOps.releaseShingleCaches()
  }

  test("events_anomaly: per-type stats broadcast onto hourly cells") {
    val p = plan("events_anomaly")
    assert(p.contains("BroadcastHashJoin"), "stats relation (rows = #types) must broadcast")
    assert(!p.contains("sqrt"), "the 2-sigma gate is integer arithmetic, no sqrt in the plan")
  }

  test("dedup_minhash: no re-aggregation after the one signature aggregate") {
    // wide-signature LSH: banding is a projection, the estimate a
    // broadcast join — the only aggregations are the signature minima and
    // the candidate distinct; the estimate must NOT re-aggregate per seed
    val p = plan("dedup_minhash")
    assert(p.contains("BroadcastHashJoin"), "bounded candidate relation must broadcast")
    assert(!p.contains("SortMergeJoin"), "no sort-merge join in the LSH plan")
    graft.operators.DedupOps.releaseShingleCaches()
  }

  test("zorder_cells: interleave stays in one codegen projection over the scan") {
    val p = plan("zorder_cells")
    assert(p.contains("ReadSchema: struct<l_partkey:bigint,l_suppkey:bigint>"),
      "scan must prune to the two interleaved key columns")
    assert(p.contains("TakeOrderedAndProject"), "top-k cells must avoid a global sort")
  }

  test("contrastive_triplets: one window lineage, broadcast label successor") {
    val p = plan("contrastive_triplets")
    assert(p.contains("InMemoryTableScan"), "ranked relation must be computed once and cached")
    assert(!p.contains("CartesianProduct"), "no cartesian in the triplet plan")
    assert(p.contains("graft_cosine"), "margins must use the codegen'd kernel")
    graft.operators.DedupOps.releaseShingleCaches()
  }

  /** Round-8 invariant for the RankOps family: every rank window in the
    * plan must be partitioned by the machinery's bounded keys (`gr_tid`
    * target tag or `gr_bin` histogram bin) — never a bare group/corpus
    * window whose per-task input scales with the relation.
    */
  private def assertRankWindowsBounded(p: String, q: String): Unit = {
    val ws = """row_number\(\) windowspecdefinition\([^)]*""".r.findAllIn(p).toList
    assert(ws.nonEmpty, s"$q: expected at least one RankOps rank window in the plan")
    ws.foreach { w =>
      assert(w.contains("gr_tid") || w.contains("gr_bin"),
        s"$q: rank window not partitioned by a bounded RankOps key: $w")
    }
  }

  /** Round-9 invariant for RankOps' bounded-group literal path: the rank
    * machinery runs in the operator's OWN bounded passes (rank window over
    * boundary bins only — ntile-equivalence property-pinned in
    * RankOpsSpec), so the consumer's final plan must carry NO rank window
    * or ntile at all.
    */
  private def assertNoRankMachinery(p: String, q: String): Unit = {
    assert(!p.contains("ntile"), s"$q: ntile must not reappear")
    assert(!p.contains("row_number() windowspecdefinition"),
      s"$q: the literal cut path must leave no rank window in the consumer plan")
  }

  test("group_quantiles: cut keys are a LocalRelation — no rank machinery in the plan") {
    val p = plan("group_quantiles")
    assertNoRankMachinery(p, "group_quantiles")
    assert(p.contains("LocalTableScan") || p.contains("LocalRelation"),
      "quantile keys must arrive as a bounded LocalRelation")
  }

  test("zipf_slope: vocabulary ranks from RankOps — no vocab-scale window sort") {
    val p = plan("zipf_slope")
    assertRankWindowsBounded(p, "zipf_slope")
  }

  test("pmi_bigrams: heap top-k, count filter before the marginal joins") {
    val p = plan("pmi_bigrams")
    assert(p.contains("TakeOrderedAndProject"), "top-20 collocations must avoid a global sort")
    assert(!p.contains("CartesianProduct"), "marginal/total joins must not fan out")
    // the n_pair >= 5 filter must prune the pair relation BEFORE its first
    // join (marginals attach to the filtered relation only)
    val filterIdx = p.indexOf("(n_pair")
    assert(filterIdx >= 0, "count threshold filter missing from the plan")
  }

  test("zone_skipping: file ordinals from RankOps — no layout-scale window sort") {
    val p = plan("zone_skipping")
    assertRankWindowsBounded(p, "zone_skipping")
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_linenumber:int,l_shipdate:timestamp_ntz>"),
      "scan must prune to the three layout columns")
  }

  test("join_size_est: fixed-size sketch states join, corpus never forms a key relation twice") {
    val p = plan("join_size_est")
    assert(!p.contains("CartesianProduct"), "1-row combination must broadcast, not fan out")
  }

  test("split_leakage: rides the cached shingle relation, split is map-side") {
    val p = plan("split_leakage")
    assert(p.contains("InMemoryTableScan"), "must reuse the session shingle cache")
    // the split assignment is an expression over doc_id, not a join back to
    // the documents table: exactly one parquet scan (the shingle fill's)
    // appears OUTSIDE the cached subtree — the totals pass over doc_id only
    graft.operators.DedupOps.releaseShingleCaches()
  }

  test("doc_keywords: per-doc top-k prunes via WindowGroupLimit") {
    val p = plan("doc_keywords")
    assert(p.contains("WindowGroupLimit"), "rank<=k must pre-prune per map task")
  }

  test("label_outliers: per-label top-k prunes via WindowGroupLimit, centroids broadcast") {
    val p = plan("label_outliers")
    assert(p.contains("WindowGroupLimit"), "rank<=k must pre-prune per map task")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      "label-centroid relation must broadcast")
    graft.operators.DedupOps.releaseShingleCaches()
  }

  test("train_shuffle: md5-order head via TakeOrdered; the ord window sits on the head") {
    val p = plan("train_shuffle")
    val topk = p.indexOf("TakeOrderedAndProject")
    val win = p.indexOf("Window")
    assert(topk >= 0, "the shuffled head must be heap top-k, not a global sort")
    assert(win >= 0 && p.indexOf("TakeOrderedAndProject", win) >= 0,
      "the row_number window must consume the bounded top-k result")
  }

  test("winsorized_stats: thresholds from RankOps' literal path, no rank machinery") {
    val p = plan("winsorized_stats")
    assertNoRankMachinery(p, "winsorized_stats")
    graft.operators.DedupOps.releaseShingleCaches()
  }

  test("rfm_segments: no ntile, no window, no join — literal cut-key comparisons only") {
    // round 9: the quintile cut keys are derived in multiNtileCuts' own
    // bounded passes (rank window covered by RankOpsSpec) and reach this
    // plan as LITERALS — the scoring plan must be a pure scan → project →
    // aggregate, with no rank window, join, or exchange-feeding ntile left
    val p = plan("rfm_segments")
    assert(!p.contains("ntile"), "unpartitioned ntile over the customer aggregate must not reappear")
    assert(!p.toLowerCase.contains("window"), "scoring plan must carry no window at all")
    assert(!p.contains("Join"), "scoring plan must carry no join (cuts are literals)")
    graft.operators.DedupOps.releaseShingleCaches()
  }

  test("customer_balance_pct: no ntile/percent_rank; positions from bounded bin ranks") {
    val p = plan("customer_balance_pct")
    assert(!p.contains("ntile") && !p.contains("percent_rank"),
      "segment-partitioned rank functions must not reappear")
    assertRankWindowsBounded(p, "customer_balance_pct")
    graft.operators.DedupOps.releaseShingleCaches()
  }

  test("basket_pairs: top-k without global sort, marginals broadcast, pairs equi-join") {
    val p = plan("basket_pairs")
    assert(p.contains("TakeOrderedAndProject"), "top-20 pairs must avoid a global sort")
    assert(p.contains("BroadcastHashJoin"), "part marginals must broadcast onto the top-k")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin Inner"),
      "pair generation must be the orderkey equi-join, never a cross product")
    graft.operators.DedupOps.releaseShingleCaches()
  }

  test("dsir_weights: the fixed feature table broadcasts into the token stream") {
    val p = plan("dsir_weights")
    assert(p.contains("BroadcastHashJoin"),
      "the 256-row log-ratio table must broadcast — the token stream never shuffles for it")
    graft.operators.DedupOps.releaseShingleCaches()
  }

  test("q7_volume: nation pair filter pushed to the dims, ship-date range pushed to the scan") {
    val p = plan("q7_volume")
    assert(p.contains("In(n_name, [NATION_1,NATION_2])"),
      "nation-pair filter must reach the nation scans")
    assert(p.contains("GreaterThanOrEqual(l_shipdate"),
      "ship-date range must reach the lineitem scan")
  }

  test("profiler contrast: exact plan aggregates distinct values, HLL plan doesn't") {
    // the reason profile_approx is the 100 TB default: the exact profiler's
    // distinct aggregate shuffles one row per distinct (col, value) pair,
    // while the sketch shuffles <=256 registers per column
    assert(plan("profile_columns").toLowerCase.contains("distinct"))
    assert(!plan("profile_approx").toLowerCase.contains("distinct"))
  }

  test("graph_triangles: wedge join is an equi hash join — no cartesian, no BNLJ in the wedge stage") {
    val p = plan("graph_triangles")
    assert(!p.contains("CartesianProduct"), "wedge enumeration must not be a cross product")
    // the only BNLJ nodes are the three 1-row summary cross joins
    val bnlj = """(?m)^\(\d+\) BroadcastNestedLoopJoin""".r.findAllIn(p).length
    assert(bnlj <= 3, s"expected only the 1-row summary crosses, got $bnlj BNLJ nodes")
    graft.operators.DedupOps.releaseShingleCaches()
  }

  test("bloom_probe: set-bit state broadcasts into the probe join") {
    val p = plan("bloom_probe")
    // the probe-bits ⋈ state join must build on the broadcast ≤ m-row state
    assert(p.contains("BroadcastHashJoin"), "probe must hash-probe the broadcast state")
    assert(!p.contains("CartesianProduct"))
    graft.operators.DedupOps.releaseShingleCaches()
  }

  test("q21_waiting: both EXISTS gates execute as left_semi joins") {
    val p = plan("q21_waiting")
    val semis = """(?i)leftsemi""".r.findAllIn(p).length
    assert(semis >= 2, s"expected >= 2 semi joins (EXISTS + NOT-EXISTS gate), got $semis")
    graft.operators.DedupOps.releaseShingleCaches()
  }

  test("hist_equidepth: the bucket window consumes the cell AGGREGATE, not raw rows") {
    val p = plan("hist_equidepth")
    val windowIdx = p.indexOf("Window")
    assert(windowIdx > 0)
    assert(p.indexOf("HashAggregate") < windowIdx, "window must sit above the cell aggregation")
    graft.operators.DedupOps.releaseShingleCaches()
  }

  test("rfm_segments: one orders scan (ReuseExchange dedupes the shared customer aggregate)") {
    val p = plan("rfm_segments")
    val scans = """(?m)^\(\d+\) Scan parquet""".r.findAllIn(p).length
    assert(scans == 1, s"expected the customer aggregate to be computed from one scan, got $scans")
  }

  test("scd2_apply: exactly one full-outer join, generations from explode not a second pass") {
    val p = plan("scd2_apply")
    val fullOuter = """(?i)fullouter""".r.findAllIn(p).length
    assert(fullOuter >= 1, "the merge must be one full-outer key join")
    assert(p.contains("Generate"), "generations must come from the explode, not a union of passes")
    // two scans feed dim + changes; a union-of-actions rewrite would show more
    val scans = """(?m)^\(\d+\) Scan parquet""".r.findAllIn(p).length
    assert(scans == 2, s"expected 2 parquet scans (dim + changes), got $scans")
  }

  test("feature_corr: one scan, one aggregate pass, all-column IsNotNull pushed") {
    val p = plan("feature_corr")
    val scans = """(?m)^\(\d+\) Scan parquet""".r.findAllIn(p).length
    assert(scans == 1, s"all 15 sufficient stats must come from one scan, got $scans")
    assert(p.contains("PushedFilters: [IsNotNull(l_discount), IsNotNull(l_extendedprice), " +
      "IsNotNull(l_quantity), IsNotNull(l_tax)]"))
    assert(p.contains("Generate"), "pairs come from the explode of the 1-row aggregate")
  }

  test("skew_keys: cached count relation fills once, top-k avoids a global sort") {
    val p = plan("skew_keys")
    assert(p.contains("TakeOrderedAndProject"), "top-10 must be heap top-k")
    assert(p.contains("InMemoryRelation"), "the keyed count must be cached")
    val scans = """(?m)^\(\d+\) Scan parquet""".r.findAllIn(p).length
    assert(scans <= 1, s"the fact table must scan once into the cache, got $scans")
  }

  test("attribution: the carry-forward window sits on ONE user shuffle, no self-join") {
    val p = plan("attribution")
    assert(!p.contains("Join"), "attribution must not self-join events")
    val windows = """(?m)^\(\d+\) Window""".r.findAllIn(p).length
    assert(windows == 1, s"one carry-forward window expected, got $windows")
    val scans = """(?m)^\(\d+\) Scan parquet""".r.findAllIn(p).length
    assert(scans == 1, s"events must scan once, got $scans")
  }

  test("compaction_bins: window and bin aggregation share the partition exchange") {
    val p = plan("compaction_bins")
    val windowIdx = p.indexOf("Window")
    val aggIdx = p.indexOf("HashAggregate")
    assert(windowIdx > 0 && aggIdx >= 0 && aggIdx < windowIdx, // agg ABOVE window in tree order
      "the (part, bin) aggregation must consume the window output directly")
    val scans = """(?m)^\(\d+\) Scan parquet""".r.findAllIn(p).length
    assert(scans == 1)
  }

  test("drift_ks: ECDF windows consume the binned aggregate, never raw events") {
    val p = plan("drift_ks")
    val windowIdx = p.indexOf("Window")
    assert(windowIdx > 0)
    assert(p.indexOf("HashAggregate") < windowIdx, "window must sit above the bin aggregation")
  }

  test("rolling_7d: the RANGE frame runs over the per-day aggregate") {
    val p = plan("rolling_7d")
    // root-first tree: Window is the ROOT here (no post-window aggregate),
    // so the correct dataflow prints Window, then the day HashAggregate,
    // then the scan — window ancestor of aggregate ancestor of scan
    val windowIdx = p.indexOf("Window")
    val aggIdx = p.indexOf("HashAggregate")
    val scanIdx = p.indexOf("Scan parquet")
    assert(windowIdx > 0 && windowIdx < aggIdx && aggIdx < scanIdx,
      "window must consume the day aggregation, not raw events")
  }

  test("profile_columns: manual two-level distinct — no Expand over the melt, one scan") {
    val p = plan("profile_columns")
    // countDistinct mixed with plain aggregates rewrites through an Expand
    // that re-multiplies the ncols× melted relation before the exchange
    // (measured 2× on this query) — the manual groupBy(col,v)+fold shape
    // must keep the plan Expand-free
    assert(!p.contains("Expand"), "no Expand node in the profile plan")
    val scans = """(?m)^\(\d+\) Scan parquet""".r.findAllIn(p).length
    assert(scans == 1, s"expected 1 parquet scan, got $scans")
  }

  test("doc_lm_buckets: no global ntile; literal cut path; cache holds no sort") {
    val p = plan("doc_lm_buckets")
    // the tercile boundary ranking runs inside keysAtRanksBy's bounded
    // eager passes (RankOpsSpec property pins); the consumer plan carries
    // only the LocalRelation cut keys
    assertNoRankMachinery(p, "doc_lm_buckets")
    // the cached per-doc score relation must not freeze a corpus
    // orderBy(doc_id) sort into its materialization (round-7 fix): no Sort
    // node may appear inside the InMemoryRelation subtree
    val imrIdx = p.indexOf("InMemoryRelation")
    val planEnd = p.indexOf("== Initial Plan ==") match { case -1 => p.length; case i => i }
    if (imrIdx >= 0) {
      val cacheSection = p.substring(imrIdx, planEnd)
      // InMemoryRelation sections list their child plan up to the next
      // top-level node; a frozen sort prints as "Sort" directly within
      val firstCache = cacheSection.split("InMemoryTableScan").head
      assert(!firstCache.contains("+- Sort"), "cached score relation carries a frozen sort")
    }
  }

  test("score_auc: ECDF window consumes the binned aggregate, never raw vectors") {
    val p = plan("score_auc")
    val windowIdx = p.indexOf("Window")
    assert(windowIdx > 0)
    assert(p.indexOf("HashAggregate") < windowIdx, "window must sit above the bin aggregation")
    assert(!p.contains("CartesianProduct"), "stats relation must broadcast, not cartesian")
  }

  test("auc_by_source: per-group ECDF window sits above the (group, bin) aggregate") {
    val p = plan("auc_by_source")
    val windowIdx = p.indexOf("Window")
    assert(windowIdx > 0)
    assert(p.indexOf("HashAggregate") < windowIdx, "window must sit above the bin aggregation")
    assert(!p.contains("CartesianProduct"))
  }

  test("drift_psi / lift_curve / score_calibration: windows ride bounded aggregates") {
    for (q <- Seq("drift_psi", "lift_curve", "score_calibration")) {
      val p = plan(q)
      val windowIdx = p.indexOf("Window")
      assert(windowIdx > 0, s"$q: expected a window over the binned relation")
      // root-first print order: the bin aggregation must appear BELOW the
      // window (the window's input is the ≤ bins-row aggregate, not rows)
      assert(p.indexOf("HashAggregate", windowIdx) > windowIdx,
        s"$q: window must consume the bin aggregation")
    }
  }

  test("spend_gini: Lorenz window rides the bin aggregate above the customer rollup") {
    val p = plan("spend_gini")
    val windowIdx = p.indexOf("Window")
    assert(windowIdx > 0)
    assert(p.indexOf("HashAggregate", windowIdx) > windowIdx,
      "window must consume the bin aggregation, not customer rows")
    assert(!p.contains("CartesianProduct"))
  }

  test("psi_by_type: per-type totals window rides the (type, bin) aggregate") {
    val p = plan("psi_by_type")
    val windowIdx = p.indexOf("Window")
    assert(windowIdx > 0)
    assert(p.indexOf("HashAggregate", windowIdx) > windowIdx,
      "window must consume the bin aggregation, not raw events")
    assert(!p.contains("CartesianProduct"))
  }

  test("benford_audit: scan prunes to the price column; digit window over ≤9 rows") {
    val p = plan("benford_audit")
    assert(p.contains("ReadSchema: struct<l_extendedprice:double>"),
      "digit extraction must prune the scan to one column")
    val windowIdx = p.indexOf("Window")
    assert(windowIdx > 0 && p.indexOf("HashAggregate", windowIdx) > windowIdx)
  }

  test("score_kendall / auc_compare: prefix windows ride cell aggregates, no cartesian") {
    for (q <- Seq("score_kendall", "auc_compare")) {
      val p = plan(q)
      val windowIdx = p.indexOf("Window")
      assert(windowIdx > 0, s"$q: expected prefix-sum windows over the cell relation")
      // root-first print: the corpus-reducing aggregation appears BELOW
      // every window — windows only consume the bounded grid
      assert(p.indexOf("HashAggregate", windowIdx) > windowIdx,
        s"$q: window must consume the cell aggregation")
      assert(!p.contains("CartesianProduct"), s"$q: bounded relations must broadcast")
    }
  }

  test("rater_kappa: margin joins broadcast; no cartesian, no corpus rank window") {
    val p = plan("rater_kappa")
    assert(!p.contains("CartesianProduct"), "3-row margins must broadcast")
    // kappa consumes ntile buckets from broadcast cut keys — any Window
    // in the plan belongs to the bounded RankOps boundary pass, printed
    // below the contingency aggregation
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"))
  }

  test("topk_overlap / revenue_cusum: top-k via TakeOrderedAndProject, no global sort of raw rows") {
    for (q <- Seq("topk_overlap", "revenue_cusum")) {
      val p = plan(q)
      assert(p.contains("TakeOrderedAndProject"),
        s"$q: limits must plan as heap top-k, not Sort+Limit")
      assert(!p.contains("CartesianProduct"))
    }
  }

  test("session-3 audits: bounded-relation windows, no cartesian anywhere") {
    for (q <- Seq("split_balance", "rater_fleiss", "revenue_acf",
      "seasonal_decompose", "event_burstiness", "dup_rate_by_source",
      "volume_trend")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q: bounded relations must broadcast")
    }
  }

  test("revenue_acf / seasonal_decompose: lead/MA windows consume the day aggregate") {
    for (q <- Seq("revenue_acf", "seasonal_decompose")) {
      val p = plan(q)
      val windowIdx = p.indexOf("Window")
      assert(windowIdx > 0, s"$q: expected windows over the day grid")
      assert(p.indexOf("HashAggregate", windowIdx) > windowIdx,
        s"$q: window must consume the daily aggregation, not raw rows")
    }
  }

  test("vocab_coverage: head of the vocab via TakeOrderedAndProject, not a full sort") {
    val p = plan("vocab_coverage")
    assert(p.contains("TakeOrderedAndProject"),
      "the 10k head must be heap top-k over the vocab relation")
    assert(!p.contains("CartesianProduct"))
  }

  test("rater_fleiss: one flat aggregation computes all sufficient stats — no explode") {
    val p = plan("rater_fleiss")
    // the when-flag category counts are projections; the only Generate
    // allowed is the RankOps long-form cut pass below the final agg
    val finalAgg = p.indexOf("HashAggregate")
    assert(finalAgg > 0)
    assert(!p.contains("CartesianProduct"))
  }

  test("late session-3 audits: no cartesian product anywhere") {
    for (q <- Seq("weighted_median", "weighted_quantiles", "cluster_ari",
      "cluster_nmi", "cluster_silhouette", "conversion_lag", "region_hhi",
      "doc_signal_corr", "entropy_rate")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q: bounded relations must broadcast")
    }
  }

  test("weighted_quantiles: boundary windows consume the weight histogram, not raw docs") {
    val p = plan("weighted_quantiles")
    val windowIdx = p.indexOf("Window")
    assert(windowIdx > 0)
    assert(p.indexOf("HashAggregate", windowIdx) > windowIdx,
      "windows must sit above the per-bin/per-value aggregations")
  }

  test("region_hhi: all three dims broadcast into the lineitem probe") {
    val p = plan("region_hhi")
    assert(p.contains("BroadcastHashJoin"), "geo dims must broadcast")
    assert(!p.contains("SortMergeJoin"), "no SMJ for fixed-size dims")
  }

  test("events_ewma: join-free, windows share one user_id partitioning") {
    val p = plan("events_ewma")
    assert(!p.contains("Join"), "EWMA is one keyed window pass, no join")
    // both windows partition by user_id: one hash exchange, plus the final
    // rangepartitioning for orderBy — never a third
    val exchanges = """(?m)^\(\d+\) Exchange""".r.findAllIn(p).length
    assert(exchanges <= 2, s"one user_id hash + one final range, got $exchanges:\n$p")
  }

  test("heavy_hitters: candidate verify joins by broadcast, never SMJ/cartesian") {
    val p = plan("heavy_hitters")
    assert(p.contains("BroadcastHashJoin"), "bounded candidate set must broadcast")
    assert(!p.contains("SortMergeJoin"))
    assert(!p.contains("CartesianProduct"))
  }

  test("fusion/conformal queries: bounded relations broadcast, no cartesian") {
    for (q <- Seq("hybrid_rrf", "conformal_threshold", "conformal_by_label", "skew_spend")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q: bounded relations must broadcast")
    }
  }

  test("knn_pq: codebooks and distance tables broadcast into the code stream") {
    val p = plan("knn_pq")
    assert(p.contains("BroadcastHashJoin"), "ADC lookup must be a broadcast hash join")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("SortMergeJoin"), "nothing in PQ justifies a sort-merge")
  }

  test("conformal_state/_by + heavy_hitters_mg: bounded state relations, no cartesian fan-out") {
    // the streaming-state readouts window over <= bins-row bin-count
    // relations and the MG verify joins a <= k-row candidate broadcast —
    // nothing in these plans may fan out or sort raw data globally
    for (q <- Seq("conformal_state", "conformal_state_by", "heavy_hitters_mg")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q: bounded relations must broadcast")
      assert(!p.contains("BroadcastNestedLoopJoin Inner"), s"$q")
    }
  }

  test("attribution_markov: journey windows share one user_id partitioning, no cartesian") {
    // the distributed leg is the transition reduction: truncation window +
    // lag window + open-end aggregate all keyed on user_id; the chain
    // solve consumes the bounded count relation on the driver
    import graft.operators.AttributionOps
    import graft.sources.Tables
    val p = AttributionOps.transitionCounts(Tables.events(spark, TestSpark.sf0001))
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
    val exchanges = """(?m)^\(\d+\) Exchange""".r.findAllIn(p).length
    assert(exchanges <= 3, s"user_id windows + final count agg only, got $exchanges:\n$p")
  }

  test("time-series queries: day-grid reductions, no cartesian, no SMJ") {
    for (q <- Seq("revenue_forecast", "revenue_theilsen", "revenue_anomaly", "forecast_backtest")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q")
      assert(!p.contains("SortMergeJoin"), s"$q: bounded day grid must broadcast")
    }
  }

  test("skew_spend: two-stage salted aggregation is join-free") {
    val p = plan("skew_spend")
    assert(!p.contains("Join"))
    val aggs = """(?m)^\(\d+\) HashAggregate""".r.findAllIn(p).length
    assert(aggs >= 3, s"partial+final per stage expected, got $aggs")
  }

  test("decision/governance/retrieval wave: bounded relations broadcast, no cartesian") {
    for (q <- Seq(
        "ab_cuped", "ab_power", "ab_fdr", "ab_stratified", "score_isotonic",
        "survival_logrank", "return_rates_eb", "kfold_audit", "sample_ladder",
        "delete_audit", "knn_ndcg", "semantic_modularity", "embed_intrinsic_dim",
        "pq_recall")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q: bounded relations must broadcast")
    }
  }
}
