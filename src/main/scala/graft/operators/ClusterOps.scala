package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Connected components over an undirected pair graph — the step a real
  * dedup pipeline runs AFTER pairwise near-dup detection: pairs → duplicate
  * CLUSTERS → one survivor per cluster.
  *
  * Algorithm: iterative smallest-label propagation (the relational form of
  * HashToMin / GraphX's connectedComponents): every node starts labeled
  * with its own id; each round, a node adopts the minimum label among
  * itself and its neighbors; fixpoint when no label changes. Rounds needed
  * = component diameter — near-dup clusters are small and dense (diameter
  * 1-3), so the loop is a handful of shuffle joins even at corpus scale,
  * each one an equi-join on node id with map-side-combinable min
  * aggregation. The driver holds only the per-round change counter.
  *
  * Labels are persisted per round and released as soon as the next round
  * is materialized (no lineage growth across iterations).
  */
object ClusterOps {

  /** `nodes(id)`, `edges(a_id, b_id)` → `(id, cluster_id)` where
    * cluster_id = the minimum node id in the component (singletons map to
    * themselves). Deterministic.
    */
  def connectedComponents(nodes: DataFrame, edges: DataFrame, maxIter: Int = 50): DataFrame = {
    // materialize the pair lineage ONCE: the edge relation is tiny (one row
    // per near-dup pair) but its lineage (the pairwise-similarity join) is
    // the expensive part — the symmetrized union would otherwise evaluate
    // it twice, and every iteration would re-trigger it
    val e = DedupOps.registerCache(edges.persist(StorageLevel.MEMORY_AND_DISK))
    e.count()
    val sym = e
      .select(col("a_id").as("src"), col("b_id").as("dst"))
      .union(e.select(col("b_id").as("src"), col("a_id").as("dst")))
    // labels start as ALL nodes (singletons included). The tempting
    // alternative — iterate over edge-touched nodes only and left-join
    // singletons back at the end — was measured SLOWER at sf0.1
    // (PERF.md "Round 4 (later): session-memoized jaccard pair
    // relation": rounds 0.67+1.20 s + 1.72 s final join vs
    // 0.41+0.58+0.40 s this way): the extra corpus-wide join and the
    // distinct-over-edges gen0 lineage cost more than iterating the full
    // 5000-row label relation ever did. At cluster scale the trade can
    // reverse (per-round shuffles shrink to the duplicate subgraph), but
    // each round here is one id-keyed equi-join with map-side-combinable
    // min — O(corpus) per round with a small constant and ≤ diameter+1
    // rounds, which is already scan-bound, not shuffle-bound.
    var labels = nodes
      .select(col("id"), col("id").as("lbl"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var iter = 0
    var changed = 1L
    while (changed > 0 && iter < maxIter) {
      val nbrMin = sym
        .join(labels.select(col("id").as("src"), col("lbl")), Seq("src"))
        .groupBy(col("dst").as("id"))
        .agg(min(col("lbl")).as("nlbl"))
      // one action per round: the next generation carries its predecessor
      // label, so the convergence check reads the same cached relation
      val next = labels
        .join(nbrMin, Seq("id"), "left")
        .select(
          col("id"),
          least(col("lbl"), coalesce(col("nlbl"), col("lbl"))).as("lbl"),
          col("lbl").as("prev"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      changed = next.filter(col("lbl") =!= col("prev")).count()
      labels.unpersist(blocking = false)
      labels = next
      iter += 1
    }
    // the final generation must STAY cached until the caller materializes
    // the result (its parents were unpersisted each round); registered for
    // the harness-level release like the shingle caches
    DedupOps.registerCache(labels)
    // fail fast rather than return silently-wrong intermediate labels: a
    // component with diameter > maxIter has not converged (near-dup
    // clusters are diameter 1-3; hitting this means the graph isn't one)
    if (changed > 0)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds " +
          s"($changed labels still changing); raise maxIter")
    labels.select(col("id"), col("lbl").as("cluster_id")).orderBy(col("id"))
  }

  /** Near-dup clusters over documents: nodes = every doc, edges = the
    * n-gram Jaccard pairs at `minJaccard`. Output `(doc_id, cluster_id)`.
    *
    * The CONVERGED label relation is memoized for the session (same
    * lifecycle as [[DedupOps.jaccardPairs]]' pair memo): `dedup_clusters`,
    * `dedup_survivors`, and any later consumer of the same
    * (docs, n, minJaccard) reuse one fixpoint instead of re-running the
    * per-round propagate+count loop per query.
    */
  def nearDupClusters(docs: DataFrame, n: Int, minJaccard: Double): DataFrame =
    DedupOps.sessionRelation(docs, s"nearDupClusters:$n:$minJaccard")(
      connectedComponents(
        docs.select(col("doc_id").as("id")),
        DedupOps.jaccardPairs(docs, n, minJaccard).select(col("a_id"), col("b_id")))
        .select(col("id").as("doc_id"), col("cluster_id")))

  /** Survivor selection — the final step of the dedup pipeline: per
    * near-dup cluster keep ONE document under a deterministic policy
    * (longest text wins, doc_id breaks ties — the "keep the most complete
    * copy" rule). Output one row per cluster:
    * `(cluster_id, cluster_size, survivor_id, survivor_nchars, n_removed)`.
    *
    * Scale shape: clusters come from the iterative min-label propagation
    * (bounded rounds, near-dup graphs have diameter 1-3); the policy rank
    * is one window shuffle keyed by cluster_id, and the rank-1 filter
    * prunes map-side (WindowGroupLimit) before the summary aggregate.
    */
  /** Integer-exact PageRank over the near-dup pair graph — "which
    * documents sit at the center of a duplication cluster" (the docs a
    * curation pass inspects first). Ranks live in integer nano-units:
    * teleport T = 10⁹ DIV n, update r′ = (15·T + 85·Σ_in (r_src DIV
    * deg_src)) DIV 100 — every step is BIGINT arithmetic, so the result
    * is partition-order-independent and bit-identical in the DuckDB
    * oracle's unrolled iterations (documented integer variant of the
    * 0.85-damped walk; DIV truncation loses ≤ 1 nano per term).
    *
    * Scale shape: same as every iteration here — edges persist once,
    * each round is one join + keyed aggregation; rounds are fixed (the
    * rank ORDER stabilizes in a few iterations on near-dup graphs, whose
    * components have diameter 1-3).
    */
  def pagerank(
      nodes: DataFrame,
      edges: DataFrame,
      iterations: Int = 3): DataFrame = {
    // cache the SYMMETRIZED edge relation before deriving anything from it
    // — deg and every iteration read the cache; deriving deg from the raw
    // lineage would re-evaluate the (expensive) pair join per consumer
    // Materialize the EXPENSIVE inputs once, then keep the fixed-count
    // rank recurrence lazy. Measured at sf0.1 (PERF.md "Round 4: the
    // dedup_pagerank plan", idle host): the lazy depth-3 chain over
    // warm caches runs in ~0.65 s as
    // ONE job, vs ~3.5 s for per-generation persist+count round-trips —
    // at a FIXED small iteration count the per-round cache writes and
    // actions are pure overhead. (Contrast connectedComponents, whose
    // VARIABLE round count needs a per-round convergence action anyway.)
    // The r3 19.6 s pathology was never laziness itself: the edge cache
    // was declared but never FILLED before the multi-consumer rank tree
    // ran, so concurrent stages raced down the un-cached pair-join
    // lineage, re-evaluating it per consumer.
    //
    // raw (not the symmetrized union) is what materializes: filling a
    // cached union would evaluate the pair-join lineage once per branch.
    //
    // round 15 (guide §3.3/§5, truncate the plan): the fixed-count rank
    // recurrence nests every input's lineage `iterations` deep, and with
    // persist() the cached relations still CARRY that lineage — the final
    // logical tree measured 1.5 MB of formatted plan, and the warm cost
    // was driver-side analysis/optimization of that tree (profiled: 17
    // stages totalling ~0.3 s of kernels inside a ~1.7 s rep).
    // localCheckpoint() materializes the same three tiny relations but
    // hands the recurrence a LogicalRDD stub, so the per-rep plan is a
    // few KB and planning time drops with it. Re-materialization per call
    // is cheap: `edges` reads the session-memoized pair relation, and the
    // other two are |E|- and |V|-row projections of it.
    //
    // Also round 15 (guide §2.4, share work across iterations): the
    // e ⋈ deg join is ITERATION-INVARIANT — checkpoint the joined
    // (src, dst, deg) relation once and the loop body drops from two
    // joins to one (one fewer exchange + AQE planning round per
    // iteration; at cluster scale the join was per-iteration work over
    // the full edge relation, so hoisting helps there too).
    val raw = edges.localCheckpoint()
    val e = raw
      .select(col("a_id").as("src"), col("b_id").as("dst"))
      .union(raw.select(col("b_id").as("src"), col("a_id").as("dst")))
    val eDeg = e
      .join(e.groupBy(col("src")).agg(count(lit(1)).as("deg")), Seq("src"))
      .localCheckpoint()
    val tele = expr("CAST(1000000000 AS BIGINT) DIV n_nodes")
    val n = nodes.select(col("id")).distinct()
    val withT = n
      .crossJoin(broadcast(n.agg(count(lit(1)).as("n_nodes"))))
      .select(col("id"), tele.as("t"))
      .localCheckpoint()
    var ranks = withT.select(col("id"), col("t").as("r"))
    for (_ <- 0 until iterations) {
      val inflow = eDeg
        .join(ranks.select(col("id").as("src"), col("r")), Seq("src"))
        .select(col("dst").as("id"), expr("r DIV deg").as("contrib"))
        .groupBy(col("id"))
        .agg(sum(col("contrib")).as("inflow"))
      ranks = withT
        .join(inflow, Seq("id"), "left")
        .select(
          col("id"),
          expr("(15 * t + 85 * coalesce(inflow, CAST(0 AS BIGINT))) DIV 100").as("r"))
    }
    ranks.select(col("id"), col("r").as("rank_nano"))
  }

  /** Top-k documents by near-dup-graph PageRank. */
  def nearDupPagerank(docs: DataFrame, n: Int, minJaccard: Double, k: Int = 20): DataFrame =
    pagerank(
      docs.select(col("doc_id").as("id")),
      DedupOps.jaccardPairs(docs, n, minJaccard).select(col("a_id"), col("b_id")))
      .select(col("id").as("doc_id"), col("rank_nano"))
      .orderBy(col("rank_nano").desc, col("doc_id"))
      .limit(k)

  /** Exact triangle count + global clustering coefficient over an
    * undirected edge set `(u, v)` with `u < v`, distinct.
    *
    * Algorithm: degree-ordered orientation (Schank & Wagner 2005; the
    * MapReduce form is Suri & Vassilvitskii 2011's "node-iterator++") —
    * orient every edge from its lower-(degree, id) endpoint to the
    * higher, enumerate wedges by self-joining oriented edges on their
    * source, and close each wedge against the undirected edge set. Each
    * triangle is counted exactly once (at its unique lowest-ordered
    * vertex), and the wedge fan-out per node is C(outdeg, 2) where the
    * orientation bounds outdeg by O(√|E|) on ANY graph — the skew guard
    * that makes the self-join feasible at 100 TB (a hub vertex's million
    * neighbors otherwise generate 10¹² wedges; oriented, a hub emits
    * almost none because nearly all its edges point inward).
    *
    * One output row: `(n_nodes, n_edges, n_wedges, n_triangles,
    * clustering)` with `clustering = 3·triangles / wedges` (wedges =
    * Σ C(deg, 2), integer-exact) rounded to 6.
    */
  def triangleCount(edges: DataFrame): DataFrame = {
    val e = DedupOps.registerCache(
      edges.select(col("u"), col("v")).persist(StorageLevel.MEMORY_AND_DISK))
    val deg = DedupOps.registerCache(
      e.select(col("u").as("n")).union(e.select(col("v").as("n")))
        .groupBy(col("n")).agg(count(lit(1)).as("deg"))
        .persist(StorageLevel.MEMORY_AND_DISK))
    val uLower = col("du") < col("dv") || (col("du") === col("dv") && col("u") < col("v"))
    val oriented = e
      .join(deg.select(col("n").as("u"), col("deg").as("du")), Seq("u"))
      .join(deg.select(col("n").as("v"), col("deg").as("dv")), Seq("v"))
      .select(
        when(uLower, col("u")).otherwise(col("v")).as("src"),
        when(uLower, col("v")).otherwise(col("u")).as("dst"))
    val wedges = oriented.as("e1")
      .join(oriented.as("e2"),
        col("e1.src") === col("e2.src") && col("e1.dst") < col("e2.dst"))
      .select(col("e1.dst").as("a"), col("e2.dst").as("b"))
    val tri = wedges
      .join(e, col("u") === least(col("a"), col("b")) &&
        col("v") === greatest(col("a"), col("b")), "left_semi")
      .agg(count(lit(1)).as("n_triangles"))
    val stats = deg.agg(
      count(lit(1)).as("n_nodes"),
      sum(expr("deg * (deg - 1) div 2")).as("n_wedges"))
    val ec = e.agg(count(lit(1)).as("n_edges"))
    stats
      .crossJoin(broadcast(ec))
      .crossJoin(broadcast(tri))
      .select(
        col("n_nodes"), col("n_edges"), col("n_wedges"), col("n_triangles"),
        round(lit(3.0) * col("n_triangles").cast("double") /
          col("n_wedges").cast("double"), 6).as("clustering"))
  }

  def nearDupSurvivors(docs: DataFrame, n: Int, minJaccard: Double): DataFrame = {
    val clusters = nearDupClusters(docs, n, minJaccard)
    val ranked = clusters
      .join(docs.select(col("doc_id"), col("n_chars")), Seq("doc_id"))
      .withColumn("rk",
        row_number().over(
          Window.partitionBy(col("cluster_id"))
            .orderBy(col("n_chars").desc, col("doc_id"))))
    ranked
      .groupBy(col("cluster_id"))
      .agg(
        count(lit(1)).as("cluster_size"),
        max(when(col("rk") === 1, col("doc_id"))).as("survivor_id"),
        max(when(col("rk") === 1, col("n_chars"))).as("survivor_nchars"),
        (count(lit(1)) - 1).as("n_removed"))
      .orderBy(col("cluster_id"))
  }

  /** Newman modularity of a node partition over an undirected edge list:
    * `Q = within/m − Σ_c deg_c² / (4m²)` — how much more of the edge
    * mass falls inside the clusters than a degree-preserving random
    * graph would put there. Q > 0: the partition captures the graph's
    * structure (e.g. semantic clusters concentrating near-dup edges);
    * Q ≈ 0: edges ignore the partition.
    *
    * `edges` is one row per undirected edge `(a_id, b_id)`; `labels`
    * maps node → `cid`. Exact integer edge/degree sums (DECIMAL(38,0)
    * for the squared degrees); the Q projection is the only float.
    * Scale shape: two broadcast label joins onto the edge stream, one
    * keyed degree aggregation bounded by the cluster count. Output: one
    * row `(m, n_clusters, within_edges, q_modularity)`.
    */
  def modularity(edges: DataFrame, labels: DataFrame): DataFrame = {
    val dbl = (c: org.apache.spark.sql.Column) => c.cast("double")
    val lab = DedupOps.registerCache(
      edges
        .select(col("a_id"), col("b_id"))
        .join(broadcast(labels.select(col("node").as("a_id"), col("cid").as("ca"))), Seq("a_id"))
        .join(broadcast(labels.select(col("node").as("b_id"), col("cid").as("cb"))), Seq("b_id"))
        .persist(StorageLevel.MEMORY_AND_DISK))
    val mw = lab.agg(
      count(lit(1)).as("m"),
      sum(when(col("ca") === col("cb"), 1L).otherwise(0L)).as("within_edges"))
    val sq = lab
      .select(col("ca").as("cid"))
      .unionByName(lab.select(col("cb").as("cid")))
      .groupBy(col("cid"))
      .agg(count(lit(1)).as("deg"))
      .agg(
        count(lit(1)).as("n_clusters"),
        sum(col("deg").cast("decimal(38,0)") * col("deg").cast("decimal(38,0)"))
          .cast("bigint").as("sdeg2"))
    mw.crossJoin(broadcast(sq))
      .select(
        col("m"), col("n_clusters"), col("within_edges"),
        round(
          dbl(col("within_edges")) / dbl(col("m")) -
            dbl(col("sdeg2")) / (lit(4.0) * dbl(col("m")) * dbl(col("m"))),
          6).as("q_modularity"))
  }
}
