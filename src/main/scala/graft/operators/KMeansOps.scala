package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.functions.{GraftFunctions, PortableHash}

/** Distributed Lloyd k-means over an embedding column — the clustering
  * step of corpus curation (topic bucketing, diversity sampling, IVF
  * coarse-quantizer training).
  *
  * Determinism design: embeddings are quantized to integer micro-units
  * (`round(x·10⁶)` kept in doubles), so every distance, partial sum, and
  * centroid component is an integer exactly representable in IEEE double —
  * additions are exact in ANY order, making results independent of
  * partitioning and bit-identical in the DuckDB oracle (which unrolls the
  * same iterations). Seeds come from the portable hash, centroid updates
  * truncate toward zero — both reproducible cross-engine. |x·10⁶| ≤ ~6·10⁵
  * for the unit-ish corpus, so squared distances stay ≤ ~10¹⁴ < 2⁵³;
  * inertia is summed as BIGINT (can exceed 2⁵³ over the corpus).
  *
  * Scale shapes: assignment is a broadcast nested-loop against the k-row
  * centroid relation projected to THIN (vec_id, cid, dist) rows before the
  * exchange — the vectors themselves never shuffle; per-vector arg-min is
  * a map-side-combinable `min(struct(dist, cid))`; centroid update is one
  * posexplode + keyed aggregation (n·dim rows, 8-byte values). The driver
  * holds no vectors — centroids stay a (persisted, k-row) DataFrame.
  */
object KMeansOps {

  val Scale = 1e6

  /** Corpus-size ceiling for FULL-corpus Lloyd training (round-12 verdict
    * #1). Below it, [[fitCentroids]] fits on every vector — the exact,
    * oracle-matched path. Above it (plan-time estimate AND memoized
    * confirmed count, the [[SimilarityOps.nearDupPairs]] discipline), the
    * fit runs on a deterministic hash-rate sample of ~[[SampleFactor]]·k
    * vectors and only the FINAL assignment/encoding pays the full corpus —
    * removing the O(n·k·d·iters) full-corpus build that was the engine's
    * last superlinear index cost. 10⁵ matches [[SimilarityOps
    * .MaxExactVectors]]: the same "no longer a small corpus" line, far
    * above every oracle scale so routed and exact paths never mix there.
    */
  val MaxFullFitVectors: Long = 100000L

  /** Sampled-fit size target per centroid: ~256 training vectors per
    * cluster, the conventional k-means sample sizing used by IVF/PQ
    * codebook trainers (Jégou et al. 2011 train on bounded samples; FAISS
    * documents 39–256 points per centroid as the useful band). The fit
    * cost becomes O(k²·256·d·iters) — independent of the corpus.
    */
  val SampleFactor: Int = 256

  /** Training-sample row target for a k-centroid fit. */
  def sampleTarget(k: Int): Long = SampleFactor.toLong * k

  /** The sampled-fit routing decision, factored pure so specs can pin both
    * branches without constructing a 10⁵-row corpus: route when the
    * confirmed corpus count exceeds both the ceiling and the sample target
    * (a "sample" as large as the corpus would be the full fit with extra
    * steps).
    */
  def shouldSampleFit(nConfirmed: Long, k: Int, maxFullFit: Long = MaxFullFitVectors): Boolean =
    nConfirmed > maxFullFit && nConfirmed > sampleTarget(k)

  /** Deterministic hash-rate training sample over a quantized corpus:
    * keep vectors whose portable hash lands in a 1-in-`every` residue
    * class, `every = ⌊n / sampleTarget(k)⌋` — ONE codegen filter over the
    * (already persisted) corpus, no top-k heap, no global sort, expected
    * size ~[[sampleTarget]]. Membership depends only on `vec_id` and the
    * confirmed count, so the routed fit is reproducible cross-run and
    * cross-engine.
    */
  def trainingSample(vecs: DataFrame, k: Int, nConfirmed: Long): DataFrame = {
    val every = math.max(1L, nConfirmed / sampleTarget(k))
    vecs.filter(
      pmod(
        PortableHash.hash60(concat(lit("kms:"), col("vec_id").cast("string"))),
        lit(every)) === 0)
  }

  /** Plan-time vector-count estimate — [[SimilarityOps.estimatedVectors]]
    * (one estimator, one row-size assumption to maintain); the cheap
    * first read of the route, confirmed by an exact memoized count
    * before any behavior changes (estimates can be garbage-high for
    * derived relations, and a bad estimate must never silently swap the
    * exact fit for a sampled one).
    */
  private def estimatedVectors(embeddings: DataFrame): Double =
    SimilarityOps.estimatedVectors(embeddings)

  private def confirmedVectors(rel: DataFrame): Long =
    DedupOps.sessionValue(rel, "kmConfirmedVectors") { rel.count() }

  /** Quantized corpus `(vec_id, vi: array<double> of exact micro-ints,
    * vv = <vi,vi>)`, persisted (read once per iteration).
    */
  def quantize(embeddings: DataFrame): DataFrame =
    DedupOps.registerCache(
      embeddings
        .select(
          col("vec_id"),
          transform(col("embedding").cast("array<double>"), x => round(x * lit(Scale)))
            .as("vi"))
        .withColumn("vv", GraftFunctions.dot(col("vi"), col("vi")))
        .persist(StorageLevel.MEMORY_AND_DISK))

  /** Deterministic seeds: the k vectors with the smallest
    * `(hash60("km:" vec_id), vec_id)` — a top-k (`TakeOrderedAndProject`,
    * no global sort), then cluster ids 0..k-1 in that order.
    */
  def seeds(vecs: DataFrame, k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("hk"), col("vec_id")) // k rows only — single partition is fine
    vecs
      .withColumn(
        "hk",
        PortableHash.hash60(concat(lit("km:"), col("vec_id").cast("string"))))
      .orderBy(col("hk"), col("vec_id"))
      .limit(k)
      .withColumn("cid", row_number().over(w) - 1)
      .select(col("cid"), col("vi").as("ci"))
  }

  /** Per-vector nearest centroid: `(vec_id, cid, dist)` with
    * dist = ‖v−c‖² in micro² units (exact), ties broken on cid.
    */
  def assign(vecs: DataFrame, cents: DataFrame): DataFrame = {
    val c = broadcast(
      cents.withColumn("cc", GraftFunctions.dot(col("ci"), col("ci"))))
    vecs
      .crossJoin(c)
      .select(
        col("vec_id"),
        col("cid"),
        (col("vv") + col("cc") - lit(2) * GraftFunctions.dot(col("vi"), col("ci")))
          .as("dist"))
      .groupBy(col("vec_id"))
      .agg(min(struct(col("dist"), col("cid"))).as("m"))
      .select(col("vec_id"), col("m.cid").as("cid"), col("m.dist").as("dist"))
  }

  /** Recompute centroids from an assignment: per-dimension integer mean
    * truncated toward zero (empty clusters drop out, as in the oracle).
    */
  def update(vecs: DataFrame, best: DataFrame): DataFrame =
    vecs
      .join(best.select(col("vec_id"), col("cid")), Seq("vec_id"))
      .select(col("cid"), posexplode(col("vi")))
      .groupBy(col("cid"), col("pos"))
      .agg((sum(col("col")) / count(lit(1))).cast("long").cast("double").as("comp"))
      .groupBy(col("cid"))
      .agg(
        transform(
          sort_array(collect_list(struct(col("pos"), col("comp")))),
          s => s.getField("comp")).as("ci"))

  /** KEYED seeds: [[seeds]] independently within every `s` group of one
    * relation — `ksub` seed vectors per key from a single window pass
    * (Spark rewrites the rank-limit filter to WindowGroupLimit, so map
    * tasks pre-prune to k rows per key before the exchange). Because the
    * seed order is `(hash60("km:" vec_id), vec_id)` — independent of `s` —
    * the per-key seeds are bit-identical to running [[seeds]] on each key's
    * slice separately. Input `(vec_id, s, vi)`; output `(s, cid, ci)`.
    */
  def seedsBy(vecs: DataFrame, k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("s"))
      .orderBy(col("hk"), col("vec_id"))
    vecs
      .withColumn(
        "hk",
        PortableHash.hash60(concat(lit("km:"), col("vec_id").cast("string"))))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("s"), (col("rn") - 1).as("cid"), col("vi").as("ci"))
  }

  /** KEYED assignment: [[assign]] within every `s` group in ONE pass — the
    * centroid relation `(s, cid, ci)` carries all keys' codebooks (≤ keys·k
    * rows, broadcast), the join is an equi-join on `s`, and the arg-min
    * groups by `(vec_id, s)`. Identical math per key to the unkeyed form.
    * Input `(vec_id, s, vi, vv)`; output `(vec_id, s, cid, dist)`.
    */
  def assignBy(vecs: DataFrame, cents: DataFrame): DataFrame = {
    val c = broadcast(
      cents.withColumn("cc", GraftFunctions.dot(col("ci"), col("ci"))))
    vecs
      .join(c, Seq("s"))
      .select(
        col("vec_id"),
        col("s"),
        col("cid"),
        (col("vv") + col("cc") - lit(2) * GraftFunctions.dot(col("vi"), col("ci")))
          .as("dist"))
      .groupBy(col("vec_id"), col("s"))
      .agg(min(struct(col("dist"), col("cid"))).as("m"))
      .select(col("vec_id"), col("s"), col("m.cid").as("cid"), col("m.dist").as("dist"))
  }

  /** KEYED centroid update: [[update]] within every `s` group in ONE
    * keyed aggregation (`(s, cid, pos)` grouping — same truncated integer
    * mean). Input vecs `(vec_id, s, vi)`, best `(vec_id, s, cid)`; output
    * `(s, cid, ci)`.
    */
  def updateBy(vecs: DataFrame, best: DataFrame): DataFrame =
    vecs
      .join(best.select(col("vec_id"), col("s"), col("cid")), Seq("vec_id", "s"))
      .select(col("s"), col("cid"), posexplode(col("vi")))
      .groupBy(col("s"), col("cid"), col("pos"))
      .agg((sum(col("col")) / count(lit(1))).cast("long").cast("double").as("comp"))
      .groupBy(col("s"), col("cid"))
      .agg(
        transform(
          sort_array(collect_list(struct(col("pos"), col("comp")))),
          x => x.getField("comp")).as("ci"))

  /** Run `iters` Lloyd iterations (assign → update, final pass assign
    * only) and return the final assignment `(vec_id, cid, dist)`.
    * Centroid relations are materialized per round (k rows) so iteration
    * lineage never re-evaluates prior assignments.
    */
  def fitAssign(embeddings: DataFrame, k: Int, iters: Int): DataFrame =
    assign(quantize(embeddings), fitCentroids(embeddings, k, iters))

  /** Final trained centroid relation `(cid, ci)` after `iters − 1` update
    * rounds — the codebook [[fitAssign]]'s last pass assigns against,
    * exposed for consumers that PROBE the trained quantizer (trained IVF:
    * [[graft.operators.SimilarityOps.knnIvfTrained]]). Same caching
    * discipline as the fit loops: each round's k-row relation persists so
    * iteration lineage never re-evaluates prior assignments, and Spark's
    * plan-keyed CacheManager shares the rounds with any concurrent fit
    * over the same corpus/config.
    *
    * SIZE-ROUTED (round-12 verdict #1): when the corpus exceeds
    * `maxFullFitVectors` (plan-time estimate, then a memoized exact count
    * confirms — a garbage-high estimate never reroutes), Lloyd trains on
    * a deterministic ~[[sampleTarget]]-vector hash sample instead of the
    * full corpus, so index BUILD cost is O(k²·[[SampleFactor]]·d·iters),
    * corpus-independent. The returned codebook differs from the full fit
    * (it is a trained quantizer either way — quality is gated by
    * `ivf_recall`, not bit-equality), which is why the ceiling sits far
    * above every oracle scale: below it the fit is bit-identical to the
    * unrouted form. The route announces itself via
    * [[graft.core.RouteLog.costRoute]].
    */
  def fitCentroids(
      embeddings: DataFrame,
      k: Int,
      iters: Int,
      maxFullFitVectors: Long = MaxFullFitVectors): DataFrame = {
    require(iters >= 1)
    val vecs = quantize(embeddings)
    // SIZE-ROUTED TRAINING (round-12 verdict #1): an over-ceiling
    // plan-time estimate triggers one memoized exact count; only a
    // CONFIRMED over-ceiling corpus trains on the bounded hash sample.
    // Consumers (knnIvfTrained list assignment, pqAdc encoding) still pay
    // the full corpus exactly once — against the sample-trained codebook.
    val fitVecs =
      if (estimatedVectors(embeddings) > maxFullFitVectors.toDouble &&
          shouldSampleFit(confirmedVectors(vecs), k, maxFullFitVectors)) {
        val n = confirmedVectors(vecs)
        graft.core.RouteLog.costRoute(
          "fitCentroids.sampledFit",
          s"n=$n > $maxFullFitVectors (k=$k) — training on ~${sampleTarget(k)}-vector " +
            "hash sample; full corpus pays only the final assignment/encoding")
        DedupOps.registerCache(
          trainingSample(vecs, k, n).persist(StorageLevel.MEMORY_AND_DISK))
      } else vecs
    var cents = DedupOps.registerCache(seeds(fitVecs, k).persist(StorageLevel.MEMORY_AND_DISK))
    cents.count()
    for (_ <- 1 until iters) {
      cents = DedupOps.registerCache(
        update(fitVecs, assign(fitVecs, cents)).persist(StorageLevel.MEMORY_AND_DISK))
      cents.count()
    }
    cents
  }

  /** Simplified silhouette per cluster — cohesion vs separation with
    * CENTROID distances standing in for mean pairwise distances
    * (Hruschka et al.'s simplified silhouette: s = (b − a)/max(a, b)
    * with a = ‖v − c_own‖², b = min over other centroids — the O(n·k)
    * form of the O(n²) statistic, the only one that scales). Distances
    * are the fit's exact integer micro² values; per-vector s is
    * integer-nano quantized before the cluster mean (merge-order-free).
    * Output per cluster, ordered: `(cluster_id, n_vecs,
    * mean_silhouette)`.
    */
  def silhouetteSummary(embeddings: DataFrame, k: Int, iters: Int): DataFrame = {
    val vecs = quantize(embeddings)
    val c = broadcast(
      fitCentroids(embeddings, k, iters)
        .withColumn("cc", GraftFunctions.dot(col("ci"), col("ci"))))
    def dists = vecs.crossJoin(c).select(
      col("vec_id"), col("cid"),
      (col("vv") + col("cc") - lit(2) * GraftFunctions.dot(col("vi"), col("ci")))
        .as("dist"))
    val best = dists.groupBy(col("vec_id"))
      .agg(min(struct(col("dist"), col("cid"))).as("m"))
      .select(col("vec_id"), col("m.cid").as("acid"), col("m.dist").as("a"))
    val sv = dists.join(best, Seq("vec_id"))
      .filter(col("cid") =!= col("acid"))
      .groupBy(col("vec_id"))
      .agg(max(col("acid")).as("acid"), max(col("a")).as("a"),
        min(col("dist")).as("b"))
      .select(col("acid"),
        round(
          when(greatest(col("a"), col("b")) > 0.0,
            (col("b") - col("a")) / greatest(col("a"), col("b")))
            .otherwise(0.0) * lit(1e9)).cast("long").as("s_nano"))
    sv.groupBy(col("acid"))
      .agg(count(lit(1)).as("n_vecs"), sum(col("s_nano")).as("sn"))
      .select(col("acid").as("cluster_id"), col("n_vecs"),
        round(col("sn").cast("double") / col("n_vecs").cast("double") / lit(1e9), 6)
          .as("mean_silhouette"))
      .orderBy(col("cluster_id"))
  }

  /** [[fitAssign]] summarized: `(cluster_id, n_vecs, inertia)` per
    * surviving cluster.
    */
  def fitSummary(embeddings: DataFrame, k: Int, iters: Int): DataFrame =
    fitAssign(embeddings, k, iters)
      .groupBy(col("cid").as("cluster_id"))
      .agg(
        count(lit(1)).as("n_vecs"),
        sum(col("dist").cast("long")).as("inertia"))
      .orderBy(col("cluster_id"))

  /** Prototypicality pruning (SSL-prototypes, Sorscher et al. 2022,
    * arXiv:2206.14486): rank each vector within its cluster by distance to
    * the centroid and keep the `keepNum/keepDen` fraction CLOSEST to it —
    * pruning the hardest/outlier examples (for abundant data the paper
    * inverts the rule; the rank machinery is the same). Output per
    * cluster: `(cluster_id, n_vecs, n_keep, kept_dist, pruned_dist)` with
    * the exact integer micro-space distance sums on each side of the cut.
    *
    * Determinism: distances are exact integers ([[fitAssign]]), the
    * in-cluster rank breaks ties on `vec_id`, and the keep count is
    * integer arithmetic (`DIV`, floored, min 1). Scale: the rank window
    * partitions by cluster id — cluster size is ~n/k, and k grows with the
    * corpus (the [[graft.operators.SimilarityOps.semanticDedup]]
    * argument), so no unpartitioned window ever sees corpus-scale rows.
    */
  def prototypeSummary(
      embeddings: DataFrame,
      k: Int,
      iters: Int,
      keepNum: Int = 3,
      keepDen: Int = 4): DataFrame = {
    require(keepNum > 0 && keepDen > 0 && keepNum <= keepDen)
    val assigned = fitAssign(embeddings, k, iters)
    val ranked = assigned
      .withColumn(
        "rk",
        row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("cid"))
            .orderBy(col("dist"), col("vec_id"))))
      .withColumn("n_vecs", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("cid"))))
      .withColumn(
        "n_keep",
        greatest(lit(1L), expr(s"(n_vecs * $keepNum) DIV $keepDen")))
    ranked
      .groupBy(col("cid").as("cluster_id"))
      .agg(
        first(col("n_vecs")).as("n_vecs"),
        first(col("n_keep")).as("n_keep"),
        sum(when(col("rk") <= col("n_keep"), col("dist").cast("long")).otherwise(0L))
          .as("kept_dist"),
        sum(when(col("rk") > col("n_keep"), col("dist").cast("long")).otherwise(0L))
          .as("pruned_dist"))
      .orderBy(col("cluster_id"))
  }

  /** Per-label centroid-distance outliers — the distance view of mislabel
    * detection (complements [[SimilarityOps.labelNoise]]'s k-NN view):
    * each label's centroid in exact integer micro-space (the same
    * truncated-mean arithmetic as [[update]]), each member's squared
    * distance to its OWN label's centroid, and the `topK` farthest
    * members per label — the vectors to re-inspect first.
    *
    * Scale shape: one posexplode aggregation for the centroids (k·dim
    * rows — label-bounded), centroids broadcast back, distances in one
    * codegen projection via the dot kernel, and the per-label top-k is a
    * `row_number <= k` filter — Spark rewrites it to WindowGroupLimit,
    * so every map task pre-prunes to k rows per label before the window
    * exchange (the stratified_sample pattern, never a per-label sort of
    * the corpus landing in one task).
    */
  def labelOutliers(embeddings: DataFrame, topK: Int = 3): DataFrame = {
    val vl = quantize(embeddings)
      .join(embeddings.select(col("vec_id"), col("label")), Seq("vec_id"))
    val cents = vl
      .select(col("label"), posexplode(col("vi")))
      .groupBy(col("label"), col("pos"))
      .agg((sum(col("col")) / count(lit(1))).cast("long").cast("double").as("comp"))
      .groupBy(col("label"))
      .agg(
        transform(
          sort_array(collect_list(struct(col("pos"), col("comp")))),
          s => s.getField("comp")).as("ci"))
    val c = broadcast(cents.withColumn("cc", GraftFunctions.dot(col("ci"), col("ci"))))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("label"))
      .orderBy(col("dist").desc, col("vec_id"))
    vl.join(c, Seq("label"))
      .select(
        col("label"),
        col("vec_id"),
        (col("vv") + col("cc") - lit(2) * GraftFunctions.dot(col("vi"), col("ci")))
          .cast("long").as("dist"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= topK)
      .select(col("label"), col("rk"), col("vec_id"), col("dist"))
      .orderBy(col("label"), col("rk"))
  }
}
