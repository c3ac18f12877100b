package graft.operators

import java.util.stream.IntStream

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

import graft.functions.{GraftFunctions, PortableHash}

/** Lloyd k-means over an embedding column — the clustering step of
  * corpus curation (topic bucketing, diversity sampling, IVF
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
  * Fit shape: one Spark job brings the training set to the driver — at
  * most `L = max(maxFullFitVectors, sampleTarget(k))` vectors, checked
  * against the real row count the same job returns — and the Lloyd rounds
  * run there as an exact fold ([[lloyd]]). Because the arithmetic is
  * exact, the fold yields the same bits as the distributed
  * seeds/assign/update formulation, with no job per round. The driver
  * holds at most that bounded training set (above `L`, a deterministic
  * hash sample of ~[[sampleTarget]] to 2·[[sampleTarget]] vectors) and
  * returns the codebook as a k-row local relation. Corpus-scale work stays
  * distributed: [[assign]] is a broadcast nested-loop against the codebook
  * projected to THIN (vec_id, cid, dist) rows before the exchange — the
  * vectors themselves never shuffle; per-vector arg-min is a
  * map-side-combinable `min(struct(dist, cid))`.
  */
object KMeansOps {

  val Scale = 1e6

  /** Corpus-size ceiling for FULL-corpus Lloyd training (round-12 verdict
    * #1). Below it, [[fitCentroids]] fits on every vector — the exact,
    * oracle-matched path. Above it (the exact row count the training
    * collect returns), the fit runs on a deterministic hash-rate sample of
    * ~[[SampleFactor]]·k vectors and only the FINAL assignment/encoding
    * pays the full corpus — removing the O(n·k·d·iters) full-corpus build
    * that was the engine's last superlinear index cost. 10⁵ matches
    * [[SimilarityOps.MaxExactVectors]]: the same "no longer a small
    * corpus" line, far above every oracle scale so routed and exact paths
    * never mix there.
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
    * keep a vector when its portable hash mod `n` falls below
    * [[sampleTarget]] — ONE codegen filter over the (already persisted)
    * corpus, no top-k heap, no global sort, expected size
    * `min(n, sampleTarget(k))` for every `n`. Membership depends only on
    * `vec_id` and the confirmed count, so the routed fit is reproducible
    * cross-run and cross-engine.
    */
  def trainingSample(vecs: DataFrame, k: Int, nConfirmed: Long): DataFrame =
    vecs.filter(
      pmod(
        PortableHash.hash60(concat(lit("kms:"), col("vec_id").cast("string"))),
        lit(math.max(1L, nConfirmed))) < sampleTarget(k))

  /** Quantized corpus `(vec_id, vi: array<double> of exact micro-ints,
    * vv = <vi,vi>)`, persisted (read by the training collect and again by
    * the final assignment).
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

  /** One collected training vector: its id, its seed-order hash
    * `hash60("km:" vec_id)`, and its quantized components — `null` for a
    * null embedding and NaN for a null component, both rejected on the
    * driver with the vec_id named ([[seedOrdered]]).
    */
  private[graft] final class TrainVec(val vecId: Long, val hk: Long, val vi: Array[Double])
      extends Serializable

  private def readVec(r: InternalRow): TrainVec = {
    require(!r.isNullAt(0), "k-means training row has a null vec_id")
    val vi =
      if (r.isNullAt(2)) null
      else {
        val a = r.getArray(2)
        val out = new Array[Double](a.numElements())
        var i = 0
        while (i < out.length) {
          out(i) = if (a.isNullAt(i)) Double.NaN else a.getDouble(i)
          i += 1
        }
        out
      }
    new TrainVec(r.getLong(0), r.getLong(1), vi)
  }

  /** Up to `limit` training vectors of a quantized relation plus its exact
    * row count, from ONE Spark job: each of the P partitions ships at most
    * ⌊limit/P⌋ + 1 vectors and only counts the rest, so the driver never
    * receives more than limit + P vectors whatever the corpus size. Returns
    * `(null, n)` when n > limit. A partition holding more than its share of
    * an under-limit corpus (skew) is re-read whole in a second job — still
    * n ≤ limit vectors in all.
    */
  private def collectBounded(vecs: DataFrame, limit: Long): (Array[TrainVec], Long) = {
    val rdd = vecs
      .select(
        col("vec_id").cast("long"),
        PortableHash.hash60(concat(lit("km:"), col("vec_id").cast("string"))),
        col("vi"))
      .queryExecution
      .toRdd
    val sc = vecs.sparkSession.sparkContext
    val share = (math.min(limit / math.max(1, rdd.getNumPartitions), Int.MaxValue - 1L) + 1).toInt
    val parts = sc.runJob(rdd, (it: Iterator[InternalRow]) => {
      val kept = new ArrayBuffer[TrainVec]
      var n = 0L
      while (it.hasNext) {
        val r = it.next()
        if (n < share) kept += readVec(r)
        n += 1
      }
      (kept.toArray, n)
    })
    val n = parts.iterator.map(_._2).sum
    if (n > limit) (null, n)
    else {
      val skewed = parts.indices.filter(i => parts(i)._2 > parts(i)._1.length)
      val whole =
        if (skewed.isEmpty) Map.empty[Int, Array[TrainVec]]
        else
          skewed.zip(sc.runJob(rdd, (it: Iterator[InternalRow]) => it.map(readVec).toArray, skewed)).toMap
      (parts.indices.flatMap(i => whole.getOrElse(i, parts(i)._1)).toArray, n)
    }
  }

  private val SeedOrder: java.util.Comparator[TrainVec] = (a: TrainVec, b: TrainVec) => {
    val c = java.lang.Long.compare(a.hk, b.hk)
    if (c != 0) c else java.lang.Long.compare(a.vecId, b.vecId)
  }

  /** `rows` sorted into seed order `(hk, vec_id)` — the first k are the
    * seeds — after rejecting what the distributed arg-min would silently
    * mis-rank: a null embedding, a null or non-finite component (its
    * distance is null or NaN), a ragged length (the dot kernel reads the
    * common prefix), or a repeated vec_id (the arg-min groups by it).
    */
  private def seedOrdered(rows: Array[TrainVec]): Array[TrainVec] = {
    def reject(r: TrainVec, what: String) =
      throw new IllegalArgumentException(s"k-means training vector vec_id=${r.vecId} $what")
    val sorted = rows.clone()
    java.util.Arrays.sort(sorted, SeedOrder)
    for (i <- sorted.indices) {
      val r = sorted(i)
      if (r.vi == null) reject(r, "has a null embedding")
      if (!r.vi.forall(java.lang.Double.isFinite))
        reject(r, "has a null or non-finite component")
      if (r.vi.length != sorted(0).vi.length)
        reject(r, s"has ${r.vi.length} components, vec_id=${sorted(0).vecId} has " +
          s"${sorted(0).vi.length} (ragged embeddings)")
      if (i > 0 && sorted(i - 1).vecId == r.vecId) reject(r, "appears more than once")
    }
    sorted
  }

  /** The training set of a k-centroid fit over the quantized `vecs`, in
    * seed order. One bounded collect reads up to `L = max(maxFullFitVectors,
    * sampleTarget(k))` vectors and the exact count n; n ≤ L is the full,
    * oracle-matched fit. Above it ([[shouldSampleFit]] — the same
    * contract), `announce(n)` names the route and the fit trains on the
    * [[trainingSample]] instead, collected in one more job.
    */
  private[graft] def trainingSet(vecs: DataFrame, k: Int, maxFullFitVectors: Long)(
      announce: Long => Unit): Array[TrainVec] = {
    val (head, n) = collectBounded(vecs, math.max(maxFullFitVectors, sampleTarget(k)))
    val rows =
      if (shouldSampleFit(n, k, maxFullFitVectors)) {
        announce(n)
        collectBounded(trainingSample(vecs, k, n), Long.MaxValue)._1
      } else head
    seedOrdered(rows)
  }

  /** Rows per fold chunk, at least; a fit over fewer vectors runs on one
    * thread. */
  private val MinChunkRows = 1024

  /** Lloyd k-means on the driver over vectors in seed order: seeds are the
    * first k, then `iters − 1` rounds of assign (arg-min by `(dist, cid)`,
    * dist = ⟨v,v⟩ + ⟨c,c⟩ − 2⟨v,c⟩ with each dot left-to-right, as the
    * `graft_dot` kernel sums) and update (per-coordinate `(Σ/n)` truncated
    * toward zero; empty clusters drop out). Returns `(cid, ci)` by cid.
    *
    * Each round splits the vectors into fixed chunks over the driver's
    * cores and merges the chunks' partial sums in chunk order. The
    * integer-micro arithmetic is exact, so any merge order gives the same
    * bits; the fixed order just makes that plain.
    */
  private[graft] def lloyd(vs: Array[Array[Double]], k: Int, iters: Int): Array[(Int, Array[Double])] = {
    require(iters >= 1)
    var cents = Array.tabulate(math.max(0, math.min(k, vs.length)))(i => (i, vs(i)))
    for (_ <- 1 until iters if cents.nonEmpty) cents = lloydRound(vs, cents)
    cents
  }

  private def dotAt(v: Array[Double], c: Array[Double], off: Int): Double = {
    var acc = 0.0
    var t = 0
    while (t < v.length) {
      acc += v(t) * c(off + t)
      t += 1
    }
    acc
  }

  private def lloydRound(
      vs: Array[Array[Double]],
      cents: Array[(Int, Array[Double])]): Array[(Int, Array[Double])] = {
    val kc = cents.length
    val d = cents(0)._2.length
    val flat = new Array[Double](kc * d)
    val cc = new Array[Double](kc)
    for (j <- 0 until kc) {
      System.arraycopy(cents(j)._2, 0, flat, j * d, d)
      cc(j) = dotAt(cents(j)._2, flat, j * d)
    }
    val cores = Runtime.getRuntime.availableProcessors()
    val chunk = math.max(MinChunkRows, (vs.length + cores - 1) / cores)
    val nChunks = (vs.length + chunk - 1) / chunk
    val sums = Array.fill(nChunks)(new Array[Double](kc * d))
    val counts = Array.fill(nChunks)(new Array[Long](kc))
    IntStream.range(0, nChunks).parallel().forEach { (c: Int) =>
      val s = sums(c)
      val cnt = counts(c)
      var i = c * chunk
      val end = math.min(vs.length, i + chunk)
      while (i < end) {
        val v = vs(i)
        val vv = dotAt(v, v, 0)
        // arg-min by (dist, cid) in Spark's double order: NaN sorts last
        var best = 0
        var bestDist = (vv + cc(0)) - 2.0 * dotAt(v, flat, 0)
        var j = 1
        while (j < kc) {
          val dist = (vv + cc(j)) - 2.0 * dotAt(v, flat, j * d)
          if (!dist.isNaN && (bestDist.isNaN || dist < bestDist)) {
            best = j
            bestDist = dist
          }
          j += 1
        }
        cnt(best) += 1
        val o = best * d
        var t = 0
        while (t < d) {
          s(o + t) += v(t)
          t += 1
        }
        i += 1
      }
    }
    val total = sums(0)
    val n = counts(0)
    for (c <- 1 until nChunks; i <- total.indices) total(i) += sums(c)(i)
    for (c <- 1 until nChunks; j <- n.indices) n(j) += counts(c)(j)
    (0 until kc).filter(n(_) > 0).map { j =>
      (cents(j)._1, Array.tabulate(d)(t => (total(j * d + t) / n(j).toDouble).toLong.toDouble))
    }.toArray
  }

  /** A codebook as a local relation — `(cid, ci)`, or `(s, cid, ci)` when
    * keyed by subspace — so consumers broadcast it with no persist and no
    * `count()` to fill one.
    */
  private[graft] def codebook(
      spark: SparkSession,
      cents: Seq[(Int, Array[(Int, Array[Double])])],
      keyed: Boolean): DataFrame = {
    val key = if (keyed) Seq(StructField("s", IntegerType, nullable = false)) else Nil
    val schema = StructType(key ++ Seq(
      StructField("cid", IntegerType, nullable = false),
      StructField("ci", ArrayType(DoubleType, containsNull = true))))
    val rows = for ((s, cs) <- cents; (cid, ci) <- cs)
      yield if (keyed) Row(s, cid, ci) else Row(cid, ci)
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  /** Run `iters` Lloyd iterations (assign → update, final pass assign
    * only) and return the final assignment `(vec_id, cid, dist)` over the
    * whole corpus.
    */
  def fitAssign(embeddings: DataFrame, k: Int, iters: Int): DataFrame =
    assign(quantize(embeddings), fitCentroids(embeddings, k, iters))

  /** Final trained centroid relation `(cid, ci)` after `iters − 1` update
    * rounds — the codebook [[fitAssign]]'s last pass assigns against,
    * exposed for consumers that PROBE the trained quantizer (trained IVF:
    * [[graft.operators.SimilarityOps.knnIvfTrained]]). One Spark job reads
    * the training set ([[trainingSet]]); the rounds are the driver fold
    * [[lloyd]]; the codebook returns as a local relation.
    *
    * SIZE-ROUTED (round-12 verdict #1): when the corpus exceeds
    * `max(maxFullFitVectors, sampleTarget(k))` (the exact count the
    * training collect returns), Lloyd trains on a deterministic
    * ~[[sampleTarget]]-vector hash sample instead of the full corpus, so
    * index BUILD cost is O(k²·[[SampleFactor]]·d·iters),
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
    val train = trainingSet(quantize(embeddings), k, maxFullFitVectors) { n =>
      graft.core.RouteLog.costRoute(
        "fitCentroids.sampledFit",
        s"n=$n > $maxFullFitVectors (k=$k) — training on ~${sampleTarget(k)}-vector " +
          "hash sample; full corpus pays only the final assignment/encoding")
    }
    codebook(embeddings.sparkSession, Seq(0 -> lloyd(train.map(_.vi), k, iters)), keyed = false)
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
    * truncated-mean arithmetic as [[lloyd]]'s update), each member's squared
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
