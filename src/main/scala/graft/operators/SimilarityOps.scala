package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{GraftFunctions, PortableHash}

/** Approximate-nearest-neighbor / similarity search over an embedding
  * column (SURVEY §7.6).
  *
  * Three search paths:
  *  - [[knnBruteForce]]: exact top-k by cosine — broadcast the (small) query
  *    set against the corpus; the cosine kernel is the codegen'd native
  *    expression [[graft.functions.CosineSimilarity]]. O(|Q|·N) but
  *    embarrassingly parallel and shuffle-free until the per-query top-k
  *    window (keyed by query id — bounded state).
  *  - [[knnLsh]]: random-hyperplane LSH — sign-bit bucket join, then exact
  *    cosine only within buckets. Sub-quadratic candidate generation via an
  *    equi-join on bucket id.
  *  - [[knnIvf]]: inverted-file coarse quantizer — probe-list equi-join,
  *    O(N·nprobe/nlist) per query.
  *
  * Requires GraftFunctions.register on the session (SparkEntry.tune).
  */
object SimilarityOps {

  /** Normalize the corpus: `(vec_id, emb: array<double>)`. */
  def corpus(embeddings: DataFrame): DataFrame =
    embeddings.select(
      col("vec_id"),
      col("embedding").cast("array<double>").as("emb"))

  /** Exact top-k cosine neighbors for each query vector. Cosines are
    * rounded to 6 decimals *before* ranking so the ordering is reproducible
    * across engines; ties break on candidate id.
    * Output: `(q_id, c_id, rank, cos)`.
    */
  def knnBruteForce(queries: DataFrame, candidates: DataFrame, k: Int): DataFrame = {
    val q = queries.toDF("q_id", "q_emb")
    // Round 14 NOTE: a Spread.respread of the candidate side was tried and
    // REVERTED on measurement — quiet-host warm time was a wash (0.58 s
    // either way: this kernel is only ~0.35 s single-task, under the
    // respread profitability floor) and the extra 32-task stage is MORE
    // ambient-noise-sensitive than the fused scan (closing record reps
    // 0.85-1.04 vs the 0.58 baseline under ~1.3× ambient). Contrast
    // knnBruteForceL2, whose heavier kernel keeps its respread.
    val c = candidates.toDF("c_id", "c_emb")
    val pairs = broadcast(q)
      .crossJoin(c)
      .filter(col("q_id") =!= col("c_id"))
      .select(
        col("q_id"),
        col("c_id"),
        round(GraftFunctions.cosine(col("q_emb"), col("c_emb")), 6).as("cos"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("c_id"))
    pairs
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("c_id"), col("rank"), col("cos"))
      .orderBy(col("q_id"), col("rank"))
  }

  /** Deterministic pseudo-random hyperplane `p` for dimension `dim`:
    * components are `(hash60("h:p:i") mod 10^6)/10^6 − 0.5` — derived from
    * the portable md5 hash at PLAN time, so the identical literal vector is
    * reproducible in the DuckDB oracle (SimilarityQueries builds its list
    * literal from [[planeInts]], the single source of truth), with zero
    * per-row hashing at runtime.
    */
  def planeInts(p: Int, dim: Int): Array[Long] =
    graft.functions.LshPlanes.planeInts(p, dim)

  def planeVector(p: Int, dim: Int): Array[Double] =
    graft.functions.LshPlanes.planeVector(p, dim)

  /** Sign-bit LSH bucket id from `numPlanes` hyperplanes of dimension
    * `dim`. The projection runs through the codegen'd [[GraftFunctions.dot]]
    * kernel against literal plane vectors; the sign test rounds to 6
    * decimals first so bucket assignment is cross-engine stable (a raw
    * double comparison could flip on a 1-ulp dot-product difference).
    */
  def lshBucket(emb: Column, numPlanes: Int, dim: Int): Column = {
    val bits = (0 until numPlanes).map { p =>
      val proj = round(GraftFunctions.dot(emb, typedlit(planeVector(p, dim).toSeq)), 6)
      when(proj > 0, lit(1L << p)).otherwise(0L)
    }
    bits.reduce(_ + _)
  }

  /** LSH configuration advisor: bucket-occupancy statistics for several
    * plane counts from ONE projection pass — the planning query run
    * before committing to an ANN config. Because plane `p`'s bit is
    * always `2^p`, the bucket id under `p` planes is the max-plane bucket
    * masked to its low `p` bits, so every candidate configuration derives
    * from one `maxPlanes`-projection scan (the corpus is never
    * re-projected per config). Per plane count: buckets used, the largest
    * bucket (the skew/hot-bucket bound), and the average candidate-list
    * size a query meets (`Σc²/n` — including itself), which is exactly
    * the per-query work `knnLsh` would do at that setting.
    *
    * Σc² runs in DECIMAL(38,0): at 10¹⁰ vectors a near-degenerate bucket
    * makes c² overflow BIGINT.
    */
  def lshTuning(
      embeddings: DataFrame,
      dim: Int,
      planeCounts: Seq[Int]): DataFrame = {
    require(planeCounts.nonEmpty, "need at least one plane count")
    val maxP = planeCounts.max
    val b = corpus(embeddings).select(lshBucket(col("emb"), maxP, dim).as("bmax"))
    val exploded = b.select(explode(array(planeCounts.sorted.map { p =>
      struct(
        lit(p).as("planes"),
        col("bmax").bitwiseAND(lit((1L << p) - 1)).as("bucket"))
    }: _*)).as("x"))
      .select(col("x.planes").as("planes"), col("x.bucket").as("bucket"))
    exploded
      .groupBy(col("planes"), col("bucket"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("planes"))
      .agg(
        count(lit(1)).as("n_buckets_used"),
        max(col("c")).as("max_bucket"),
        sum(col("c")).as("n_vecs"),
        sum((col("c").cast("decimal(38,0)") * col("c")).cast("decimal(38,0)"))
          .as("sum_sq"))
      .select(
        col("planes"),
        col("n_buckets_used"),
        col("max_bucket"),
        round(col("sum_sq").cast("double") / col("n_vecs").cast("double"), 6)
          .as("avg_candidates"))
      .orderBy(col("planes"))
  }

  /** LSH-bucketed ANN: exact cosine within same-bucket candidates only.
    * Same output shape as [[knnBruteForce]]; recall < 1 by construction
    * (tested against the brute-force oracle in SimilaritySpec; the exact
    * candidate set is reproduced by the DuckDB oracle).
    */
  def knnLsh(
      queries: DataFrame,
      candidates: DataFrame,
      k: Int,
      numPlanes: Int,
      dim: Int): DataFrame = {
    val q = queries
      .toDF("q_id", "q_emb")
      .withColumn("bucket", lshBucket(col("q_emb"), numPlanes, dim))
    val c = candidates
      .toDF("c_id", "c_emb")
      .withColumn("bucket", lshBucket(col("c_emb"), numPlanes, dim))
    val pairs = q
      .join(c, Seq("bucket"))
      .filter(col("q_id") =!= col("c_id"))
      .select(
        col("q_id"),
        col("c_id"),
        round(GraftFunctions.cosine(col("q_emb"), col("c_emb")), 6).as("cos"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("c_id"))
    pairs
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("c_id"), col("rank"), col("cos"))
      .orderBy(col("q_id"), col("rank"))
  }

  /** Two-stage retrieval: SQ8-quantized integer-dot prefilter + exact
    * cosine rerank — the production memory-bound ANN shape (scan the
    * 1-byte-per-dim codes, fetch full vectors only for the shortlist).
    *
    * Stage 1 quantizes every vector to uint8 codes (per-dim min/max
    * scaling, the [[graft.operators.TrainsetOps.quantizeEmbeddings]]
    * scheme), scores (query, candidate) with the COSINE OF THE
    * RECONSTRUCTIONS `x̂_i = mn_i + (code_i + ½)·rg_i/255` (symmetric SQ8
    * scoring — raw code dots would drop the per-dim affine and rank
    * poorly), and keeps the top `rerank` per query; stage 2 fetches the
    * full vectors for the shortlist ONLY (two id-keyed joins) and reranks
    * by exact cosine. Codes, reconstructions, and both rankings are
    * bit-deterministic cross-engine (rounded-6 scores, c_id tie-break);
    * with `rerank ≥ |candidates|` the output equals [[knnBruteForce]]
    * exactly (SimilaritySpec pins both properties, plus shortlist
    * recall).
    *
    * Scale shape: at rest and across the wire a production deployment
    * ships the 1-byte-per-dim codes (8× smaller than the fp64 vectors;
    * the reconstruction is a scan-time expansion — here both stages live
    * in one plan, so it expands before the broadcast); full vectors cross
    * a join only for |Q|·rerank rows. Per-dim stats are a bounded
    * driver-side read (dim rows), session-memoized like the rank
    * machinery's cut keys.
    */
  def knnRerank(
      queries: DataFrame,
      candidates: DataFrame,
      k: Int,
      rerank: Int,
      maxExactVectors: Long = MaxExactVectors): DataFrame = {
    val c = candidates.toDF("c_id", "c_emb")
    val q = queries.toDF("q_id", "q_emb")
    // per-dim (min, range) of the CANDIDATE corpus — dim rows, driver-side
    val stats: Seq[(Double, Double)] = DedupOps.sessionValue(c, "knnRerank:stats") {
      c.select(posexplode(col("c_emb")).as(Seq("dim", "v")))
        .groupBy(col("dim"))
        .agg(min(col("v")).as("mn"), max(col("v")).as("mx"))
        .orderBy(col("dim"))
        .collect()
        .map(r => (r.getDouble(1), r.getDouble(2) - r.getDouble(1)))
        .toSeq
    }
    val mins = typedlit(stats.map(_._1))
    val rngs = typedlit(stats.map(_._2))
    // uint8 code per dim, expanded to the reconstruction the symmetric
    // SQ8 score compares (scored by the native cosine kernel, codegen'd)
    def recon(emb: Column): Column =
      zip_with(emb, sequence(lit(1), lit(stats.size)), (x, i) => {
        val mn = element_at(mins, i)
        val rg = element_at(rngs, i)
        // clamp BOTH ends: stats come from the candidate corpus, so an
        // out-of-distribution query component below the per-dim min would
        // otherwise produce a negative code outside the uint8 domain
        val code =
          when(rg === 0.0, 0.0)
            .otherwise(greatest(lit(0.0), least(lit(255.0), floor((x - mn) * 255.0 / rg))))
        mn + (code + lit(0.5)) * rg / lit(255.0)
      })
    val qc = broadcast(q.select(col("q_id"), recon(col("q_emb")).as("qc")))
    // SIZE-ROUTED COARSE STAGE (round-13 verdict #3 / round 14): the
    // default coarse scorer is the |Q|·N SQ8 cross join — exact and fine
    // at oracle scale, but the one ANN family member a 10⁹-vector corpus
    // could enter without a route. Above `maxExactVectors` (plan-time
    // estimate, CONFIRMED by the memoized exact count — the nearDupPairs
    // discipline), candidate pairs come from the trained IVF coarse
    // quantizer instead (the knnIvfTrained geometry; fitCentroids itself
    // trains on a bounded sample above its ceiling), so coarse cost drops
    // to O(|Q|·N·nprobe/nlist) while stage 2's exact rerank is unchanged.
    // The routed SHORTLIST is a subset of the probed lists — a recall
    // contract change, announced at WARN like nearDupPairs' LSH route.
    val routed =
      estimatedVectors(c) > maxExactVectors.toDouble &&
        confirmedVectors(c) > maxExactVectors
    val coarsePairs =
      if (routed) {
        val n = confirmedVectors(c)
        val nlist = math.max(16, math.sqrt(n.toDouble).toInt)
        val nprobe = math.max(4, nlist / 16)
        graft.core.RouteLog.contractChange(
          "knnRerank.ivfShortlist",
          s"n=$n > $maxExactVectors — SQ8 coarse stage scores only the $nprobe/" +
            s"$nlist probed IVF lists (trained coarse quantizer; shortlist recall " +
            "gated in SimilaritySpec); exact rerank stage unchanged")
        val cEmb = c.select(col("c_id").as("vec_id"), col("c_emb").as("embedding"))
        val cents = broadcast(
          KMeansOps.fitCentroids(cEmb, nlist, iters = 2)
            .withColumn("cc", GraftFunctions.dot(col("ci"), col("ci"))))
        val lists = KMeansOps
          .assign(KMeansOps.quantize(cEmb), cents.select(col("cid"), col("ci")))
          .select(col("vec_id").as("c_id"), col("cid"))
        val qv = KMeansOps.quantize(
          q.select(col("q_id").as("vec_id"), col("q_emb").as("embedding")))
        val wProbe = Window.partitionBy(col("q_id")).orderBy(col("qd").asc, col("cid"))
        val probes = qv
          .select(col("vec_id").as("q_id"), col("vi").as("qi"), col("vv").as("qq"))
          .crossJoin(cents)
          .select(
            col("q_id"), col("cid"),
            (col("qq") + col("cc") - lit(2) * GraftFunctions.dot(col("qi"), col("ci")))
              .as("qd"))
          .withColumn("pr", row_number().over(wProbe))
          .filter(col("pr") <= nprobe)
          .select(col("q_id"), col("cid"))
        // single-assignment lists are disjoint → each (q, c) at most once
        probes
          .join(lists, Seq("cid"))
          .join(c.select(col("c_id"), recon(col("c_emb")).as("cc")), Seq("c_id"))
          .join(qc, Seq("q_id"))
      } else
        // (a local Spread.respread of the candidate side was tried and
        // REVERTED: quiet warm 0.72-0.77 vs the 0.675 baseline, and the
        // extra exchange stage amplified ambient noise in full-sweep
        // records — same finding as knnBruteForce)
        qc.crossJoin(c.select(col("c_id"), recon(col("c_emb")).as("cc")))
    val shortlist = coarsePairs
      .filter(col("q_id") =!= col("c_id"))
      .select(
        col("q_id"), col("c_id"),
        round(GraftFunctions.cosine(col("qc"), col("cc")), 6).as("iscore"))
      .withColumn(
        "srank",
        row_number().over(
          Window.partitionBy(col("q_id")).orderBy(col("iscore").desc, col("c_id"))))
      .filter(col("srank") <= rerank)
      .select(col("q_id"), col("c_id"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("c_id"))
    shortlist
      .join(q.select(col("q_id"), col("q_emb")), Seq("q_id"))
      .join(c.select(col("c_id"), col("c_emb")), Seq("c_id"))
      .select(
        col("q_id"), col("c_id"),
        round(GraftFunctions.cosine(col("q_emb"), col("c_emb")), 6).as("cos"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("c_id"), col("rank"), col("cos"))
      .orderBy(col("q_id"), col("rank"))
  }

  /** IVF-style ANN (the other scale path besides LSH): a coarse quantizer
    * of `nlist` centroids (deterministically sampled from the corpus by
    * portable-hash order — a production system would k-means them;
    * assignment and search are identical), vectors assigned to their
    * nearest centroid's inverted list, queries probing the `nprobe`
    * nearest lists only.
    *
    * Search cost drops from O(N) to O(N · nprobe / nlist) per query; the
    * probe join is an equi-join on centroid id. Recall is tested against
    * brute force in SimilaritySpec. Assignment ranks on `round(cos, 6)`
    * with centroid-id tie-break — deterministic and oracle-reproducible.
    */
  def knnIvf(
      queries: DataFrame,
      candidates: DataFrame,
      k: Int,
      nlist: Int,
      nprobe: Int): DataFrame = {
    val c = candidates.toDF("c_id", "c_emb")
    // deterministic coarse centroids: first nlist vectors by portable-hash order
    val cents = broadcast(
      c.withColumn("h", PortableHash.hash60(col("c_id").cast("string")))
        .orderBy(col("h"))
        .limit(nlist)
        .select(col("c_id").as("cent_id"), col("c_emb").as("cent_emb")))
    def assign(df: DataFrame, idCol: String, embCol: String, keep: Int) = {
      val w = Window
        .partitionBy(col(idCol))
        .orderBy(
          round(GraftFunctions.cosine(col(embCol), col("cent_emb")), 6).desc,
          col("cent_id"))
      df.crossJoin(cents)
        .withColumn("cent_rank", row_number().over(w))
        .filter(col("cent_rank") <= keep)
        .drop("cent_emb", "cent_rank")
    }
    // Corpus assignment is keep=1, and the rank-window formulation sorts
    // N·nlist rows CARRYING both embedding arrays — with nlist ~ √N that
    // is an O(N^1.5) fat sort (measured 11 s at 32k vectors,
    // PERF.md "Round 2: embedding ops scale-up"). Arg-min instead: thin (id, cent, score)
    // rows into a map-side-combinable min(struct) — identical semantics
    // (max rounded cos, centroid-id tie-break; the 2.0 sentinel mirrors
    // the window's NULLS LAST for null cosines) — then re-attach vectors
    // by id. The small query side keeps the window (keep = nprobe > 1).
    val bucketed = c
      .crossJoin(cents)
      .select(
        col("c_id"),
        col("cent_id"),
        coalesce(-round(GraftFunctions.cosine(col("c_emb"), col("cent_emb")), 6), lit(2.0))
          .as("neg_cos"))
      .groupBy(col("c_id"))
      .agg(min(struct(col("neg_cos"), col("cent_id"))).as("m"))
      .select(col("c_id"), col("m.cent_id").as("cent_id"))
      .join(c, Seq("c_id"))
    val probes = assign(queries.toDF("q_id", "q_emb"), "q_id", "q_emb", keep = nprobe)
    val pairs = probes
      .join(bucketed, Seq("cent_id"))
      .filter(col("q_id") =!= col("c_id"))
      .select(
        col("q_id"),
        col("c_id"),
        round(GraftFunctions.cosine(col("q_emb"), col("c_emb")), 6).as("cos"))
      .distinct() // a candidate can appear via several probed lists
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("c_id"))
    pairs
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("c_id"), col("rank"), col("cos"))
      .orderBy(col("q_id"), col("rank"))
  }

  /** Cost-based dispatcher — the knn a user should reach for by default
    * (round-1 advice: the quadratic baseline must not be the default
    * surface). Picks the plan from Catalyst's own size estimate of the
    * candidate side: below `bruteForceMaxBytes` the exact O(|Q|·N) brute
    * force is both fastest and exact; above it, IVF probing bounds search
    * cost at O(N·nprobe/nlist) per query. The threshold check reads
    * `optimizedPlan.stats` (no extra scan) — the same statistics AQE and
    * the join planner consult, so the decision tracks whatever the
    * catalog/files report at plan time. `nlist` scales as ~√N of the
    * estimate (the standard IVF sizing rule) so list sizes stay bounded
    * as the corpus grows.
    */
  def knnAuto(
      queries: DataFrame,
      candidates: DataFrame,
      k: Int,
      bruteForceMaxBytes: Long = 64L << 20): DataFrame = {
    val bytes = candidates.queryExecution.optimizedPlan.stats.sizeInBytes
    if (bytes <= bruteForceMaxBytes) knnBruteForce(queries, candidates, k)
    else {
      val rowSize = 8 + 8 * 64 // id + 64-dim double vector
      val nlist = math.max(16, math.sqrt((bytes / rowSize).toDouble).toInt)
      // exact → approximate is a CONTRACT change (IVF recall < 1):
      // announce it like nearDupPairs' LSH route (round-13 RouteLog)
      graft.core.RouteLog.contractChange(
        "knnAuto.ivfRoute",
        s"candidate stats ${bytes}B > $bruteForceMaxBytes — dispatching to IVF " +
          s"(nlist=$nlist, nprobe=${math.max(4, nlist / 16)}; recall gated by ivf_recall), " +
          "not exact brute force")
      knnIvf(queries, candidates, k, nlist = nlist, nprobe = math.max(4, nlist / 16))
    }
  }

  /** Embedding near-dup pairs: ALL pairs with cosine ≥ `minCos`, computed
    * exactly via a balanced block-pair equi-join. Output `(a_id, b_id,
    * cos)`, a_id < b_id — byte-identical to the naive cross join.
    *
    * Why not sub-quadratic candidate pruning (Bayardo prefix filtering /
    * metric-ball pigeonhole)? Measured on the target data: the embedding
    * corpus is ISOTROPIC (eigenspectrum of the covariance is flat — top
    * eigenvalue 0.021 ≈ 1/64·tr; per-component |x̂_d| ≈ 1/√d uniformly), so
    * every magnitude- or triangle-inequality-based exact filter admits
    * ~100 % of pairs (verified empirically: Bayardo prefixes average 38 of
    * 64 dims and prune nothing, while multiplying join fan-out ~19×), and
    * the QUALIFYING OUTPUT itself grows quadratically (59 pairs at n=500 →
    * 920 at n=2000 — exactly 16× for 16× n²). Exact all-pairs at a fixed
    * cosine threshold on such data is Θ(n²) — the scalable form is a
    * BALANCED quadratic plan, not a pruned one:
    *
    *  - vectors land in `blocks` id-hash blocks; the B(B+1)/2 unordered
    *    block pairs form a tiny broadcast relation;
    *  - each vector is replicated to its ≤ B+1 block-pair rows (linear
    *    shuffle, no broadcast of the corpus, no single-task cartesian);
    *  - the pair join is a shuffled EQUI-join on the block-pair key: every
    *    task owns one (n/B)² tile — even load, spill-safe, tunable memory;
    *  - the codegen'd cosine kernel + threshold filter run inside the join
    *    projection (never materializing the n² relation).
    *
    * For corpora where Θ(n²) is unaffordable, the sub-quadratic
    * *approximate* paths are [[knnLsh]] / [[knnIvf]] / MinHash-LSH
    * (DedupOps) — at 10⁸+ docs a real pipeline near-dups at cos ≥ 0.85+
    * where LSH recall is high; an exact-at-0.4 sweep is a corpus-audit
    * query, sized in blocks accordingly.
    */
  /** k-NN label-agreement audit (mislabel / label-noise detection, the
    * confident-learning-style neighborhood check): for each probe vector,
    * how many of its k nearest cosine neighbors share its label; rolled up
    * per label as `(label, n_probes, mean_agree, n_suspect)` where a probe
    * is suspect when fewer than half its neighbors agree (`2m < k`). A
    * label whose mean agreement sits far below the others is either noisy
    * or genuinely overlapping a neighbor class — the audit a pipeline runs
    * before trusting `label` for supervised filtering.
    *
    * Probes are the deterministic `vec_id % probeEvery` slice (the knn
    * family's convention): an audit needs an unbiased sample, not all n —
    * at corpus scale the probe count, not n², is the knob. Neighbors come
    * from [[knnBruteForce]] (exact — the audit shouldn't inherit ANN
    * recall error); the label joins attach to the k·probes relation, not
    * the corpus. All sums are integer; the one ratio divides exact counts.
    */
  def labelNoise(embeddings: DataFrame, k: Int = 10, probeEvery: Int = 50): DataFrame = {
    val e = corpus(embeddings)
    val labels = embeddings.select(col("vec_id"), col("label"))
    val knn = knnBruteForce(e.filter(col("vec_id") % probeEvery === 0), e, k)
    knn
      .join(labels.select(col("vec_id").as("q_id"), col("label").as("q_label")), Seq("q_id"))
      .join(labels.select(col("vec_id").as("c_id"), col("label").as("c_label")), Seq("c_id"))
      .groupBy(col("q_id"), col("q_label"))
      .agg(sum(when(col("c_label") === col("q_label"), 1L).otherwise(0L)).as("m"))
      .groupBy(col("q_label").as("label"))
      .agg(
        count(lit(1)).as("n_probes"),
        sum(col("m")).as("sum_m"),
        sum(when(col("m") * 2 < k, 1L).otherwise(0L)).as("n_suspect"))
      .select(
        col("label"),
        col("n_probes"),
        round(
          col("sum_m").cast("double") / (col("n_probes") * lit(k.toLong)).cast("double"),
          6).as("mean_agree"),
        col("n_suspect"))
      .orderBy(col("label"))
  }

  /** Per-band sign-bit bucket id: band `band` owns the DISJOINT plane
    * group `[band·r, (band+1)·r)` (r = planesPerBand), bit j of the bucket
    * is plane `band·r + j`'s sign. Same cross-engine determinism contract
    * as [[lshBucket]] (projection rounded to 6 before the sign test).
    */
  def bandBucket(emb: Column, band: Int, planesPerBand: Int, dim: Int): Column =
    (0 until planesPerBand).map { j =>
      val proj = round(
        GraftFunctions.dot(emb, typedlit(planeVector(band * planesPerBand + j, dim).toSeq)), 6)
      when(proj > 0, lit(1L << j)).otherwise(0L)
    }.reduce(_ + _)

  /** Banded-LSH near-dup pairs: the SUB-QUADRATIC default path for
    * embedding dedup. Candidate pairs are vectors agreeing on all
    * `planesPerBand` sign bits in AT LEAST ONE of `bands` bands
    * (amplified random-hyperplane LSH — the minhash banding construction
    * over sign-bit signatures); only candidates pay the exact cosine
    * verify, and only those with `cos ≥ minCos` survive. Output is a
    * SUBSET of [[nearDupPairs]] at the same threshold, with identical
    * `(a_id, b_id, cos)` values on every emitted row.
    *
    * Scale shape: candidate generation ships only 8-byte ids through the
    * (band, bucket) equi-join — embeddings attach to the deduplicated
    * candidate relation afterwards via two hash joins — so the exchange
    * volume is O(n·bands + |candidates|), never O(n²) vectors. Collision
    * probability per band is p^r with p = 1 − θ/π: at real near-dup
    * thresholds the filter is essentially lossless (cos ≥ 0.9 → recall
    * 1−(1−0.856^r)^bands ≈ 0.9999 at r=6, b=20) while random pairs pass
    * at ~bands·2^−r. At LOW thresholds the trade is real and measured:
    * on the 64-dim synthetic corpus at minCos 0.4, r=6/b=20 retains
    * ~0.76 of true pairs while evaluating ~28 % of the n²/2 cosines
    * (PERF.md "Round 12: embedding-dedup size route" reports both); production embeddings (d ≥ 256,
    * near-dups at cos ≥ 0.9) sit far into the favorable regime. The exact
    * blocked kernel ([[nearDupPairs]]) remains the verify/small-n path.
    */
  def nearDupPairsLsh(
      embeddings: DataFrame,
      minCos: Double,
      bands: Int,
      planesPerBand: Int,
      dim: Int): DataFrame =
    // session-memoized like DedupOps.jaccardPairs: the pair relation is
    // tiny and several consumers (dedup_embedding_lsh, the semantic
    // split-leakage audit) read the same (corpus, config) result
    DedupOps.sessionRelation(
      embeddings, s"nearDupPairsLsh:$minCos:$bands:$planesPerBand:$dim") {
      val e = corpus(embeddings)
      nearDupVerify(lshCandidates(e, bands, planesPerBand, dim), e, minCos)
    }

  /** Distinct candidate id pairs from the banded sign-bit buckets —
    * public so stress tools can measure candidate volume against n²/2.
    */
  def lshCandidates(
      corpusRel: DataFrame,
      bands: Int,
      planesPerBand: Int,
      dim: Int): DataFrame = {
    // ONE fused kernel pass computes all band buckets (the equivalent
    // bands×r-literal column expression falls out of whole-stage codegen
    // at this config and evaluates interpreted — see LshBandBucketsExpr)
    val ids = corpusRel.select(
      col("vec_id"),
      posexplode(GraftFunctions.lshBandBuckets(col("emb"), bands, planesPerBand, dim)))
      .select(col("pos").as("band"), col("col").as("bucket"), col("vec_id"))
    ids.select(col("band"), col("bucket"), col("vec_id").as("a_id"))
      .join(ids.select(col("band"), col("bucket"), col("vec_id").as("b_id")),
        Seq("band", "bucket"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"))
      .distinct()
  }

  /** Embedding-space train/eval leakage audit — [[graft.operators.TextOps
    * .splitLeakage]]'s semantic sibling: an eval (val/test) vector is
    * LEAKED when a train vector sits within `minCos` of it (a near-copy
    * the n-gram rule can't see — paraphrases, re-encodings — that quietly
    * inflates held-out metrics). Near-dup pairs come from the banded-LSH
    * prefilter + exact verify ([[nearDupPairsLsh]]); splits are the
    * map-side hash of vec_id ([[graft.operators.TextOps.splitExpr]] — the
    * SAME deterministic split the text-side audit uses, so the two audits
    * gate one split assignment). Output per eval split:
    * `(split, n_eval, n_leaked, leak_frac)`.
    */
  def semanticLeakage(
      embeddings: DataFrame,
      minCos: Double,
      bands: Int,
      planesPerBand: Int,
      dim: Int): DataFrame = {
    val pairs = nearDupPairsLsh(embeddings, minCos, bands, planesPerBand, dim)
    val sa = TextOps.splitExpr(col("a_id"))
    val sb = TextOps.splitExpr(col("b_id"))
    val leakedIds = pairs
      .select(
        when(sa === "train" && sb =!= "train", col("b_id"))
          .when(sb === "train" && sa =!= "train", col("a_id"))
          .as("vec_id"))
      .filter(col("vec_id").isNotNull)
      .distinct()
    corpus(embeddings)
      .select(col("vec_id"), TextOps.splitExpr(col("vec_id")).as("split"))
      .filter(col("split") =!= "train")
      .join(leakedIds.withColumn("leak", lit(1L)), Seq("vec_id"), "left")
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_eval"), sum(coalesce(col("leak"), lit(0L))).as("n_leaked"))
      .select(
        col("split"), col("n_eval"), col("n_leaked"),
        round(col("n_leaked").cast("double") / col("n_eval").cast("double"), 6)
          .as("leak_frac"))
      .orderBy(col("split"))
  }

  /** Exact cosine verify over a candidate id-pair relation. */
  private def nearDupVerify(cand: DataFrame, e: DataFrame, minCos: Double): DataFrame =
    cand
      .join(e.select(col("vec_id").as("a_id"), col("emb").as("a_emb")), Seq("a_id"))
      .join(e.select(col("vec_id").as("b_id"), col("emb").as("b_emb")), Seq("b_id"))
      .select(
        col("a_id"),
        col("b_id"),
        round(GraftFunctions.cosine(col("a_emb"), col("b_emb")), 6).as("cos"))
      .filter(col("cos") >= lit(minCos))
      .orderBy(col("a_id"), col("b_id"))

  /** Above this plan-time vector-count estimate, [[nearDupPairs]] refuses
    * the Θ(n²) exact kernel and routes to the banded-LSH prefilter + exact
    * verify instead. 10⁵ vectors ≈ 5·10⁹ cosine evaluations — the point
    * where exact all-pairs stops being a "small corpus" convenience (tens
    * of seconds on one 32-core host, unpayable at cluster data sizes)
    * while the LSH candidate join is still early in its sub-quadratic
    * divergence. Overridable per call for stress tools and for callers who
    * KNOW they want exact output at larger n (pass `Long.MaxValue`).
    */
  val MaxExactVectors: Long = 100000L

  /** Routed-path banding, chosen by threshold (public so stress tools can
    * report it). Banding amplification collides random pairs at
    * ~bands·2^−planes regardless of the threshold, so sharpness trades
    * directly against recall AT the threshold (per-pair recall at cosine
    * c is 1−(1−p^r)^b with p = 1−arccos(c)/π, rising toward 1 as c→1).
    * Three tiers, each sized so threshold-edge recall stays ≥ ~0.8 while
    * the background rate is as low as that allows:
    *  - minCos ≥ 0.9 → 12×10: recall 0.94 at exactly 0.9 (0.99 at 0.95),
    *    background ~1.2 % — the production near-dup regime
    *    PERF.md round 12 (embedding-dedup size route) measured at >200×
    *    under the exact kernel.
    *  - 0.7 ≤ minCos < 0.9 → 16×8: recall 0.80 at exactly 0.7 / 0.94 at
    *    0.8, background ~6.3 %.
    *  - minCos < 0.7 → 20×6: recall 0.93 at 0.6 down to 0.73 at 0.4,
    *    background ~31 % — the documented low-threshold trade (a ~3×
    *    constant reduction, the best an LSH prefilter offers that far
    *    into the random cosine tail).
    */
  def routeBanding(minCos: Double): (Int, Int) =
    if (minCos >= 0.9) (12, 10)
    else if (minCos >= 0.7) (16, 8)
    else (20, 6)

  /** All near-dup pairs `(a_id, b_id, cos)` with cosine ≥ `minCos`.
    *
    * SIZE-ROUTED (round-11 verdict #1): when the plan-time vector-count
    * estimate (Catalyst stats — same read as [[autoBlocks]], no extra
    * scan) exceeds `maxExactVectors`, the call routes to
    * [[nearDupPairsLsh]] — banded sign-bit candidate generation + exact
    * cosine verify — instead of the exact blocked kernel, so a large
    * corpus can never enter the Θ(n²) path by default. The routed output
    * is the LSH-verified SUBSET of the exact pairs (identical rows where
    * emitted; the recall trade is documented and measured in the
    * nearDupPairsLsh scaladoc / PERF.md round 12). Passing `blocks > 0`
    * is an explicit exact-path override and always runs blocked-exact.
    *
    * The route is CONFIRMED by an exact count before it fires: Catalyst's
    * size estimate can be garbage-high for filtered/derived relations
    * (a Filter inherits its child's sizeInBytes without CBO), and a bad
    * estimate must never silently turn an exact operator into a lossy
    * one — so an over-threshold ESTIMATE only triggers a memoized
    * `count()` (one cheap scan, only ever paid when the estimate is
    * large), and the LSH route needs the TRUE count over the threshold.
    */
  def nearDupPairs(
      embeddings: DataFrame,
      minCos: Double,
      blocks: Int = 0,
      maxExactVectors: Long = MaxExactVectors): DataFrame = {
    val e = corpus(embeddings)
    val estimateHigh = blocks <= 0 && shouldRouteLsh(e, maxExactVectors)
    if (estimateHigh && confirmedVectors(e) > maxExactVectors) {
      val dim = embDim(e)
      val (bands, planes) = routeBanding(minCos)
      // round-12 advice #1: the routed output is a lossy SUBSET of the
      // exact pairs — announce the contract change at WARN (and in the
      // drainable RouteLog ring) so downstream dedup consumers can tell
      // which contract they got instead of discovering it by recall.
      graft.core.RouteLog.contractChange(
        "nearDupPairs.lshRoute",
        s"n=${confirmedVectors(e)} > $maxExactVectors — returning LSH-verified SUBSET " +
          s"(bands=$bands, planes=$planes; threshold-edge recall per routeBanding scaladoc); " +
          "pass blocks>0 for the exact kernel")
      nearDupPairsLsh(embeddings, minCos, bands, planes, dim)
    } else {
      // blocks <= 0 → auto-size from Catalyst's size estimate (same
      // plan-time stats knnAuto consults — no extra scan): aim for tiles of
      // ~256k cosine evaluations (B ~ n/512) — big enough that per-task
      // scheduling is noise, small enough that a 32-core host sees real
      // parallelism at 2k vectors (the fixed B=16 paid 17× replication for
      // nothing at that size; B=1 serialized the whole kernel into one
      // task). B is capped so the broadcast block-pair relation stays tiny;
      // beyond the cap tiles grow past the target, which only means more
      // work per task, never more replication than B+1 rows per vector.
      // When the confirm-count just DISPROVED a garbage-high estimate,
      // size the blocking from the true count too — not from the same
      // estimate that was wrong a moment ago.
      val B =
        if (blocks > 0) blocks
        else if (estimateHigh) blocksForCount(confirmedVectors(e).toDouble, minTilesFor(e))
        else autoBlocks(e)
      nearDupPairsBlocked(e, minCos, B)
    }
  }

  /** The routing decision behind [[nearDupPairs]] (public so stress tools
    * and plan pins can report/assert it): true when the plan-time stats
    * estimate says the corpus is too large for the exact kernel.
    */
  def shouldRouteLsh(corpusRel: DataFrame, maxExactVectors: Long = MaxExactVectors): Boolean =
    estimatedVectors(corpusRel) > maxExactVectors.toDouble

  /** Plan-time vector-count estimate from Catalyst's size-in-bytes stats
    * (file footer size for parquet sources — no data scan). The row-size
    * divisor assumes the 64-dim double corpus layout; a wrong dim guess
    * shifts the estimate by a constant factor, which both consumers
    * ([[autoBlocks]] tile sizing, [[shouldRouteLsh]] routing) tolerate —
    * the block count is a granularity knob and the route threshold has
    * order-of-magnitude slack on both sides.
    */
  def estimatedVectors(corpusRel: DataFrame): Double = {
    val bytes = corpusRel.queryExecution.optimizedPlan.stats.sizeInBytes
    val rowSize = 8 + 8 * 64 // id + 64-dim double vector
    (bytes / rowSize).toDouble.max(1.0)
  }

  /** Exact corpus row count, session-memoized — the route confirmation
    * read (only consulted when the plan-time estimate already exceeds
    * the threshold, so the scan is cheap relative to either kernel at
    * that size and runs at most once per corpus per session).
    */
  private def confirmedVectors(corpusRel: DataFrame): Long =
    DedupOps.sessionValue(corpusRel, "confirmedVectors") { corpusRel.count() }

  /** Embedding dimensionality — a memoized 1-row limit scan (the only
    * place the routed LSH path needs a runtime value the plan can't
    * provide; empty corpus → 0, any dim is vacuously fine there).
    */
  private def embDim(corpusRel: DataFrame): Int =
    DedupOps.sessionValue(corpusRel, "embDim") {
      corpusRel.select(size(col("emb")).as("d")).limit(1).collect()
        .headOption.map(_.getInt(0)).getOrElse(0)
    }

  /** The block count [[nearDupPairs]] auto-derives from plan-time stats
    * (public so stress tools can report the decision alongside timings).
    */
  def autoBlocks(corpusRel: DataFrame): Int =
    blocksForCount(estimatedVectors(corpusRel), minTilesFor(corpusRel))

  /** Tile sizing from a vector count: ~256k cosine evaluations per tile
    * (B ~ n/512), capped so the block-pair relation stays tiny.
    *
    * Round 14 (guide §2.5 idle-capacity): the B(B+1)/2 tiles are this
    * kernel's parallelism grain, so B is additionally floored such that
    * the tile count reaches ~2× the session's cores — at 2k vectors the
    * old B=4 yielded 10 tiles which AQE then byte-coalesced into TWO
    * tasks of 0.78 s each on local[32] (bytes are tiny, the cosine CPU
    * is not). The floor only binds at small n (replication is B+1 rows
    * per vector — at starved sizes a few MB); at large n the n/512 term
    * dominates unchanged. Output is independent of B by construction.
    */
  private def blocksForCount(n: Double, minTiles: Int = 1): Int = {
    val bFloor = math.ceil((math.sqrt(1.0 + 8.0 * math.max(1, minTiles)) - 1.0) / 2.0).toInt
    math.min(256, math.max(math.max(1, bFloor), math.ceil(n / 512.0).toInt))
  }

  /** Tile-count floor for [[blocksForCount]]: ~2 tiles per core. */
  private def minTilesFor(df: DataFrame): Int =
    2 * df.sparkSession.sparkContext.defaultParallelism

  private def nearDupPairsBlocked(e: DataFrame, minCos: Double, blocks: Int): DataFrame = {
    val spark = e.sparkSession
    import spark.implicits._
    val pairKeys = (for { i <- 0 until blocks; j <- i until blocks } yield (i, j))
      .toDF("bi", "bj")
    val blocked = e.select(
      col("vec_id"),
      col("emb"),
      pmod(col("vec_id"), lit(blocks)).cast("int").as("blk"))
    val aSide = blocked
      .join(broadcast(pairKeys), col("blk") === col("bi"))
      .select(
        (col("bi") * lit(blocks) + col("bj")).as("pk"),
        col("bi"),
        col("bj"),
        col("vec_id").as("x_id"),
        col("emb").as("x_emb"))
    val bSide = blocked
      .join(broadcast(pairKeys.toDF("ci", "cj")), col("blk") === col("cj"))
      .select(
        (col("ci") * lit(blocks) + col("cj")).as("pk"),
        col("vec_id").as("y_id"),
        col("emb").as("y_emb"))
    // pin the tile join's partition count to the tile count: the tiles
    // are the kernel's CPU grain, and AQE's byte-based coalescing would
    // otherwise fold them onto a couple of tasks (measured 2 tasks ×
    // 0.78 s at 2k vectors on local[32]) because the shuffled bytes are
    // tiny while the per-row cosine work is not. REPARTITION_BY_NUM is
    // exempt from AQE coalescing; one partition ≈ one tile.
    val tiles = blocks * (blocks + 1) / 2
    aSide
      .repartition(tiles, col("pk"))
      .join(bSide.repartition(tiles, col("pk")), Seq("pk"))
      // same-block tile carries both orders + self-pairs; cross-block tiles
      // carry each unordered pair exactly once
      .filter(col("bi") =!= col("bj") || col("x_id") < col("y_id"))
      .select(
        least(col("x_id"), col("y_id")).as("a_id"),
        greatest(col("x_id"), col("y_id")).as("b_id"),
        round(GraftFunctions.cosine(col("x_emb"), col("y_emb")), 6).as("cos"))
      .filter(col("cos") >= lit(minCos))
      .orderBy(col("a_id"), col("b_id"))
  }

  /** SemDeDup-style semantic dedup (Abbas et al. 2023, arXiv:2303.09540):
    * k-means-cluster the corpus, then prune near-duplicates ONLY within a
    * cluster — the quadratic cosine kernel runs over ~n/k-row clusters
    * instead of the corpus, so at 100 TB you raise k with the corpus
    * (k ≈ n / target-cluster-size) and the per-cluster work stays bounded
    * while the clustering itself is the linear-time [[KMeansOps]] loop.
    *
    * Clustering is the exact integer micro-space Lloyd fit (deterministic,
    * oracle-reproducible — [[KMeansOps]] docs); pruning keeps the
    * lowest-id member of each near-dup pair (greedy-by-id, the same
    * survivor convention as the text dedup family). Output, one row per
    * cluster: `(cluster_id, n_vecs, n_pairs, n_dropped)` where `n_pairs`
    * counts intra-cluster pairs with cosine ≥ `minCos` and `n_dropped`
    * counts members with a lower-id neighbor above the threshold.
    */
  def semanticDedup(embeddings: DataFrame, k: Int, iters: Int, minCos: Double): DataFrame = {
    // the Lloyd iterations are the expensive lineage; both pair sides (and
    // the per-cluster size count) consume the assignment → persist + fill
    val assigned = DedupOps.registerCache(
      KMeansOps
        .fitAssign(embeddings, k, iters)
        .select(col("vec_id"), col("cid"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    assigned.count()
    val e = corpus(embeddings).join(assigned, Seq("vec_id"))
    // candidate generation is an EQUI-join on cluster id — never corpus²
    val pairs = e
      .select(col("cid"), col("vec_id").as("a_id"), col("emb").as("a_emb"))
      .join(
        e.select(col("cid"), col("vec_id").as("b_id"), col("emb").as("b_emb")),
        Seq("cid"))
      .filter(col("a_id") < col("b_id"))
      .select(
        col("cid"),
        col("a_id"),
        col("b_id"),
        round(GraftFunctions.cosine(col("a_emb"), col("b_emb")), 6).as("cos"))
      .filter(col("cos") >= lit(minCos))
    val dup = DedupOps.registerCache(
      pairs
        .select(col("cid"), col("a_id"), col("b_id"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val nPairs = dup.groupBy(col("cid")).agg(count(lit(1)).as("n_pairs"))
    val nDropped = dup
      .select(col("cid"), col("b_id"))
      .distinct()
      .groupBy(col("cid"))
      .agg(count(lit(1)).as("n_dropped"))
    assigned
      .groupBy(col("cid"))
      .agg(count(lit(1)).as("n_vecs"))
      .join(nPairs, Seq("cid"), "left")
      .join(nDropped, Seq("cid"), "left")
      .select(
        col("cid").as("cluster_id"),
        col("n_vecs"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_dropped"), lit(0L)).as("n_dropped"))
      .orderBy(col("cluster_id"))
  }

  /** Product-quantization ANN (Jégou et al.): split each vector into `m`
    * subspaces, learn a `ksub`-centroid codebook per subspace with the
    * deterministic integer-micro Lloyd fit ([[KMeansOps.lloyd]] over the
    * sliced training vectors), encode the corpus as `m` byte-ish
    * codes, and answer queries by ASYMMETRIC DISTANCE (ADC): the exact
    * per-subspace distance table `d(q_s, centroid)` (|Q|·m·ksub rows,
    * broadcast) is summed over the corpus codes — so each query·corpus
    * pair costs `m` table lookups instead of a `dim`-wide dot product,
    * and the corpus representation is `m` small ints per vector instead
    * of `dim` floats: the memory-bound regime where 100 TB of raw
    * vectors compress to the codes + one codebook per subspace.
    *
    * All arithmetic is exact: micro-integer subvectors, integer micro²
    * distances, BIGINT ADC sums — the oracle reproduces codebooks,
    * codes, and rankings bit-for-bit. Completes the ANN ladder next to
    * brute force (exact), LSH (bucketed), IVF (probe lists), and SQ8
    * rerank (scalar compression).
    *
    * Output: `(q_id, c_id, rank, adist)` — top `k` per probe query by
    * `(ADC distance asc, c_id)`, `adist` in micro² units.
    */
  /** Exact L2 top-k in integer micro² space over the probe slice — the
    * ground truth [[knnPq]] approximates (same metric, same quantization),
    * so `pq_recall` compares like with like. Broadcast probe side, one
    * codegen distance projection, per-query top-k window.
    * Output: `(q_id, c_id, rank, dist)`.
    */
  def knnBruteForceL2(embeddings: DataFrame, k: Int, probeEvery: Int): DataFrame = {
    val v = KMeansOps.quantize(embeddings) // (vec_id, vi, vv)
    val q = broadcast(
      v.filter(col("vec_id") % probeEvery === 0)
        .select(col("vec_id").as("q_id"), col("vi").as("qi"), col("vv").as("qq")))
    val w = Window.partitionBy(col("q_id")).orderBy(col("dist").asc, col("c_id"))
    // round 14: same starvation respread as knnBruteForce — the |Q|·N dot
    // kernel otherwise runs single-task on the starved embeddings scan
    // (embed_intrinsic_dim's dominant 0.9 s stage).
    graft.core.Spread
      .respread(
        v.select(col("vec_id").as("c_id"), col("vi"), col("vv")),
        Seq(col("c_id")),
        "knnBruteForceL2.spread")
      .crossJoin(q)
      .filter(col("q_id") =!= col("c_id"))
      .select(
        col("q_id"),
        col("c_id"),
        (col("qq") + col("vv") - lit(2) * GraftFunctions.dot(col("qi"), col("vi")))
          .cast("bigint").as("dist"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("c_id"), col("rank"), col("dist"))
      .orderBy(col("q_id"), col("rank"))
  }

  /** Graded retrieval quality of a top-k ranking: NDCG@k and MRR@k with
    * binary relevance = "candidate shares the query's label" — the IR
    * metrics that judge a kNN index as a RETRIEVER (complementing
    * recall gates, which only compare against another ranking).
    *
    * Discounts `1/log₂(i+1)` are nano-quantized per rank IN THE ENGINE
    * (the oracle evaluates the same `ln(2)/ln(i+1)` expression, so both
    * sides share any final-ulp), per-query DCG/IDCG are exact integer
    * sums of those constants, and per-query NDCG/RR are re-quantized
    * before the cross-query mean — merge-order-free end to end. IDCG is
    * the STANDARD @k ideal: the first `min(R_corpus, k)` discounts,
    * where R_corpus counts ALL corpus vectors sharing the query's label
    * (self excluded) — so a query that retrieves 1 of its 40 relevant
    * neighbors at rank 1 scores DCG(1)/IDCG(10), not a self-satisfied
    * 1.0 (the label-count relation is bounded — one broadcast join).
    * Queries with zero relevant hits retrieved score 0 and are counted.
    *
    * Output: one row `(n_queries, n_zero_rel, mean_ndcg, mrr)`.
    */
  def knnRankingQuality(
      embeddings: DataFrame,
      k: Int,
      probeEvery: Int): DataFrame = {
    val dbl = (c: Column) => c.cast("double")
    val e = corpus(embeddings)
    val top = knnBruteForce(e.filter(col("vec_id") % probeEvery === 0), e, k)
    val lab = embeddings.select(col("vec_id"), col("label"))
    // total relevant per label in the WHOLE corpus — the IDCG normalizer
    val labCnt = lab.groupBy(col("label")).agg(count(lit(1)).as("n_lbl"))
    val rel = top
      .join(broadcast(lab.select(col("vec_id").as("q_id"), col("label").as("ql"))), Seq("q_id"))
      .join(broadcast(lab.select(col("vec_id").as("c_id"), col("label").as("cl"))), Seq("c_id"))
      // LEFT join: a NULL-labeled probe never equi-matches the label-count
      // relation — it must survive as a zero-relevance query (r_corpus 0),
      // not silently drop out of the n_queries/mean_ndcg/mrr denominators
      .join(broadcast(labCnt.select(col("label").as("ql"), col("n_lbl"))), Seq("ql"), "left")
      .select(
        col("q_id"), col("rank"),
        when(col("ql") === col("cl"), 1L).otherwise(0L).as("rel"),
        (coalesce(col("n_lbl"), lit(1L)) - lit(1L)).as("r_corpus")) // exclude the query itself
    // nano discount per rank, evaluated as an expression in both engines
    val dn = round(
      lit(1e9) * (log(lit(2.0)) / log(col("rank").cast("double") + lit(1.0))))
      .cast("bigint")
    val perQ = rel
      .withColumn("dn", dn)
      .withColumn("r_tot", sum(col("rel")).over(Window.partitionBy(col("q_id"))))
      .groupBy(col("q_id"))
      .agg(
        max(col("r_tot")).as("r"),
        sum(col("rel") * col("dn")).as("dcg_n"),
        // ideal@k: all min(R_corpus, k) relevant at the top ranks
        sum(when(col("rank") <= least(col("r_corpus"), lit(k.toLong)), col("dn"))
          .otherwise(0L)).as("idcg_n"),
        min(when(col("rel") === 1L, col("rank"))).as("first_rel"))
    val ndcgNano = when(col("r") > 0L,
      round(lit(1e9) * (dbl(col("dcg_n")) / dbl(col("idcg_n")))).cast("bigint"))
      .otherwise(lit(0L))
    val rrNano = when(col("first_rel").isNotNull,
      round(lit(1e9) / col("first_rel").cast("double")).cast("bigint"))
      .otherwise(lit(0L))
    perQ
      .select(col("r"), ndcgNano.as("nd"), rrNano.as("rr"))
      .agg(
        count(lit(1)).as("n_queries"),
        sum(when(col("r") === 0L, 1L).otherwise(0L)).as("n_zero_rel"),
        sum(col("nd")).as("snd"),
        sum(col("rr")).as("srr"))
      .select(
        col("n_queries"),
        col("n_zero_rel"),
        round(dbl(col("snd")) / (dbl(col("n_queries")) * lit(1e9)), 6).as("mean_ndcg"),
        round(dbl(col("srr")) / (dbl(col("n_queries")) * lit(1e9)), 6).as("mrr"))
  }

  /** TwoNN intrinsic-dimension estimate (Facco et al. 2017): for each
    * probe the ratio of its 2nd to 1st nearest-neighbor distance follows
    * a Pareto law with shape = the data's intrinsic dimension, so
    * `d̂ = n / Σ ln(r₂/r₁)` — the embedding-quality gauge that tells a
    * pipeline whether 64 stored dimensions carry 64 dimensions of
    * signal (random noise → d̂ ≈ ambient; manifold data → d̂ ≪ ambient).
    *
    * Works on squared integer-micro distances: `ln(r₂/r₁) = ½·ln(d₂/d₁)`
    * needs no square roots. Per-probe log terms are nano-quantized
    * BIGINTs before the sum (exact, merge-order-free); probes with a
    * zero first distance (exact duplicates) are excluded and counted.
    * The probe slice bounds the work at `|probes|·n` distances — the
    * estimator is statistically a subsample anyway.
    *
    * Output: one row `(n_probes, n_dup_probes, id_hat)`.
    */
  def intrinsicDim(embeddings: DataFrame, probeEvery: Int): DataFrame = {
    val dbl = (c: Column) => c.cast("double")
    val top2 = knnBruteForceL2(embeddings, k = 2, probeEvery = probeEvery)
    val paired = top2
      .groupBy(col("q_id"))
      .agg(
        max(when(col("rank") === 1, col("dist"))).as("d1"),
        max(when(col("rank") === 2, col("dist"))).as("d2"))
      .filter(col("d2").isNotNull)
    val termNano = round(
      lit(1e9) * (lit(0.5) * log(dbl(col("d2")) / dbl(col("d1")))))
      .cast("bigint")
    paired
      .agg(
        sum(when(col("d1") > 0L, 1L).otherwise(0L)).as("n_probes"),
        sum(when(col("d1") > 0L, 0L).otherwise(1L)).as("n_dup_probes"),
        sum(when(col("d1") > 0L, termNano).otherwise(0L)).as("s_nano"))
      .select(
        col("n_probes"),
        col("n_dup_probes"),
        when(
          col("s_nano") > 0L,
          round(dbl(col("n_probes")) / (dbl(col("s_nano")) / lit(1e9)), 6))
          .as("id_hat"))
  }

  /** IVF with a TRAINED coarse quantizer — the production IVF shape
    * ([[knnIvf]]'s scaladoc promises "a production system would k-means
    * them"; this is that system): centroids come from the deterministic
    * integer-micro Lloyd fit ([[KMeansOps.fitCentroids]]), corpus vectors
    * join their nearest centroid's inverted list, probe queries search the
    * `nprobe` nearest lists only. Everything — assignment, probing,
    * candidate scoring — runs in ONE metric, the exact integer micro² L2
    * the k-means fit itself uses, so the quantizer and the search agree
    * about geometry and the whole pipeline is bit-reproducible
    * cross-engine (the oracle reuses the unrolled Lloyd CTE chain).
    *
    * Scale shape: corpus assignment is the thin arg-min aggregate (no fat
    * rank window — the knnIvf lesson), the k-row codebook broadcasts,
    * probed candidates come through a `cid` equi-join, per-query cost
    * O(N · nprobe / nlist). Output: `(q_id, c_id, rank, dist)`.
    */
  def knnIvfTrained(
      embeddings: DataFrame,
      k: Int,
      nlist: Int,
      iters: Int,
      nprobe: Int,
      probeEvery: Int): DataFrame = {
    val v = KMeansOps.quantize(embeddings) // (vec_id, vi, vv)
    // ONE Lloyd fit feeds both legs: the raw codebook assigns the
    // inverted lists (the kmeans family's audited arg-min — the oracle's
    // aF relation) and, with its norms attached, ranks the probes
    val centsRaw = KMeansOps.fitCentroids(embeddings, nlist, iters)
    val cents = broadcast(
      centsRaw.withColumn("cc", GraftFunctions.dot(col("ci"), col("ci"))))
    val lists = KMeansOps
      .assign(v, centsRaw)
      .select(col("vec_id").as("c_id"), col("cid"))
    val q = v
      .filter(col("vec_id") % probeEvery === 0)
      .select(col("vec_id").as("q_id"), col("vi").as("qi"), col("vv").as("qq"))
    val wProbe = Window.partitionBy(col("q_id")).orderBy(col("qd").asc, col("cid"))
    val probes = q
      .crossJoin(cents)
      .select(
        col("q_id"), col("qi"), col("qq"), col("cid"),
        (col("qq") + col("cc") - lit(2) * GraftFunctions.dot(col("qi"), col("ci")))
          .as("qd"))
      .withColumn("pr", row_number().over(wProbe))
      .filter(col("pr") <= nprobe)
      .select(col("q_id"), col("qi"), col("qq"), col("cid"))
    // single-assignment lists are disjoint → each (q, c) pair appears at
    // most once; no distinct needed
    val cv = lists.join(
      v.select(col("vec_id").as("c_id"), col("vi").as("cvi"), col("vv").as("cvv")),
      Seq("c_id"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("dist").asc, col("c_id"))
    probes
      .join(cv, Seq("cid"))
      .filter(col("q_id") =!= col("c_id"))
      .select(
        col("q_id"), col("c_id"),
        (col("qq") + col("cvv") - lit(2) * GraftFunctions.dot(col("qi"), col("cvi")))
          .cast("bigint").as("dist"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("c_id"), col("rank"), col("dist"))
      .orderBy(col("q_id"), col("rank"))
  }

  def knnPq(
      embeddings: DataFrame,
      k: Int,
      m: Int,
      ksub: Int,
      iters: Int,
      probeEvery: Int,
      dim: Int): DataFrame = {
    val w = Window.partitionBy(col("q_id")).orderBy(col("adist").asc, col("c_id"))
    pqAdc(embeddings, m, ksub, iters, probeEvery, dim)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("c_id"), col("rank"), col("adist"))
      .orderBy(col("q_id"), col("rank"))
  }

  /** The full ADC distance relation `(q_id, c_id, adist)` behind
    * [[knnPq]], session-memoized on (corpus, PQ config) — `knn_pq` (k=10)
    * and `pq_recall`'s 50-candidate shortlist differ only in the final
    * top-k window, so the codebook fit + encode + ADC sum runs once per
    * session, not once per consumer (the LSH pair-relation pattern).
    *
    * Training shares one collect across subspaces: one bounded Spark job
    * brings the training vectors to the driver ([[KMeansOps.trainingSet]]),
    * each is sliced into its `m` subvectors there, and the m codebooks are
    * the exact driver fold [[KMeansOps.lloyd]] per subspace — the same seed
    * order `(hash60("km:" vec_id), vec_id)` in every subspace. The `(s,
    * cid, ci)` codebook returns as a local relation; one keyed
    * [[KMeansOps.assignBy]] over the `(vec_id, s, vi, vv)` relation encodes
    * the corpus.
    *
    * BROADCAST BOUND (round-11 verdict #3): the query distance table has
    * |probes|·m·ksub rows and |probes| = n/probeEvery grows with the
    * corpus, so the broadcast hint on the ADC join is applied only while
    * the plan-time row estimate stays under [[MaxAdcBroadcastRows]]
    * (~128 MB at 32 B/row); above it the hint is dropped and the
    * (s, cid) equi-join shuffles both sides — AQE may still choose to
    * broadcast if runtime stats allow, but nothing FORCES an unbounded
    * relation onto every executor.
    */
  def pqAdc(
      embeddings: DataFrame,
      m: Int,
      ksub: Int,
      iters: Int,
      probeEvery: Int,
      dim: Int,
      maxFullFitVectors: Long = KMeansOps.MaxFullFitVectors): DataFrame = {
    require(dim % m == 0, "dim must split evenly into m subspaces")
    require(iters >= 1)
    val dsub = dim / m
    DedupOps.sessionRelation(
      embeddings, s"pqAdc:$m:$ksub:$iters:$probeEvery:$dim:$maxFullFitVectors") {
      val v = KMeansOps.quantize(embeddings)
      // one relation, all subspaces: (vec_id, s, vi=slice s, vv=<vi,vi>) —
      // a projection over `v`, whose cache the training collect fills, so
      // the encode and the distance tables re-slice it rather than wait on
      // a cache fill of their own
      val sub = v
        .select(
          col("vec_id"),
          posexplode(array((0 until m).map(s =>
            slice(col("vi"), s * dsub + 1, dsub)): _*)))
        .select(col("vec_id"), col("pos").as("s"), col("col").as("vi"))
        .withColumn("vv", GraftFunctions.dot(col("vi"), col("vi")))
      // SIZE-ROUTED TRAINING (round-12 verdict #1, the fitCentroids twin):
      // over `max(maxFullFitVectors, 256·ksub)` vectors, the m fits train
      // on a deterministic hash sample of ~256·ksub VECTORS (the sample is
      // per-vector, so each codebook sees the same bounded training set);
      // the full corpus pays only the one final encode (assignBy below).
      val train = KMeansOps.trainingSet(v, ksub, maxFullFitVectors) { n =>
        graft.core.RouteLog.costRoute(
          "pqAdc.sampledFit",
          s"n=$n > $maxFullFitVectors (m=$m, ksub=$ksub) — training all $m codebooks " +
            s"on a ~${KMeansOps.sampleTarget(ksub)}-vector hash sample; " +
            "full corpus pays only the final encode")
      }
      // all m codebooks in one ≤m·ksub-row local relation; it feeds both
      // the corpus encode and the query distance tables
      val cb = KMeansOps.codebook(
        embeddings.sparkSession,
        (0 until m).map(s =>
          s -> KMeansOps.lloyd(train.map(_.vi.slice(s * dsub, s * dsub + dsub)), ksub, iters)),
        keyed = true)
      val codes = KMeansOps
        .assignBy(sub, cb)
        .select(col("vec_id").as("c_id"), col("s"), col("cid"))
      val cbd = broadcast(cb.withColumn("cc", GraftFunctions.dot(col("ci"), col("ci"))))
      val dtab = sub
        .filter(col("vec_id") % probeEvery === 0)
        .join(cbd, Seq("s"))
        .select(
          col("vec_id").as("q_id"),
          col("s"),
          col("cid"),
          (col("vv") + col("cc") - lit(2) * GraftFunctions.dot(col("vi"), col("ci")))
            .cast("bigint").as("d"))
      val dtabSide =
        if (adcDtabBroadcastable(estimatedVectors(corpus(embeddings)), m, ksub, probeEvery))
          broadcast(dtab)
        else dtab
      codes
        .join(dtabSide, Seq("s", "cid"))
        .filter(col("q_id") =!= col("c_id"))
        .groupBy(col("q_id"), col("c_id"))
        .agg(sum(col("d")).as("adist"))
    }
  }

  /** Row ceiling for broadcasting the ADC query distance table — ~2²² rows
    * ≈ 128 MB at the 32 B/row layout, the conventional "still cheap to
    * replicate to every executor" bound.
    */
  val MaxAdcBroadcastRows: Long = 1L << 22

  /** The [[pqAdc]] broadcast decision, factored pure so specs can pin both
    * branches without constructing a corpus whose stats exceed the bound.
    */
  def adcDtabBroadcastable(nEst: Double, m: Int, ksub: Int, probeEvery: Int): Boolean =
    (nEst / probeEvery) * m * ksub <= MaxAdcBroadcastRows.toDouble
}
