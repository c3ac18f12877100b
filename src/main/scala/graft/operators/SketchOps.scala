package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.PortableHash

/** Distributed sketches with cross-engine-exact state.
  *
  * HyperLogLog (Flajolet et al. 2007) with m = 256 registers over the
  * portable 60-bit hash: bucket = low 8 bits, rank = leading-zero count
  * of the remaining 52 bits + 1 (computed exactly via binary string
  * length — no float log2). The register relation is a group-by max —
  * associative and mergeable, the same partial-aggregation shape Spark
  * uses for any map-side-combinable agg, so the sketch state is O(m)
  * per partition regardless of input size.
  *
  * Determinism: the harmonic-mean denominator Σ 2^(−M_j) is accumulated
  * as INTEGER terms 2^(53−M_j) (BIGINT, max 256·2⁵³ < 2⁶³), so the sum
  * is exact in any order and the DuckDB oracle reproduces the estimate
  * bit-for-bit; the only transcendental (small-range ln correction) is
  * rounded to 6 decimals on both sides.
  */
object SketchOps {

  val Registers = 256 // 2^8

  /** HLL register relation `(groupCols..., bucket, m_j)` — the mergeable
    * sketch state. Works identically as a batch or streaming aggregation
    * (max is the state-store fold).
    */
  def hllRegisters(df: DataFrame, key: Column, groupCols: Seq[Column]): DataFrame = {
    val h = PortableHash.hash60(key.cast("string"))
    df.select(groupCols ++ Seq(bucketOf(h).as("bucket"), rankOf(h).as("rank")): _*)
      .groupBy(groupCols :+ col("bucket"): _*)
      .agg(max(col("rank")).as("m_j"))
  }

  /** Register index / rank of a 60-bit hash column (null-propagating) —
    * exposed so fused aggregations ([[ProfileOps.profileColumnsApprox]])
    * can ride the sketch state on their own group-by without a second
    * scan of the input.
    */
  def bucketOf(h: Column): Column = h.bitwiseAND(lit(255L))
  def rankOf(h: Column): Column = {
    val w = shiftright(h, 8)
    when(w === 0, lit(53)).otherwise(lit(53) - length(bin(w)))
  }

  /** Finalize expression over per-group `(n_buckets, z_present)` register
    * summaries (shared by [[estimateFromRegisters]] and fused callers).
    */
  def hllEstimate(nBuckets: Column, zPresent: Column): Column = {
    val alpha = lit(0.7213) / (lit(1.0) + lit(1.079) / lit(256.0))
    val empty = lit(Registers.toLong) - nBuckets
    val zTotal = zPresent + empty * lit(1L << 53)
    val rawE = alpha * lit(65536.0) * lit(9007199254740992.0) / zTotal.cast("double")
    when(
      rawE <= lit(640.0) && empty > 0,
      lit(256.0) * log(lit(256.0) / empty.cast("double")))
      .otherwise(rawE)
  }

  /** Finalize registers into an estimate per group: `(groupCols...,
    * n_est)`. Exact-integer harmonic sum (see object docs).
    */
  def estimateFromRegisters(regs: DataFrame, groupCols: Seq[Column]): DataFrame = {
    val z = regs
      .groupBy(groupCols: _*)
      .agg(
        count(lit(1)).cast("long").as("n_buckets"),
        sum(expr("shiftleft(cast(1 as bigint), 53 - m_j)")).as("z_present"))
    z.select(
      groupCols :+ round(hllEstimate(col("n_buckets"), col("z_present")), 6).as("n_est"): _*)
  }

  /** One-row HLL summary of `key`'s distinct count next to the exact
    * count: `(n_exact, n_est, rel_err)`.
    */
  def approxDistinct(df: DataFrame, key: Column): DataFrame = {
    val z = estimateFromRegisters(hllRegisters(df, key, Nil), Nil)
    val exact = df.agg(count_distinct(key).cast("long").as("n_exact"))
    exact
      .crossJoin(broadcast(z))
      .select(
        col("n_exact"),
        col("n_est"),
        round(
          abs(col("n_est") - col("n_exact").cast("double")) / col("n_exact").cast("double"),
          6).as("rel_err"))
  }

  /** Per-hour approximate distinct `key` next to the exact per-hour
    * count: `(hour, n_exact, n_est)` — the sketch composed with a time
    * window. In a stream the register aggregation runs incrementally
    * (watermarked window × bucket state); the finalize step is a read-time
    * batch pass over the register sink (StreamingSketchSpec).
    */
  def hourlyApproxDistinct(events: DataFrame, key: Column): DataFrame = {
    val withHour = events.withColumn("hour", date_trunc("hour", col("ts")))
    val est = estimateFromRegisters(
      hllRegisters(withHour, key, Seq(col("hour"))),
      Seq(col("hour")))
    val exact = withHour
      .groupBy(col("hour"))
      .agg(count_distinct(key).cast("long").as("n_exact"))
    exact.join(est, Seq("hour")).orderBy(col("hour"))
  }

  /** Audience-overlap estimate via sketch MERGE + inclusion–exclusion:
    * per-side HLL register relations are built in ONE tagged pass over
    * `a ∪ b`, the union sketch is a per-bucket max over both sides (the
    * HLL merge operator — the property that makes the sketch useful at
    * 100 TB: partial sketches combine without re-reading either input),
    * and `|A∩B| ≈ |A| + |B| − |A∪B|`. One output row:
    * `(n_exact_a, n_exact_b, n_exact_both, est_a, est_b, est_union,
    * est_overlap)` — exact counts come from a single per-key
    * membership-flag aggregation (one shuffle), not three set ops.
    *
    * The ≤ 2·Registers-row register relation feeds both the per-side and
    * the merged estimates, so it persists through the session cache
    * registry rather than re-aggregating the corpus per consumer.
    */
  def overlapEstimate(a: DataFrame, b: DataFrame, key: Column): DataFrame = {
    val tagged = a.select(key.as("k")).withColumn("side", lit("a"))
      .union(b.select(key.as("k")).withColumn("side", lit("b")))
    val regs = DedupOps.registerCache(
      hllRegisters(tagged, col("k"), Seq(col("side")))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val estA = estimateFromRegisters(regs.filter(col("side") === "a").drop("side"), Nil)
      .select(col("n_est").as("est_a"))
    val estB = estimateFromRegisters(regs.filter(col("side") === "b").drop("side"), Nil)
      .select(col("n_est").as("est_b"))
    val estU = estimateFromRegisters(
      regs.groupBy(col("bucket")).agg(max(col("m_j")).as("m_j")), Nil)
      .select(col("n_est").as("est_union"))
    val exact = tagged
      .groupBy(col("k"))
      .agg(
        max(when(col("side") === "a", 1L).otherwise(0L)).as("in_a"),
        max(when(col("side") === "b", 1L).otherwise(0L)).as("in_b"))
      .agg(
        sum(col("in_a")).as("n_exact_a"),
        sum(col("in_b")).as("n_exact_b"),
        sum(col("in_a") * col("in_b")).as("n_exact_both"))
    exact
      .crossJoin(broadcast(estA))
      .crossJoin(broadcast(estB))
      .crossJoin(broadcast(estU))
      .withColumn("est_overlap", round(col("est_a") + col("est_b") - col("est_union"), 6))
  }

  /** Pairwise audience-overlap MATRIX across categories from one register
    * pass — [[overlapEstimate]] generalized to every category pair via
    * sketch algebra: the per-category HLL registers aggregate once
    * (|cats|·256 rows of mergeable state), and each pair's union estimate
    * is a per-bucket max over that state — the corpus is NEVER re-read
    * per pair, which is the whole point of mergeable sketches at 100 TB
    * (k categories → k·(k−1)/2 overlaps from one scan plus state-only
    * arithmetic). Exact intersections ride one distinct (cat, key)
    * relation self-joined on the key (per-key fan-out bounded by |cats|).
    * Output per pair (cat_a < cat_b): exact overlap, per-side and union
    * estimates, inclusion–exclusion overlap estimate.
    */
  def overlapMatrix(df: DataFrame, cat: Column, key: Column): DataFrame = {
    val base = df.select(cat.as("cat"), key.as("k"))
    val regs = DedupOps.registerCache(
      hllRegisters(base, col("k"), Seq(col("cat")))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val perCat = estimateFromRegisters(regs, Seq(col("cat")))
    val cats = regs.select(col("cat")).distinct()
    val pairs = broadcast(
      cats.select(col("cat").as("cat_a"))
        .crossJoin(cats.select(col("cat").as("cat_b")))
        .filter(col("cat_a") < col("cat_b")))
    val pairRegs = regs
      .join(pairs, col("cat") === col("cat_a") || col("cat") === col("cat_b"))
      .groupBy(col("cat_a"), col("cat_b"), col("bucket"))
      .agg(max(col("m_j")).as("m_j"))
    val estU = estimateFromRegisters(pairRegs, Seq(col("cat_a"), col("cat_b")))
      .withColumnRenamed("n_est", "est_union")
    val d = base.distinct()
    val exactBoth = d.as("x")
      .join(d.as("y"), col("x.k") === col("y.k") && col("x.cat") < col("y.cat"))
      .groupBy(col("x.cat").as("cat_a"), col("y.cat").as("cat_b"))
      .agg(count(lit(1)).as("n_exact_both"))
    pairs
      .join(exactBoth, Seq("cat_a", "cat_b"), "left")
      .join(
        broadcast(perCat.select(col("cat").as("cat_a"), col("n_est").as("est_a"))),
        Seq("cat_a"))
      .join(
        broadcast(perCat.select(col("cat").as("cat_b"), col("n_est").as("est_b"))),
        Seq("cat_b"))
      .join(broadcast(estU), Seq("cat_a", "cat_b"))
      .select(
        col("cat_a"),
        col("cat_b"),
        coalesce(col("n_exact_both"), lit(0L)).as("n_exact_both"),
        col("est_a"),
        col("est_b"),
        col("est_union"),
        round(col("est_a") + col("est_b") - col("est_union"), 6).as("est_overlap"))
      .orderBy(col("cat_a"), col("cat_b"))
  }

  /** Cumulative distinct-`key` curve per day — audience growth — by
    * sketch algebra: per-day HLL registers, then a running per-bucket
    * max over the day axis (the window form of the HLL merge operator),
    * finalized per day. At 100 TB this is the incremental shape: each
    * day contributes its own 256-register state and the curve needs no
    * re-scan of history — contrast the exact running distinct, which
    * the query carries alongside via first-appearance counting (itself
    * one aggregation + a running sum over the bounded day axis, NOT a
    * per-day re-count).
    *
    * The register grid densifies over observed (day × bucket) so a
    * bucket seen on day d but silent on day d+1 still carries into
    * d+1's estimate (running max ignores the gap's nulls).
    */
  def cumulativeDistinct(df: DataFrame, key: Column): DataFrame = {
    val withDay = df.withColumn("day", to_date(col("ts")))
    val regs = DedupOps.registerCache(
      hllRegisters(withDay, key, Seq(col("day")))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val days = regs.select(col("day")).distinct()
    val grid = days.crossJoin(broadcast(regs.select(col("bucket")).distinct()))
    val w = Window.partitionBy(col("bucket")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = grid
      .join(regs, Seq("day", "bucket"), "left")
      .withColumn("m_j", max(col("m_j")).over(w))
      .filter(col("m_j").isNotNull)
    val est = estimateFromRegisters(cum, Seq(col("day")))
      .select(col("day"), col("n_est").as("n_est_cum"))
    // exact cumulative distinct: count keys by FIRST day, running sum —
    // the unpartitioned window runs over the bounded day axis only
    val firstDay = withDay
      .groupBy(key.as("k"))
      .agg(min(col("day")).as("day"))
      .groupBy(col("day"))
      .agg(count(lit(1)).as("n_new"))
    val wd = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val exact = days
      .join(firstDay, Seq("day"), "left")
      .withColumn("n_exact_cum", sum(coalesce(col("n_new"), lit(0L))).over(wd))
      .select(col("day"), col("n_exact_cum"))
    exact.join(est, Seq("day")).orderBy(col("day"))
  }

  val BloomBits = 4096
  val BloomHashes = 3

  /** Bloom-filter build + probe summary (Bloom 1970) — the membership
    * structure a decontamination pass ships to every executor instead of
    * the key set itself: `k` portable-hash bit positions per filter key,
    * the filter state is the DISTINCT set-bit relation (≤ m rows,
    * broadcastable regardless of how many keys stream through the build),
    * and a probe key is flagged iff ALL of its (distinct) positions are
    * set. No false negatives by construction; false positives are
    * measured against the exact membership join. One output row:
    * `(n_filter_keys, n_set_bits, n_probes, n_flagged, n_true_member,
    * n_false_pos, fp_rate)`, `fp_rate` = FPs / non-members rounded to 6.
    *
    * Scale shape: the build is one map-side-combinable distinct over
    * ≤ m·tasks partial states; the probe is a broadcast hash join against
    * the ≤ m-row state — the full-size key set never shuffles (contrast
    * [[graft.operators.DedupOps.decontaminate]], which broadcasts exact
    * keys: the Bloom state is the constant-size alternative when the
    * contamination list itself is too big to broadcast).
    */
  /** The `k` distinct bit positions of one key. */
  private def bloomPositions(k: Column, mBits: Int, kHashes: Int): Column =
    array_distinct(array(
      (0 until kHashes).map(i =>
        pmod(PortableHash.hash60(concat(lit(s"bloom$i:"), k.cast("string"))),
          lit(mBits.toLong))): _*))

  /** The filter STATE: the distinct set-bit relation of `keys.k` — ≤ m
    * rows no matter how many keys stream through. As a streaming
    * aggregation this is the incremental Bloom build (bounded state,
    * stream == batch exactly; StreamingSketchSpec).
    */
  def bloomBits(keys: DataFrame, mBits: Int = BloomBits, kHashes: Int = BloomHashes): DataFrame =
    keys
      .select(explode(bloomPositions(col("k"), mBits, kHashes)).as("bit"))
      .groupBy(col("bit"))
      .agg(count(lit(1)).as("n_keys_hit"))

  def bloomProbeSummary(
      filterKeys: DataFrame,
      probeKeys: DataFrame,
      mBits: Int = BloomBits,
      kHashes: Int = BloomHashes): DataFrame = {
    def positions(k: Column): Column = bloomPositions(k, mBits, kHashes)
    // each of the three relations below feeds 2-3 consumers — persist via
    // the session cache registry so the key scans don't re-evaluate per use
    val fk = DedupOps.registerCache(
      filterKeys.select(col("k").as("k")).distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val state = DedupOps.registerCache(
      fk.select(explode(positions(col("k"))).as("bit"))
        .distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val probes = DedupOps.registerCache(
      probeKeys.select(col("k").as("k")).distinct()
        .withColumn("bits", positions(col("k")))
        .withColumn("n_need", size(col("bits")))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val flagged = probes
      .select(col("k"), col("n_need"), explode(col("bits")).as("bit"))
      .join(broadcast(state), Seq("bit"))
      .groupBy(col("k"), col("n_need"))
      .agg(count(lit(1)).as("n_hit"))
      .filter(col("n_hit") === col("n_need"))
      .select(col("k"))
    val withTruth = probes.select(col("k"))
      .join(fk.withColumn("in_filter", lit(1L)), Seq("k"), "left")
      .join(flagged.withColumn("is_flagged", lit(1L)), Seq("k"), "left")
      .select(
        coalesce(col("in_filter"), lit(0L)).as("in_filter"),
        coalesce(col("is_flagged"), lit(0L)).as("is_flagged"))
    val nf = fk.agg(count(lit(1)).as("n_filter_keys"))
    val nb = state.agg(count(lit(1)).as("n_set_bits"))
    withTruth
      .agg(
        count(lit(1)).as("n_probes"),
        sum(col("is_flagged")).as("n_flagged"),
        sum(col("in_filter")).as("n_true_member"),
        sum(col("is_flagged") * (lit(1L) - col("in_filter"))).as("n_false_pos"))
      .crossJoin(broadcast(nf))
      .crossJoin(broadcast(nb))
      .select(
        col("n_filter_keys"), col("n_set_bits"), col("n_probes"), col("n_flagged"),
        col("n_true_member"), col("n_false_pos"),
        round(col("n_false_pos").cast("double") /
          (col("n_probes") - col("n_true_member")).cast("double"), 6).as("fp_rate"))
  }

  val CmsDepth = 4
  val CmsWidth = 1024

  /** Count-Min sketch state over a key column: `(row, bucket, c)` counts,
    * `depth × width` rows total — a FIXED-size relation no matter how many
    * input rows stream through, built with one map-side-combinable
    * aggregation (the frequency twin of the HLL's register relation;
    * Cormode & Muthukrishnan 2005). Buckets use the portable 60-bit hash
    * salted per row, so the DuckDB oracle rebuilds the identical sketch.
    */
  def cmsState(df: DataFrame, key: Column): DataFrame = {
    val rows = (0 until CmsDepth).map { r =>
      struct(
        lit(r).as("row"),
        pmod(
          PortableHash.hash60(concat(lit(s"cms$r:"), key.cast("string"))),
          lit(CmsWidth.toLong)).as("bucket"))
    }
    df.select(explode(array(rows: _*)).as("rb"))
      .select(col("rb.row").as("row"), col("rb.bucket").as("bucket"))
      .groupBy(col("row"), col("bucket"))
      .agg(count(lit(1)).as("c"))
  }

  /** Point-query the sketch for the given terms: exact count, CMS estimate
    * (min over depth rows — always ≥ exact), and the overestimate. Output
    * one row per term; the probe is a `depth`-row broadcast join against
    * the fixed-size state.
    */
  def cmsEstimate(df: DataFrame, key: Column, terms: Seq[String]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val state = cmsState(df, key)
    val probes = terms
      .flatMap(t => (0 until CmsDepth).map(r => (t, r)))
      .toDF("term", "p_row")
      .withColumn(
        "p_bucket",
        pmod(
          PortableHash.hash60(concat(concat(lit("cms"), col("p_row")), lit(":"), col("term"))),
          lit(CmsWidth.toLong)))
    // LEFT join from the probes: an empty bucket means estimate 0, not a
    // missing output row (a never-seen term must report n_cms = 0). The
    // state is the broadcast side — it's the fixed depth×width relation
    // (the probes can't broadcast: they're the outer side).
    val est = probes
      .join(
        broadcast(state),
        col("row") === col("p_row") && col("bucket") === col("p_bucket"),
        "left")
      .groupBy(col("term"))
      .agg(min(coalesce(col("c"), lit(0L))).as("n_cms"))
    val exact = df
      .select(key.cast("string").as("term"))
      .filter(col("term").isin(terms: _*))
      .groupBy(col("term"))
      .agg(count(lit(1)).as("n_exact"))
    est
      .join(exact, Seq("term"), "left")
      .select(
        col("term"),
        coalesce(col("n_exact"), lit(0L)).as("n_exact"),
        col("n_cms"),
        (col("n_cms") - coalesce(col("n_exact"), lit(0L))).as("overcount"))
      .orderBy(col("term"))
  }

  /** Sketch-based equi-join cardinality estimate — the AMS/CMS inner
    * product (Alon–Matias–Szegedy; Cormode & Muthukrishnan 2005 §4.2):
    * `|A ⋈ B| = Σ_k cA(k)·cB(k)` is estimated per depth row by the dot
    * product of the two sides' CMS counter rows, taking the min over
    * rows (each row's dot is an overestimate — hash collisions only add).
    * This is the optimizer statistic a planner wants BEFORE running a
    * potentially explosive join (self-joins on skewed keys especially):
    * both sketches build in one map-side-combinable pass per side over
    * fixed depth×width state, the estimate is a ≤ 4096-row join — no
    * key-level relation is ever formed.
    *
    * Output (1 row): `n_exact` (for the audit — the keyed-count product
    * aggregation a real planner would NOT run), `n_est`, and the rounded
    * relative overestimate. All sums run in DECIMAL(38,0): per-key counts
    * can reach 10¹²-scale at 100 TB, so count products overflow BIGINT.
    */
  def joinSizeEstimate(a: DataFrame, aKey: Column, b: DataFrame, bKey: Column): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val sa = cmsState(a, aKey)
    val sb = cmsState(b, bKey).withColumnRenamed("c", "cb")
    // a depth row ABSENT from the joined dot relation has no shared
    // buckets at all — its dot is 0, which is the tightest (and exact)
    // estimate, so any missing row forces the min to 0
    val est = sa
      .join(sb, Seq("row", "bucket"))
      .groupBy(col("row"))
      .agg(sum(dec(col("c")) * col("cb")).as("dot"))
      .agg(count(lit(1)).as("nrows"), min(col("dot")).as("mindot"))
      .select(
        when(col("nrows") < CmsDepth, lit(0).cast("decimal(38,0)"))
          .otherwise(col("mindot"))
          .as("n_est"))
    val exact = a
      .select(aKey.as("k"))
      .groupBy(col("k"))
      .agg(count(lit(1)).as("ca"))
      .join(
        b.select(bKey.as("k")).groupBy(col("k")).agg(count(lit(1)).as("cb")),
        Seq("k"))
      .agg(coalesce(sum(dec(col("ca")) * col("cb")), lit(0).cast("decimal(38,0)"))
        .as("n_exact"))
    exact
      .crossJoin(broadcast(est))
      .select(
        col("n_exact").cast("bigint").as("n_exact"),
        col("n_est").cast("bigint").as("n_est"),
        // NULL (not NaN/Inf) when the exact join is empty — cross-engine
        // agreement must not hang on DuckDB's ieee_floating_point_ops mode
        when(
          col("n_exact") > 0,
          round(
            (col("n_est") - col("n_exact")).cast("double") / col("n_exact").cast("double"),
            6)).as("rel_over"))
  }

  /** Two-pass sampled heavy hitters over adjacent token bigrams — the
    * sample-then-verify pattern for frequent-item mining when the key
    * space is too large to group exactly (billions of distinct n-grams at
    * corpus scale):
    *
    *  1. CANDIDATES: a deterministic 1/`sampleDen` occurrence sample
    *     (portable hash of `doc_id:pos` — position-based, so a hot
    *     bigram cannot dodge the sample) is grouped exactly; bigrams
    *     with ≥ `candMin` sampled occurrences survive.
    *  2. VERIFY: one exact count of ONLY the candidates (broadcast semi
    *     join), filtered to true count ≥ `threshold`.
    *
    * The full-cardinality groupBy never happens: pass 1 groups 1/8 of
    * the occurrences, pass 2 groups a candidate-pruned stream. Recall is
    * 1 − P[Binom(f, 1/sampleDen) < candMin] per bigram of true count f —
    * ≥ 99.9 % at `threshold`/`sampleDen` ≥ 2·`candMin` — and precision
    * is exact (pass 2 is a true count). Both passes are deterministic
    * (hash sample, no RNG), so the oracle reproduces the result
    * bit-for-bit, including any sampling miss.
    *
    * At extreme candidate volumes swap the broadcast for a shuffle
    * semi-join; the candidate relation is bounded by
    * `sample_volume / candMin`, far below the raw key space.
    *
    * Output: `(tok, n_sample, n_exact, rank)` for candidates with
    * `n_exact ≥ threshold`, ranked by `(n_exact desc, tok)`.
    */
  def heavyHittersSampled(
      docs: DataFrame,
      sampleDen: Long = 8L,
      candMin: Long = 3L,
      threshold: Long = 40L): DataFrame = {
    // Round 14 NOTE: a Spread.respread before the bigram explode was tried
    // and REVERTED — each leg's kernel stage is only ~0.2-0.3 s
    // single-task (under the measured ≥0.4 s respread profitability
    // floor), and the full-sweep record read 0.94 -> 1.01 s with it in.
    val tk = docs.select(col("doc_id"), split(col("text"), " ").as("t"))
    val bg = tk
      .select(
        col("doc_id"),
        posexplode(
          zip_with(
            slice(col("t"), lit(1), size(col("t")) - 1),
            slice(col("t"), lit(2), size(col("t")) - 1),
            (a, b) => concat(a, lit(" "), b))))
      .select(col("doc_id"), col("pos"), col("col").as("tok"))
    val h = PortableHash.hash60(
      concat_ws(":", lit("hh"), col("doc_id"), col("pos")))
    val cand = bg
      .filter(pmod(h, lit(sampleDen)) === 0L)
      .groupBy(col("tok"))
      .agg(count(lit(1)).as("n_sample"))
      .filter(col("n_sample") >= candMin)
    val w = Window.orderBy(col("n_exact").desc, col("tok"))
    bg.join(broadcast(cand), Seq("tok"))
      .groupBy(col("tok"))
      .agg(max(col("n_sample")).as("n_sample"), count(lit(1)).as("n_exact"))
      .filter(col("n_exact") >= threshold)
      .withColumn("rank", row_number().over(w))
      .orderBy(col("rank"))
  }

  /** DETERMINISTIC-GUARANTEE heavy hitters via a Misra–Gries candidate
    * pass + exact verify — the third member of the candidate-generation
    * ladder beside [[heavyHittersSampled]] (probabilistic recall) and
    * [[cmsEstimate]] (point queries only, can't enumerate):
    *
    *  1. CANDIDATES: ONE typed aggregation folds the key stream (as
    *     portable 60-bit hashes — 8 bytes each, never the strings) into
    *     a ≤ `k`-counter [[graft.functions.MisraGries]] summary. The MG
    *     merge guarantee makes the candidate set a SUPERSET of every key
    *     with true frequency > n/(k+1), under any partitioning.
    *  2. VERIFY: exact count of only the candidates (≤ k-row broadcast
    *     semi-join), filtered to `n_key · (k+1) > n_total` — so the
    *     output is EXACTLY the true heavy-hitter set with exact counts,
    *     deterministic even though the MG counters themselves are
    *     merge-order-dependent (MgSpec pins both).
    *
    * The full-cardinality groupBy never happens; state is k counters per
    * task. TWO scans of the key stream total: the MG summary carries its
    * own `n_total` (a mergeable sum in the same buffer — round-12 advice
    * #3 closed the separate count scan), and the persisted 1-row summary
    * feeds both the candidate broadcast and the total. Output:
    * `(term, n_term, n_total, frac)` ordered by `(n_term desc, term)`.
    */
  def heavyHittersMg(df: DataFrame, key: Column, k: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    // NULL keys drop before the typed aggregation: hash60 null-propagates
    // and a Dataset[Long] cannot decode a null — and a NULL "term" is not
    // a meaningful heavy hitter. n_total therefore counts non-null keys.
    val toks = df.select(key.cast("string").as("term"))
      .filter(col("term").isNotNull)
      .withColumn("h", PortableHash.hash60(col("term")))
    val mg = new graft.functions.MisraGries(k)
    // ONE pass yields both the ≤k candidate set and n_total (the summary
    // carries its own count — round-12 advice #3: this was a third scan);
    // the 1-row summary persists so its two readers share one evaluation
    val summary = DedupOps.registerCache(
      toks
        .select(col("h"))
        .as[Long]
        .select(mg.toColumn)
        .toDF("n_total", "cands")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val candidates = summary.select(explode(col("cands")).as("h"))
    val tot = summary.select(col("n_total"))
    toks
      .join(broadcast(candidates), Seq("h"))
      .groupBy(col("term"))
      .agg(count(lit(1)).as("n_term"))
      .crossJoin(broadcast(tot))
      .filter(col("n_term") * lit(k.toLong + 1L) > col("n_total"))
      .select(
        col("term"), col("n_term"), col("n_total"),
        round(col("n_term").cast("double") / col("n_total").cast("double"), 6)
          .as("frac"))
      .orderBy(col("n_term").desc, col("term"))
  }
}
