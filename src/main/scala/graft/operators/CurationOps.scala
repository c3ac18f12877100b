package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.PortableHash

/** Corpus-curation operators beyond the per-document text statistics
  * (SURVEY §7.6): span-level dedup, token-distribution entropy, composed
  * Gopher-style rule filtering, BM25 retrieval, and exact-k stratified
  * sampling.
  *
  * Determinism contract (same as TextOps/DedupOps): every hashed value is
  * the portable 60-bit md5 prefix ([[PortableHash]]), every transcendental
  * is quantized to integer nano-units BEFORE any aggregation (float sums
  * are partition-order-dependent; integer sums are exact), and every
  * exposed ratio is one double division of exact integers rounded to 6
  * decimals — so the DuckDB oracles reproduce results bit-for-bit.
  */
object CurationOps {

  /** Corpus-level span dedup — the paragraph-dedup step of a CCNet-style
    * pipeline, re-expressed over token windows (this corpus has no line
    * structure): each document is cut into non-overlapping `w`-token spans,
    * spans are hashed (portable 60-bit), and a span occurrence is
    * "duplicated" when its hash appears more than once in the corpus.
    * Output per doc: `(doc_id, n_spans, n_dup_spans, dup_span_frac)`.
    *
    * Scale shape: one aggregation shuffle keyed by the 8-byte span hash
    * (count per span), then an equi-join of the span stream back to those
    * counts — both exchanges move longs, never text. At 100 TB this is the
    * standard two-pass suffix of every exact-dedup pipeline; the span
    * relation is persisted because it feeds both the count aggregation and
    * the join-back (released via [[DedupOps.releaseShingleCaches]]).
    */
  def spanDedup(docs: DataFrame, w: Int = 8): DataFrame = {
    val tk = TextOps.tokens(col("text"))
    // non-overlapping cover: ceil(n/w) spans, the last one possibly short
    val nSpans = ((size(col("tk")) + lit(w - 1)).cast("double") / lit(w.toDouble)).cast("int")
    val spans = DedupOps.registerCache(
      docs
        .select(col("doc_id"), tk.as("tk"))
        .select(
          col("doc_id"),
          explode(
            transform(
              sequence(lit(0), nSpans - 1),
              k => concat_ws(" ", slice(col("tk"), k * lit(w) + 1, lit(w))))).as("s"))
        .select(col("doc_id"), PortableHash.hash60(col("s")).as("h"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val counts = spans.groupBy(col("h")).agg(count(lit(1)).as("n"))
    spans
      .join(counts, Seq("h"))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_spans"),
        sum(when(col("n") > 1, 1L).otherwise(0L)).as("n_dup_spans"))
      .select(
        col("doc_id"),
        col("n_spans"),
        col("n_dup_spans"),
        round(col("n_dup_spans").cast("double") / col("n_spans").cast("double"), 6)
          .as("dup_span_frac"))
      .orderBy(col("doc_id"))
  }

  /** Token-distribution Shannon entropy per document — the gibberish /
    * boilerplate detector a curation pipeline runs alongside the unigram-LM
    * score: `H = ln(n) − (Σ_w c_w·ln(c_w)) / n` over the doc's token counts
    * (natural-log nats). Low entropy → repetitive; `H = ln(n_distinct)`
    * when all tokens are distinct.
    *
    * Determinism: `ln(c_w)` is quantized to integer nano-units per distinct
    * token BEFORE the weighted sum (`c_w` and the quantized log are both
    * exact integers), so the aggregation is order-independent; only the
    * final subtraction is float, rounded to 6 decimals. Scale: one
    * (doc, token) count aggregation + one per-doc aggregation — both keyed
    * shuffles, map-side combined, no joins.
    */
  def docEntropy(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("tok"))
      .groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(
        sum(col("c")).as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        sum(col("c") * round(log(col("c")) * lit(1e9)).cast("long")).as("sum_clnc"))
      .select(
        col("doc_id"),
        col("n_tokens"),
        col("n_distinct"),
        round(
          log(col("n_tokens")) -
            col("sum_clnc").cast("double") / lit(1e9) / col("n_tokens").cast("double"),
          6).as("entropy"))
      .orderBy(col("doc_id"))

  /** Composed Gopher-style rule filter (Rae et al. 2021 §A1.1) — the
    * boolean gates a pretraining pipeline applies before dedup, adapted to
    * this corpus (no punctuation/symbols, so the symbol-ratio rule becomes
    * a 1-char-token-ratio rule):
    *
    *   - `ok_len`:       50 ≤ n_tokens ≤ 100 000
    *   - `ok_mean_len`:  3 ≤ mean token length ≤ 10
    *   - `ok_stop`:      ≥ 2 distinct stopwords present
    *   - `ok_short`:     ≤ 10% of tokens are single-char
    *   - `ok_rep`:       duplicate-bigram fraction ≤ 0.2
    *
    * `pass` = all five. Every rule is a per-row array expression over one
    * tokenization — a pure narrow transform, zero shuffles, fully
    * codegen'd; at 100 TB this runs at scan speed.
    */
  def gopherRules(docs: DataFrame): DataFrame = {
    val tk = TextOps.tokens(col("text"))
    // round 14 (guide §2.5 idle capacity): the per-doc HOF kernel below
    // (bigram transform + two array_distincts) is this plan's dominant
    // cost and fuses into the scan stage — 1 task on a split-starved
    // corpus. Respread raw rows first; identity on rows, no-op at scale.
    val docd = graft.core.Spread
      .respread(docs, Seq(col("doc_id")), "gopherRules.spread")
      .select(col("doc_id"), length(col("text")).as("nc"), tk.as("tk"))
    val n = size(col("tk"))
    val meanLen = (col("nc") - (n - lit(1))).cast("double") / n.cast("double")
    val nStop = size(filter(array_distinct(col("tk")), w => w.isInCollection(TextOps.Stopwords)))
    val shortFrac =
      size(filter(col("tk"), w => length(w) === 1)).cast("double") / n.cast("double")
    val bigrams = transform(
      sequence(lit(1), n - lit(1)),
      i => concat_ws(" ", slice(col("tk"), i, lit(2))))
    val dupBgFrac = when(n >= 2,
      lit(1.0) - size(array_distinct(bigrams)).cast("double") / (n - lit(1)).cast("double"))
      .otherwise(lit(0.0))
    val flags: Seq[(String, Column)] = Seq(
      "ok_len" -> (n >= 50 && n <= 100000),
      "ok_mean_len" -> (meanLen >= 3.0 && meanLen <= 10.0),
      "ok_stop" -> (nStop >= 2),
      "ok_short" -> (shortFrac <= 0.1),
      "ok_rep" -> (dupBgFrac <= 0.2))
    docd
      .select(
        (col("doc_id") +: n.as("n_tokens") +:
          flags.map { case (name, c) => c.cast("int").as(name) }): _*)
      .withColumn("pass", flags.map { case (name, _) => col(name) }.reduce(_ * _))
      .orderBy(col("doc_id"))
  }

  /** BM25 retrieval over the corpus for a fixed bag of query terms — the
    * relevance-ranking primitive of a data-curation search index
    * (Robertson/Sparck Jones probabilistic weighting, Lucene's
    * `ln(1 + (N − df + ½)/(df + ½))` non-negative idf variant, k1 = 1.2,
    * b = 0.75). Returns the global top-`topK` documents as
    * `(doc_id, score_nano, score, rank)`.
    *
    * Determinism: idf and each per-(doc,term) partial score are quantized
    * to integer nano-units, so the per-doc sum over terms is exact integer
    * arithmetic regardless of aggregation order; `score` is the one final
    * float division, rounded. Scale shape: term frequencies are one keyed
    * aggregation over the (pre-filtered!) token stream — the `isin(terms)`
    * predicate prunes the explode output before any exchange; corpus stats
    * (N, Σdl) and per-term df are tiny relations broadcast into the scoring
    * expression; the global top-k is a rank window whose input Spark
    * executes as `TakeOrderedAndProject` (per-partition heap top-k, no
    * global sort of the scored relation).
    */
  def bm25(docs: DataFrame, terms: Seq[String], topK: Int = 20): DataFrame = {
    // k1 = 1.2, b = 0.75. Constants appear ONLY as the literals 2.2, 1.2,
    // 0.25, 0.75 — spelled identically in the DuckDB oracle, because
    // computing k1+1 at plan-build time could round differently than the
    // other engine's literal parse (1.2 + 1.0 is an exact round-to-even
    // tie in binary64).
    val dl = docs.select(col("doc_id"), size(TextOps.tokens(col("text"))).as("dl"))
    // corpus stats as a 1-row broadcast (exact integers)
    val stats = dl.agg(count(lit(1)).as("n_corpus"), sum(col("dl")).as("sum_dl"))
    // persisted: the per-(doc, term) frequencies feed both the df
    // aggregation and the scoring join — uncached, the token explode +
    // filter + aggregation lineage runs twice. The relation is bounded by
    // |terms|·N rows (tiny next to the corpus), so the cache is safe at
    // any scale; released via DedupOps.releaseShingleCaches.
    val tf = DedupOps.registerCache(
      docs
        .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("tok"))
        .filter(col("tok").isInCollection(terms))
        .groupBy(col("doc_id"), col("tok"))
        .agg(count(lit(1)).as("tf"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val df = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    // idf in nano-units: ln(1 + (N − df + 0.5)/(df + 0.5)), quantized once
    // per term so the downstream per-doc sum stays exact
    val idfNano = round(
      log(
        lit(1.0) +
          (col("n_corpus").cast("double") - col("df").cast("double") + lit(0.5)) /
            (col("df").cast("double") + lit(0.5))) * lit(1e9)).cast("long")
    // tf saturation: tf·(k1+1) / (tf + k1·(1 − b + b·dl·N/Σdl)) — dl·N is
    // exact int64; the double expression tree is written identically in the
    // DuckDB oracle, so IEEE evaluation matches term-by-term
    val sat = (col("tf").cast("double") * lit(2.2)) /
      (col("tf").cast("double") +
        lit(1.2) * (lit(0.25) +
          lit(0.75) * (col("dl") * col("n_corpus")).cast("double") / col("sum_dl").cast("double")))
    // idf is evaluated inside the scoring projection (df and n_corpus are
    // both in scope after the joins) rather than via a separate
    // df×stats relation — one fewer evaluation of the stats aggregate,
    // and the quantize-then-multiply order is unchanged so every
    // per-(doc,term) s_nano is bit-identical
    val w = Window.orderBy(col("score_nano").desc, col("doc_id"))
    tf
      .join(broadcast(df), Seq("tok"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), round(idfNano * sat).cast("long").as("s_nano"))
      .groupBy(col("doc_id"))
      .agg(sum(col("s_nano")).as("score_nano"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(
        col("doc_id"),
        col("score_nano"),
        round(col("score_nano").cast("double") / lit(1e9), 6).as("score"),
        col("rank"))
      .orderBy(col("rank"))
  }

  /** Temperature-weighted mixture sampling weights — the "how much of
    * each source" step of dataset assembly (the α-smoothed sampling used
    * for multilingual/multi-source training mixes): `w_s ∝ n_s^α` with
    * α = 0.5, i.e. sqrt-damped so small sources are upsampled relative to
    * raw proportions. Output per source:
    * `(source, n_docs, weight, expected_docs)` for a `budget`-doc sample.
    *
    * Determinism: each source's `sqrt(n)` is quantized to nano-units
    * BEFORE the normalizing sum (a raw float Σ√n would be
    * aggregation-order-dependent); the weight is then one double division
    * of exact integers. Scale: one count aggregation + a 1-row broadcast.
    */
  def sourceMixture(docs: DataFrame, budget: Int = 1000): DataFrame = {
    val counts = docs
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("q_nano", round(sqrt(col("n_docs").cast("double")) * lit(1e9)).cast("long"))
    val total = counts.agg(sum(col("q_nano")).as("q_total"))
    counts
      .crossJoin(broadcast(total))
      .select(
        col("source"),
        col("n_docs"),
        round(col("q_nano").cast("double") / col("q_total").cast("double"), 6).as("weight"),
        round(
          col("q_nano").cast("double") / col("q_total").cast("double") * lit(budget),
          6).as("expected_docs"))
      .orderBy(col("source"))
  }

  /** Token-budget mixture plan: temperature-weighted (α=0.5) allocation of
    * a total training-token budget across sources, plus the repeat factor
    * ("epochs") each source needs to fill its allocation — the signal a
    * data-constrained mixture watches (epochs ≫ 1 means heavy upsampling;
    * usefulness of repetition decays after ~4 epochs, Muennighoff et al.
    * 2023, arXiv:2305.16264). Output per source:
    * `(source, n_docs, avail_tokens, weight, target_tokens, epochs)`.
    *
    * Determinism: per-source √tokens is quantized to nano-units BEFORE the
    * normalizing sum (the [[sourceMixture]] convention); `target_tokens`
    * truncates toward zero (oracle: `CAST(trunc(…) AS BIGINT)`); the
    * `epochs` division chain is the same IEEE double expression on both
    * engines, rounded to 6. Scale: one count+sum aggregation over the
    * corpus and a 1-row broadcast — no shuffle beyond the groupBy.
    */
  def mixtureBudget(docs: DataFrame, budgetTokens: Long = 1000000L): DataFrame = {
    val counts = docs
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(size(split(col("text"), " ")).cast("long")).as("avail_tokens"))
      .withColumn(
        "q_nano",
        round(sqrt(col("avail_tokens").cast("double")) * lit(1e9)).cast("long"))
    val total = counts.agg(sum(col("q_nano")).as("q_total"))
    val share = col("q_nano").cast("double") / col("q_total").cast("double")
    counts
      .crossJoin(broadcast(total))
      .select(
        col("source"),
        col("n_docs"),
        col("avail_tokens"),
        round(share, 6).as("weight"),
        (share * lit(budgetTokens.toDouble)).cast("long").as("target_tokens"),
        round(
          share * lit(budgetTokens.toDouble) / col("avail_tokens").cast("double"),
          6).as("epochs"))
      .orderBy(col("source"))
  }

  /** DSIR-style importance weights (Xie et al. 2023, arXiv:2302.03169):
    * score each raw-pool document by how target-like its hashed n-gram
    * feature distribution is — `log w(d) = Σ_tokens ln p̂_target(b(tok)) −
    * ln p̂_raw(b(tok))` over `nBuckets` hashed unigram buckets with add-1
    * smoothing. Documents with high `logw` are up-weighted when resampling
    * the raw pool toward the target domain (here: the `targetLang`
    * documents stand in for the target corpus; the whole table is the raw
    * pool). Output per doc: `(doc_id, lang, n_tokens, logw)`.
    *
    * Determinism: every `ln` is of an exact integer (bucket count + 1 or
    * total + nBuckets), quantized to nano-units BEFORE the per-doc sum —
    * the per-bucket log-ratio is integer arithmetic on those nano values,
    * so the sum is exact in any partition order ([[TextOps.unigramNll]]
    * convention); the exposed `logw` is one nano→double division rounded
    * to 6.
    *
    * Scale shape: token explode → one aggregation to a FIXED `nBuckets`-row
    * feature table (two counts in one pass via conditional sum), a 1-row
    * total, then a broadcast join of tokens→buckets and a per-doc sum. The
    * feature table never grows with the corpus — that is the point of
    * hashed features: at 100 TB the only corpus-sized shuffles are the
    * token count and the per-doc sum, both map-side combinable.
    */
  def dsirWeights(docs: DataFrame, targetLang: String = "en", nBuckets: Int = 256): DataFrame = {
    val toks = DedupOps.registerCache(
      docs
        .select(
          col("doc_id"),
          col("lang"),
          explode(TextOps.tokens(col("text"))).as("tok"))
        .withColumn(
          "bucket",
          pmod(PortableHash.hash60(concat(lit("dsir:"), col("tok"))), lit(nBuckets.toLong)))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    // one pass over the token stream: raw count + target count per bucket
    val buckets = toks
      .groupBy(col("bucket"))
      .agg(
        count(lit(1)).as("n_raw"),
        sum(when(col("lang") === lit(targetLang), 1L).otherwise(0L)).as("n_tgt"))
    val totals = buckets.agg(
      sum(col("n_raw")).as("tot_raw"),
      sum(col("n_tgt")).as("tot_tgt"))
    def lnNano(c: Column): Column = round(log(c) * lit(1e9)).cast("long")
    // add-1 smoothing: ln((n_tgt+1)/(tot_tgt+B)) - ln((n_raw+1)/(tot_raw+B)),
    // expanded so every ln argument is an exact integer (cross-engine safe)
    val scored = buckets
      .crossJoin(broadcast(totals))
      .select(
        col("bucket"),
        (lnNano(col("n_tgt") + lit(1L)) - lnNano(col("tot_tgt") + lit(nBuckets.toLong))
          - lnNano(col("n_raw") + lit(1L)) + lnNano(col("tot_raw") + lit(nBuckets.toLong)))
          .as("lr_nano"))
    toks
      .join(broadcast(scored), Seq("bucket"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("lr_nano")).as("sum_lr"))
      .select(
        col("doc_id"),
        col("lang"),
        col("n_tokens"),
        round(col("sum_lr").cast("double") / lit(1e9), 6).as("logw"))
      .orderBy(col("doc_id"))
  }

  /** Regex pattern profiling — the PII/contamination scan of a curation
    * pipeline: count matches of a named pattern set per source. The
    * default set mixes PII shapes (email, IPv4 — the patterns a redaction
    * pass greps for) with lexical probes that do hit this corpus, so the
    * cross-engine regex parity is exercised on real matches too; the
    * PII-positive path is spec-verified on golden fixtures
    * (`CurationOpsSpec`). Patterns stay in the Java∩RE2 common subset
    * (classes, bounded repeats — no lookaround, no `\b`). Output per
    * (source, pattern): `(source, pattern, n_docs, n_docs_hit, n_matches,
    * hit_rate)`.
    *
    * Scale shape: single narrow scan — per doc an array of (name, count)
    * structs, exploded then aggregated by (source, pattern); the shuffle
    * carries `sources × patterns` groups of longs. Match counting is
    * `regexp_extract_all` length (non-overlapping leftmost, identical in
    * Java regex and RE2).
    */
  def patternScan(
      docs: DataFrame,
      patterns: Seq[(String, String)] = DefaultPatterns): DataFrame = {
    val hits = array(patterns.map { case (name, re) =>
      struct(
        lit(name).as("pattern"),
        size(regexp_extract_all(col("text"), lit(re), lit(0))).cast("long").as("cnt"))
    }: _*)
    docs
      .select(col("source"), explode(hits).as("h"))
      .select(col("source"), col("h.pattern").as("pattern"), col("h.cnt").as("cnt"))
      .groupBy(col("source"), col("pattern"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("cnt") > 0, 1L).otherwise(0L)).as("n_docs_hit"),
        sum(col("cnt")).as("n_matches"))
      .withColumn(
        "hit_rate",
        round(col("n_docs_hit").cast("double") / col("n_docs").cast("double"), 6))
      .orderBy(col("source"), col("pattern"))
  }

  /** Default [[patternScan]] set: two PII shapes + two lexical probes. */
  val DefaultPatterns: Seq[(String, String)] = Seq(
    "email" -> "[a-z0-9._%+-]+@[a-z0-9.-]+[.][a-z]{2,}",
    "ipv4" -> "[0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}",
    "kw_spark" -> "spark",
    "short_tok" -> " [a-z]{1,3} ")

  /** PII redaction: replace every match of the PII patterns with a typed
    * placeholder (`<EMAIL>`, `<IPV4>`). Narrow per-row transform — the
    * write-side twin of the [[patternScan]] report. Spec-verified on
    * golden fixtures (the corpus itself is PII-free by construction).
    */
  def redactPii(docs: DataFrame): DataFrame =
    docs.withColumn(
      "text",
      regexp_replace(
        regexp_replace(col("text"), "[a-z0-9._%+-]+@[a-z0-9.-]+[.][a-z]{2,}", "<EMAIL>"),
        "[0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}",
        "<IPV4>"))

  /** Trainable quality classifier — logistic regression fit by
    * distributed batch gradient descent INSIDE the engine (the
    * fastText-style "train a cheap filter, score the corpus" step of a
    * curation pipeline, here distilling the rule gate into a linear
    * scorer). Features are small exact integers (length bucket, stopword
    * percent decile, diversity percent decile + bias); the label is the
    * integer-exact form of the [[TextOps.quality]] "high" bucket. Output,
    * one row: `(n_docs, w_bias, w_len, w_stop, w_div, acc)`.
    *
    * Determinism (the whole design): weights live as nano-unit longs, so
    * the margin `z = Σ wᵢxᵢ` is EXACT integer arithmetic; the only float
    * step is the per-doc sigmoid, whose residual is quantized to nano
    * BEFORE the gradient sum (`Σ s·xᵢ` is again exact in any partition
    * order); the update divides by `4n` once and truncates back to nano
    * integers. Train accuracy is an exact `z > 0` integer compare. The
    * oracle unrolls the same two iterations in CTEs — bit-identical.
    *
    * Scale shape: each iteration is ONE map-side-combinable aggregation
    * over the feature relation (cached once) producing a 1-row gradient,
    * broadcast back — O(features) driver-side state, never O(corpus);
    * exactly the classic distributed-GD-on-Spark layout, minus the float
    * nondeterminism that usually makes it unreproducible.
    */
  def qualityClassifier(docs: DataFrame, iters: Int = 2): DataFrame = {
    val t = TextOps.tokens(col("text"))
    val base = docs.select(
      size(t).cast("long").as("nt"),
      size(filter(t, w => w.isInCollection(TextOps.Stopwords))).cast("long").as("sc"),
      size(array_distinct(t)).cast("long").as("nd"))
    val feats = DedupOps.registerCache(
      base
        .select(
          when(
            col("nt").between(20L, 1000L) &&
              col("sc") * 50L >= col("nt") && col("sc") * 2L <= col("nt") &&
              col("nd") * 5L >= col("nt"),
            1L).otherwise(0L).as("y"),
          lit(1L).as("x0"),
          least(expr("nt DIV 64"), lit(15L)).as("x1"),
          expr("((sc * 100) DIV nt) DIV 10").as("x2"),
          expr("((nd * 100) DIV nt) DIV 10").as("x3"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val spark = docs.sparkSession
    var w: DataFrame = spark
      .range(1)
      .select(lit(0L).as("w0"), lit(0L).as("w1"), lit(0L).as("w2"), lit(0L).as("w3"))
    for (_ <- 1 to iters) {
      val z = col("x0") * col("w0") + col("x1") * col("w1") +
        col("x2") * col("w2") + col("x3") * col("w3")
      val p = lit(1.0) / (lit(1.0) + exp(-z.cast("double") / lit(1e9)))
      val s = round((col("y").cast("double") - p) * lit(1e9)).cast("long")
      w = feats
        .crossJoin(broadcast(w))
        .select(col("w0"), col("w1"), col("w2"), col("w3"),
          col("x0"), col("x1"), col("x2"), col("x3"), s.as("s"))
        .agg(
          count(lit(1)).as("n"),
          first(col("w0")).as("pw0"), first(col("w1")).as("pw1"),
          first(col("w2")).as("pw2"), first(col("w3")).as("pw3"),
          sum(col("s") * col("x0")).as("g0"), sum(col("s") * col("x1")).as("g1"),
          sum(col("s") * col("x2")).as("g2"), sum(col("s") * col("x3")).as("g3"))
        .select(
          (col("pw0") + (col("g0").cast("double") / (lit(4.0) * col("n"))).cast("long"))
            .as("w0"),
          (col("pw1") + (col("g1").cast("double") / (lit(4.0) * col("n"))).cast("long"))
            .as("w1"),
          (col("pw2") + (col("g2").cast("double") / (lit(4.0) * col("n"))).cast("long"))
            .as("w2"),
          (col("pw3") + (col("g3").cast("double") / (lit(4.0) * col("n"))).cast("long"))
            .as("w3"))
    }
    val zF = col("x0") * col("w0") + col("x1") * col("w1") +
      col("x2") * col("w2") + col("x3") * col("w3")
    feats
      .crossJoin(broadcast(w))
      .agg(
        count(lit(1)).as("n_docs"),
        first(col("w0")).as("fw0"), first(col("w1")).as("fw1"),
        first(col("w2")).as("fw2"), first(col("w3")).as("fw3"),
        sum(when((zF > 0L) === (col("y") === 1L), 1L).otherwise(0L)).as("n_correct"))
      .select(
        col("n_docs"),
        round(col("fw0").cast("double") / lit(1e9), 4).as("w_bias"),
        round(col("fw1").cast("double") / lit(1e9), 4).as("w_len"),
        round(col("fw2").cast("double") / lit(1e9), 4).as("w_stop"),
        round(col("fw3").cast("double") / lit(1e9), 4).as("w_div"),
        round(col("n_correct").cast("double") / col("n_docs").cast("double"), 6).as("acc"))
  }

  /** CCNet-style language-model buckets: rank documents by their unigram
    * NLL ([[TextOps.unigramNll]]) and split into terciles — `head` (most
    * fluent), `middle`, `tail` (most surprising / likely noise). Output
    * per bucket: doc count and the exact integer NLL-nano sum (so the
    * per-bucket mean is reproducible bit-for-bit).
    *
    * Bucket semantics are exactly `ntile(3) OVER (ORDER BY avg_nll,
    * doc_id)` — the first `n mod 3` terciles one row larger, ties broken by
    * doc_id — but computed WITHOUT a corpus-cardinality window (the one
    * SURVEY §3.3 invariant violation this module carried until round 7),
    * via [[RankOps.ntileCuts]]: bounded bin histogram → boundary-rank
    * location → exact cut keys from a rank window over boundary-bin rows
    * only → broadcast cut-key comparison. Same result, and the only global
    * sort left is over ≤ 4096 histogram bins. (The machinery was built
    * here in round 7 and generalized into [[RankOps]] in round 8 — the
    * ntile-twin equivalence is property-pinned in `RankOpsSpec` plus the
    * 1×/4×/16× measurement in PERF.md "Round 7: lmBuckets cutpoint
    * shape".)
    *
    * PRECONDITION (RankOps bucket contract): `doc_id` is unique, so the
    * (avg_nll, doc_id) key is strictly ordered and `key ≤ cut` admits
    * exactly the tercile's rank count. Duplicate doc_ids would over-admit
    * ties and silently skew bucket sizes — uniqueness is a documents-table
    * invariant ([[TextOps.unigramNllCore]] aggregates by doc_id, so its
    * output holds it by construction).
    */
  def lmBuckets(docs: DataFrame): DataFrame = {
    // persist barrier: the per-doc score relation feeds four passes below
    // (stats, bin histogram, boundary ranking, final bucketing) — and its
    // own lineage re-runs the token explode + vocab join otherwise
    val scored = graft.operators.DedupOps.registerCache(
      TextOps
        .unigramNllCore(docs) // unordered core: no corpus sort in the cache
        .select(col("doc_id"), col("avg_nll"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val base = scored.withColumn("gr_g", lit(0))
    val scoredB = base
      .join(broadcast(RankOps.ntileCuts(base, Seq("gr_g"), Seq("avg_nll", "doc_id"), 3)), Seq("gr_g"))
      .withColumn("bucket", RankOps.ntileBucketExpr(Seq("avg_nll", "doc_id"), 3))
    scoredB
      .groupBy(col("bucket"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(round(col("avg_nll") * lit(1e9)).cast("long")).as("sum_nll_nano"))
      .select(
        when(col("bucket") === 1, "head")
          .when(col("bucket") === 2, "middle")
          .otherwise("tail")
          .as("bucket"),
        col("n_docs"),
        col("sum_nll_nano"),
        round(
          col("sum_nll_nano").cast("double") / lit(1e9) / col("n_docs").cast("double"),
          6).as("mean_nll"))
      .orderBy(col("bucket"))
  }

  /** Exact-k stratified sampling — the "balance the mixture" step of
    * dataset assembly: keep exactly `min(k, |stratum|)` documents per
    * stratum, chosen by a deterministic pseudo-random hash rank (stable
    * across runs, engines, partitionings; adding documents to one stratum
    * never changes another's sample). Output per stratum:
    * `(source, n_docs, n_sampled, sampled_tokens)`.
    *
    * Scale shape: the sample side filters `row_number ≤ k` per stratum
    * (ordered by hash), which Spark rewrites to `WindowGroupLimit` — each
    * map task pre-prunes to k rows per stratum before the exchange, so
    * the window shuffle carries O(k·tasks·strata) rows and no full
    * per-stratum sort ever materializes; stratum totals come from a
    * separate plain count aggregation (a first draft computed totals and
    * sample in ONE window pass, which forced every corpus row through the
    * per-stratum sort — the group-limit pruning only exists when the rank
    * filter is actually in the plan). (The rate-based alternative —
    * `hash mod 100 < p` — is fully map-side but only approximates k; it's
    * already shipped as [[TextOps.datasetSplit]].)
    */
  def stratifiedSample(docs: DataFrame, k: Int = 10): DataFrame = {
    val base = docs.select(col("doc_id"), col("source"), size(TextOps.tokens(col("text"))).as("nt"))
    val totals = base.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
    val rk = row_number().over(
      Window
        .partitionBy(col("source"))
        .orderBy(
          PortableHash.hash60(concat(lit("sample:"), col("doc_id").cast("string"))),
          col("doc_id")))
    val sampledAgg = base
      .withColumn("rk", rk)
      .filter(col("rk") <= k)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_sampled"), sum(col("nt").cast("long")).as("sampled_tokens"))
    totals
      .join(sampledAgg, Seq("source"))
      .select(col("source"), col("n_docs"), col("n_sampled"), col("sampled_tokens"))
      .orderBy(col("source"))
  }

  /** First BPE merge iteration: corpus-weighted counts of adjacent
    * character pairs inside words — the candidate table a byte-pair
    * tokenizer trainer merges from. Top-k pairs by weighted frequency.
    *
    * Scale shape: the classic BPE-trainer trick — aggregate the corpus to
    * its VOCABULARY first (one shuffle over word keys; |vocab| ≪ corpus
    * tokens, and it only grows sublinearly with corpus size), then explode
    * character pairs over vocab rows weighted by word count. The pair
    * aggregation input is O(|vocab| · word length), independent of corpus
    * row count.
    */
  def bpeMergeCandidates(docs: DataFrame, k: Int = 20): DataFrame = {
    val vocab = docs
      .select(explode(TextOps.tokens(col("text"))).as("w"))
      .groupBy(col("w"))
      .agg(count(lit(1)).as("wc"))
    val pairs = when(
      length(col("w")) >= 2,
      transform(
        sequence(lit(1), length(col("w")) - 1),
        i => col("w").substr(i, lit(2))))
      .otherwise(array().cast("array<string>"))
    vocab
      .select(col("w"), col("wc"), explode(pairs).as("pair"))
      .groupBy(col("pair"))
      .agg(sum(col("wc")).as("pair_count"), countDistinct(col("w")).as("n_words"))
      .orderBy(col("pair_count").desc, col("pair"))
      .limit(k)
  }
}
