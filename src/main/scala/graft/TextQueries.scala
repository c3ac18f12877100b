package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.{DedupOps, TextOps}
import graft.sources.Tables

/** Text-analysis queries over `documents` (SURVEY §7.6) + DuckDB oracles.
  *
  * Oracle notes: DuckDB `len`/`length` return BIGINT (cast to INT to match
  * Spark), lambdas use `list_contains` (portable), `regexp_replace` needs
  * the 'g' flag (Spark replaces all matches by default).
  */
object TextQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_stats" -> ((s, dir) => TextOps.stats(Tables.documents(s, dir)).orderBy("doc_id")),
    "text_quality" -> ((s, dir) => TextOps.quality(Tables.documents(s, dir)).orderBy("doc_id")),
    "lang_id" -> ((s, dir) => TextOps.langIdSummary(Tables.documents(s, dir))),
    "token_count" -> ((s, dir) => TextOps.tokenCounts(Tables.documents(s, dir))),
    // Winnowing (rolling-hash) document fingerprints, per-doc summary.
    "doc_winnow" -> ((s, dir) => TextOps.winnowSummary(Tables.documents(s, dir))),
    // Deterministic stratified 80/10/10 split (portable hash60 buckets).
    "dataset_split" -> ((s, dir) => TextOps.splitSummary(Tables.documents(s, dir))),
    // Corpus heavy-hitters: top-5 tokens per language.
    "top_terms" -> ((s, dir) => TextOps.topTerms(Tables.documents(s, dir), k = 5)),
    // Tokenizer-budget planning: share of all corpus tokens covered by
    // the top-k vocabulary at k ∈ {10, 100, 1000, 10000}. The corpus
    // reduces once to the cached vocab relation; the head comes from
    // TakeOrdered (no full vocab sort in Spark), the rank window runs
    // over ≤ 10k rows, totals broadcast.
    "vocab_coverage" -> ((s, dir) => {
      val vocab = graft.operators.DedupOps.registerCache(
        Tables.documents(s, dir)
          .select(explode(TextOps.tokens(col("text"))).as("tok"))
          .groupBy(col("tok")).agg(count(lit(1)).as("n"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      val tot = vocab.agg(sum(col("n")).as("total_tokens"),
        count(lit(1)).as("n_vocab"))
      val ranked = vocab.orderBy(col("n").desc, col("tok")).limit(10000)
        .select(col("n"), row_number()
          .over(Window.orderBy(col("n").desc, col("tok"))).as("rank"))
      val ks = s.range(1)
        .select(explode(array(Seq(10, 100, 1000, 10000).map(lit): _*)).as("k"))
      ranked.crossJoin(broadcast(ks)).filter(col("rank") <= col("k"))
        .groupBy(col("k"))
        .agg(count(lit(1)).as("n_terms"), sum(col("n")).as("covered_tokens"))
        .crossJoin(broadcast(tot))
        .select(col("k"), col("n_terms"), col("covered_tokens"),
          col("total_tokens"), col("n_vocab"),
          round(col("covered_tokens").cast("double") /
            col("total_tokens").cast("double"), 6).as("coverage"))
        .orderBy(col("k"))
    }),
    // Count-Min sketch point queries vs exact counts (fixed 4×1024 state).
    "cms_terms" -> ((s, dir) =>
      graft.operators.SketchOps.cmsEstimate(
        Tables.documents(s, dir).select(explode(TextOps.tokens(col("text"))).as("tok")),
        col("tok"),
        CmsTerms)),
    // Deterministic-guarantee heavy hitters: Misra–Gries 48-counter
    // candidate pass (typed Aggregator, ≤ k state per task) + exact
    // verify of only the candidates — the MG merge guarantee makes the
    // output EXACTLY the terms with frequency > n/49, independent of
    // partitioning, with no full-cardinality groupBy.
    "heavy_hitters_mg" -> ((s, dir) =>
      graft.operators.SketchOps.heavyHittersMg(
        Tables.documents(s, dir).select(explode(TextOps.tokens(col("text"))).as("tok")),
        col("tok"), k = 48)),
    // Gopher-style repetition quality signals per document.
    "doc_repetition" -> ((s, dir) => TextOps.repetitionSignals(Tables.documents(s, dir))),
    // Power-of-two sequence-length histogram + padding overhead at a
    // 512-token context (integer bit-length buckets, exact pad counts).
    "seq_len_hist" -> ((s, dir) => TextOps.seqLenHistogram(Tables.documents(s, dir))),
    // Unigram-LM negative log-likelihood per document (perplexity proxy).
    "doc_logprob" -> ((s, dir) => TextOps.unigramNll(Tables.documents(s, dir))),
    // Bigram-LM NLL with add-one smoothing (order-sensitive perplexity).
    "doc_bigram_nll" -> ((s, dir) => TextOps.bigramNll(Tables.documents(s, dir))),
    // Greedy context-window packing per (lang, hash shard).
    "pack_sequences" -> ((s, dir) => TextOps.packSequences(Tables.documents(s, dir))),
    // Overlapping 64/16 token chunking with per-chunk dedup fingerprints.
    "doc_chunks" -> ((s, dir) => TextOps.chunkDocs(Tables.documents(s, dir))),
    // Heaps-law vocabulary growth over 3-gram shingles: new distinct
    // shingles contributed per 50-document ingest bucket and the
    // cumulative vocabulary curve (single TOKENS saturate in this
    // corpus's 31-word vocabulary — trigrams are the unit that actually
    // grows, and the unit dedup reasons about). Vocab-first shape: the
    // corpus-sized work is one (shingle-hash → min doc_id) aggregation
    // with map-side combine over the session-cached shingle relation
    // (8-byte keys, shared with the dedup family); the cumulative window
    // then runs over ingest BUCKETS (bounded by corpus/50), never over
    // shingles.
    "vocab_growth" -> ((s, dir) => {
      val firstSeen = DedupOps.shingleRows(Tables.documents(s, dir), 3)
        .groupBy(col("h"))
        .agg(min(col("doc_id")).as("first_doc"))
      firstSeen
        .select(expr("first_doc DIV 50").as("bucket"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("new_terms"))
        .select(
          col("bucket"), col("new_terms"),
          sum(col("new_terms")).over(
            Window.orderBy(col("bucket"))
              .rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .as("vocab_cum"))
        .orderBy(col("bucket"))
    }),
    // Quality rollup over the (previously unused) source column. The
    // quality columns are computed INLINE with source in a single scan —
    // the round-2 shape (quality(docs) ⋈ docs on doc_id) re-read and
    // re-tokenized the corpus just to re-attach a column it had dropped:
    // two scans plus a corpus-sized shuffle join for zero semantic gain.
    "source_quality" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      TextOps
        .quality(docs, keyName = "source")
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(when(col("quality_bucket") === "high", 1).otherwise(0)).as("n_high"),
          sum(when(col("quality_bucket") === "low", 1).otherwise(0)).as("n_low"),
          round(avg(col("quality_score")), 6).as("avg_score"),
          sum(col("n_tokens")).as("sum_tokens"))
        .orderBy(col("source"))
    }),
    // The composed training-data pipeline: fingerprint dedup (keep lowest
    // doc_id) → quality gate (score ≥ 2) → per-language token budget.
    "pipeline_clean" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val surv = docs
        .withColumn(
          "rn",
          row_number().over(
            Window.partitionBy(DedupOps.fingerprint(col("text"))).orderBy(col("doc_id"))))
        .filter(col("rn") === 1)
        .drop("rn")
      val passing = TextOps
        .quality(surv)
        .filter(col("quality_score") >= 2)
        .select(col("doc_id"), col("n_tokens"))
      surv
        .select(col("doc_id"), col("lang"))
        .join(passing, Seq("doc_id"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("sum_tokens"))
        .orderBy(col("lang"))
    }),
    // Top adjacent-bigram collocations by PMI (min-count 5, top 20).
    "pmi_bigrams" -> ((s, dir) => TextOps.pmiBigrams(Tables.documents(s, dir))),
    // Per-language Zipf fit (ln freq ~ ln rank) — ranks via the scalable
    // cut-key machinery, never a vocabulary-scale window sort.
    "zipf_slope" -> ((s, dir) => TextOps.zipfSlope(Tables.documents(s, dir))),
    // Per-source type-token ratio + hapax share.
    "source_ttr" -> ((s, dir) => TextOps.sourceLexicalDiversity(Tables.documents(s, dir))),
    // Per-source Jensen-Shannon divergence from the corpus token mixture.
    "source_divergence" -> ((s, dir) => TextOps.sourceDivergence(Tables.documents(s, dir))),
    // Deterministic md5-order training shuffle — reviewable first-100 head.
    "train_shuffle" -> ((s, dir) =>
      graft.operators.TrainsetOps.trainingOrder(Tables.documents(s, dir))),
    // Eval-hygiene audit: 8-gram contamination across the pipeline's own
    // train/val/test split boundaries (decontamination semantics).
    "split_leakage" -> ((s, dir) => TextOps.splitLeakage(Tables.documents(s, dir))),
    // Per-doc top-3 TF-IDF keywords (integer nano-log scores).
    "doc_keywords" -> ((s, dir) => TextOps.docKeywords(Tables.documents(s, dir))),
    // Frequent-bigram mining via the sample-then-verify scale pattern:
    // deterministic 1/8 occurrence sample → candidate bigrams → one
    // exact count of candidates only (SketchOps.heavyHittersSampled).
    "heavy_hitters" -> ((s, dir) =>
      graft.operators.SketchOps.heavyHittersSampled(Tables.documents(s, dir))))

  private val stopList = TextOps.Stopwords.map(w => s"'$w'").mkString("[", ", ", "]")

  private def markerScore(lang: String, markers: Seq[String]): String = {
    val lst = markers.map(w => s"'$w'").mkString("[", ", ", "]")
    s"len(list_filter(string_split(text, ' '), w -> list_contains($lst, w))) AS s_$lang"
  }

  private val langCase: String = {
    val langs = TextOps.LangMarkers.map(_._1)
    val whens = langs.map { l =>
      val cond = langs.filter(_ != l).map(o => s"s_$l >= s_$o").mkString(" AND ")
      s"WHEN $cond THEN '$l'"
    }
    s"CASE ${whens.mkString(" ")} ELSE '${langs.head}' END"
  }

  /** Fixed probe terms for the CMS point queries: three corpus-hot tokens
    * + two mid-frequency ones.
    */
  val CmsTerms: Seq[String] = Seq("spark", "window", "hash", "customer", "vector")

  private val cmsOracle: String = {
    val stateHash = graft.functions.PortableHash
      .hash60Sql("'cms' || CAST(r AS VARCHAR) || ':' || tok")
    val probeHash = graft.functions.PortableHash
      .hash60Sql("'cms' || CAST(r AS VARCHAR) || ':' || term")
    val termList = CmsTerms.map(t => s"'$t'").mkString(", ")
    s"""WITH tok AS (
       |  SELECT unnest(string_split(text, ' ')) AS tok FROM documents
       |), rows AS (
       |  SELECT unnest(generate_series(0, 3)) AS r
       |), st AS (
       |  SELECT r AS row, ($stateHash) % 1024 AS bucket,
       |         CAST(count(*) AS BIGINT) AS c
       |  FROM tok, rows GROUP BY 1, 2
       |), terms AS (
       |  SELECT unnest([$termList]) AS term
       |), pr AS (
       |  SELECT term, r, ($probeHash) % 1024 AS bucket FROM terms, rows
       |), est AS (
       |  SELECT pr.term, min(coalesce(st.c, 0)) AS n_cms
       |  FROM pr LEFT JOIN st ON st.row = pr.r AND st.bucket = pr.bucket
       |  GROUP BY 1
       |), ex AS (
       |  SELECT tok AS term, CAST(count(*) AS BIGINT) AS n_exact
       |  FROM tok WHERE tok IN ($termList) GROUP BY 1
       |)
       |SELECT est.term, coalesce(ex.n_exact, 0) AS n_exact, est.n_cms,
       |       est.n_cms - coalesce(ex.n_exact, 0) AS overcount
       |FROM est LEFT JOIN ex ON est.term = ex.term
       |ORDER BY est.term""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    "heavy_hitters" -> {
      val sampleHash = graft.functions.PortableHash.hash60Sql(
        "'hh:' || CAST(doc_id AS VARCHAR) || ':' || CAST(pos AS VARCHAR)")
      s"""WITH tk AS (
         |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
         |), bg0 AS (
         |  SELECT doc_id,
         |         list_transform(generate_series(1, len(t) - 1),
         |           i -> struct_pack(pos := i - 1, tok := t[i] || ' ' || t[i + 1])) AS l
         |  FROM tk
         |), bg AS (
         |  SELECT doc_id, u.pos AS pos, u.tok AS tok
         |  FROM (SELECT doc_id, unnest(l) AS u FROM bg0)
         |), cand AS (
         |  SELECT tok, CAST(count(*) AS BIGINT) AS n_sample
         |  FROM bg WHERE ($sampleHash) % 8 = 0
         |  GROUP BY 1 HAVING count(*) >= 3
         |), x AS (
         |  SELECT bg.tok, max(cand.n_sample) AS n_sample,
         |         CAST(count(*) AS BIGINT) AS n_exact
         |  FROM bg JOIN cand USING (tok)
         |  GROUP BY 1 HAVING count(*) >= 40
         |)
         |SELECT tok, n_sample, n_exact,
         |       CAST(row_number() OVER (ORDER BY n_exact DESC, tok) AS INT) AS rank
         |FROM x ORDER BY rank""".stripMargin
    },
    "cms_terms" -> cmsOracle,
    // the MG candidate set is a guaranteed superset of terms with
    // freq > n/(k+1), and the engine exact-verifies candidates — so the
    // oracle is simply the exact frequency filter (no sketch replay)
    "heavy_hitters_mg" ->
      """WITH c AS (
        |  SELECT unnest(string_split(text, ' ')) AS term FROM documents
        |), n AS (
        |  SELECT term, CAST(count(*) AS BIGINT) AS n_term FROM c GROUP BY 1
        |), t AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_total FROM c
        |)
        |SELECT term, n_term, n_total,
        |       round(CAST(n_term AS DOUBLE) / CAST(n_total AS DOUBLE), 6) AS frac
        |FROM n CROSS JOIN t
        |WHERE n_term * 49 > n_total
        |ORDER BY n_term DESC, term""".stripMargin,
    "vocab_growth" ->
      s"""WITH t AS (
         |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents
         |), sh AS (
         |  SELECT doc_id,
         |         CASE WHEN len(tk) >= 3
         |              THEN list_distinct(list_transform(generate_series(1, len(tk) - 2),
         |                     i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))
         |              ELSE CAST([] AS VARCHAR[]) END AS sh
         |  FROM t
         |), u AS (
         |  SELECT doc_id, ${graft.functions.PortableHash.hash60Sql("s")} AS h
         |  FROM (SELECT doc_id, unnest(sh) AS s FROM sh)
         |), f AS (
         |  SELECT h, min(doc_id) AS first_doc FROM u GROUP BY h
         |), g AS (
         |  SELECT first_doc // 50 AS bucket, CAST(count(*) AS BIGINT) AS new_terms
         |  FROM f GROUP BY 1
         |)
         |SELECT bucket, new_terms,
         |       CAST(sum(new_terms) OVER (ORDER BY bucket
         |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS vocab_cum
         |FROM g ORDER BY bucket""".stripMargin,
    "text_stats" ->
      """SELECT doc_id,
        |  CAST(length(text) AS INT) AS n_chars,
        |  CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
        |  CAST(len(list_distinct(string_split(text, ' '))) AS INT) AS n_distinct,
        |  round(CAST(length(text) - (len(string_split(text, ' ')) - 1) AS DOUBLE)
        |        / CAST(len(string_split(text, ' ')) AS DOUBLE), 6) AS mean_token_len
        |FROM documents ORDER BY doc_id""".stripMargin,
    "text_quality" ->
      s"""WITH t AS (
         |  SELECT doc_id,
         |         CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
         |         CAST(len(list_filter(string_split(text, ' '),
         |                              w -> list_contains($stopList, w))) AS INT) AS stop_cnt,
         |         CAST(len(list_distinct(string_split(text, ' '))) AS INT) AS n_distinct
         |  FROM documents
         |), r AS (
         |  SELECT doc_id, n_tokens, stop_cnt,
         |         CAST(stop_cnt AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS stop_ratio,
         |         CAST(n_distinct AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS diversity
         |  FROM t
         |), sc AS (
         |  SELECT doc_id, n_tokens, stop_cnt, stop_ratio, diversity,
         |         (CASE WHEN n_tokens >= 20 AND n_tokens <= 1000 THEN 1 ELSE 0 END
         |          + CASE WHEN stop_ratio >= 0.02 AND stop_ratio <= 0.5 THEN 1 ELSE 0 END
         |          + CASE WHEN diversity >= 0.2 THEN 1 ELSE 0 END) AS quality_score
         |  FROM r
         |)
         |SELECT doc_id, n_tokens, stop_cnt,
         |       round(stop_ratio, 6) AS stop_ratio,
         |       round(diversity, 6) AS diversity,
         |       quality_score,
         |       CASE WHEN quality_score >= 3 THEN 'high'
         |            WHEN quality_score = 2 THEN 'medium'
         |            ELSE 'low' END AS quality_bucket
         |FROM sc ORDER BY doc_id""".stripMargin,
    "lang_id" ->
      s"""WITH scored AS (
         |  SELECT doc_id, lang,
         |         ${TextOps.LangMarkers.map { case (l, m) => markerScore(l, m) }.mkString(",\n         ")}
         |  FROM documents
         |)
         |SELECT lang, $langCase AS pred_lang, CAST(count(*) AS BIGINT) AS n_docs
         |FROM scored GROUP BY 1, 2 ORDER BY lang, pred_lang""".stripMargin,
    "token_count" ->
      """SELECT lang,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS ws_tokens,
        |  CAST(sum(len(regexp_extract_all(text, '[a-z]+'))) AS BIGINT) AS alpha_tokens,
        |  CAST(sum(len(regexp_extract_all(text, '[a-z]{1,4}'))) AS BIGINT) AS bpe_tokens
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "doc_winnow" ->
      """WITH h AS (
        |  SELECT doc_id,
        |         CASE WHEN length(text) >= 8 THEN
        |           list_transform(generate_series(0, CAST(length(text) AS INT) - 5),
        |             i -> ascii(substr(text, i + 1, 1)) * 4362470401
        |                + ascii(substr(text, i + 2, 1)) * 16974593
        |                + ascii(substr(text, i + 3, 1)) * 66049
        |                + ascii(substr(text, i + 4, 1)) * 257
        |                + ascii(substr(text, i + 5, 1)))
        |         ELSE CAST([] AS BIGINT[]) END AS hs
        |  FROM documents
        |), m AS (
        |  SELECT doc_id,
        |         list_distinct(list_transform(generate_series(0, len(hs) - 4),
        |           p -> list_min(hs[p + 1 : p + 4]))) AS fp
        |  FROM h
        |)
        |SELECT doc_id, CAST(len(fp) AS INT) AS n_fp,
        |       list_min(fp) AS min_fp, list_max(fp) AS max_fp
        |FROM m ORDER BY doc_id""".stripMargin,
    "dataset_split" -> {
      val bucket =
        s"(${graft.functions.PortableHash.hash60Sql("'split:' || CAST(doc_id AS VARCHAR)")}) % 100"
      s"""WITH s AS (
         |  SELECT lang,
         |         CASE WHEN $bucket < 80 THEN 'train'
         |              WHEN $bucket < 90 THEN 'val'
         |              ELSE 'test' END AS split,
         |         CAST(len(string_split(text, ' ')) AS INT) AS nt
         |  FROM documents
         |)
         |SELECT lang, split, CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(nt) AS BIGINT) AS sum_tokens
         |FROM s GROUP BY lang, split ORDER BY lang, split""".stripMargin
    },
    "doc_repetition" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents
        |), g AS (
        |  SELECT doc_id, CAST(len(tk) AS INT) AS n_tokens,
        |         CASE WHEN len(tk) >= 2
        |              THEN list_transform(generate_series(1, len(tk) - 1),
        |                     i -> tk[i] || ' ' || tk[i+1])
        |              ELSE CAST([] AS VARCHAR[]) END AS bgs,
        |         CASE WHEN len(tk) >= 5
        |              THEN list_transform(generate_series(1, len(tk) - 4),
        |                     i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]
        |                          || ' ' || tk[i+3] || ' ' || tk[i+4])
        |              ELSE CAST([] AS VARCHAR[]) END AS g5
        |  FROM t
        |), b AS (
        |  SELECT doc_id, bg, CAST(count(*) AS BIGINT) AS n
        |  FROM (SELECT doc_id, unnest(bgs) AS bg FROM g) GROUP BY 1, 2
        |), ba AS (
        |  SELECT doc_id, max(n) AS top_n, CAST(sum(n) AS BIGINT) AS n_bg
        |  FROM b GROUP BY 1
        |)
        |SELECT g.doc_id, g.n_tokens,
        |       coalesce(ba.top_n, 0) AS top_bigram_n,
        |       round(coalesce(CAST(ba.top_n AS DOUBLE) / CAST(ba.n_bg AS DOUBLE), 0.0), 6)
        |         AS top_bigram_frac,
        |       round(CASE WHEN len(g5) > 0
        |                  THEN 1.0 - CAST(len(list_distinct(g5)) AS DOUBLE)
        |                             / CAST(len(g5) AS DOUBLE)
        |                  ELSE 0.0 END, 6) AS dup_5gram_frac
        |FROM g LEFT JOIN ba ON g.doc_id = ba.doc_id
        |ORDER BY g.doc_id""".stripMargin,
    "doc_chunks" -> {
      val h = graft.functions.PortableHash.hash60Sql("array_to_string(chunk, ' ')")
      s"""WITH t AS (
         |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents
         |), c AS (
         |  SELECT doc_id, tk,
         |         CASE WHEN len(tk) <= 64 THEN 1
         |              ELSE CAST(trunc((len(tk) - 17) / 48.0) AS INT) + 1 END AS nc
         |  FROM t
         |), u AS (
         |  SELECT doc_id, CAST(k AS INT) AS chunk_id,
         |         tk[k * 48 + 1 : k * 48 + 64] AS chunk
         |  FROM (SELECT doc_id, tk, unnest(generate_series(0, nc - 1)) AS k FROM c)
         |)
         |SELECT doc_id, chunk_id, CAST(len(chunk) AS INT) AS n_chunk_tokens,
         |       ($h) AS chunk_hash
         |FROM u ORDER BY doc_id, chunk_id""".stripMargin
    },
    "pack_sequences" -> {
      val shard =
        s"(${graft.functions.PortableHash.hash60Sql("'shard:' || CAST(doc_id AS VARCHAR)")}) % 8"
      s"""WITH d AS (
         |  SELECT doc_id, lang, $shard AS shard,
         |         CAST(len(string_split(text, ' ')) AS INT) AS nt
         |  FROM documents
         |), c AS (
         |  SELECT lang, shard, nt,
         |         sum(nt) OVER (PARTITION BY lang, shard ORDER BY doc_id
         |                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - nt AS cum
         |  FROM d
         |)
         |SELECT lang, shard, CAST(trunc(cum / 2048.0) AS BIGINT) AS bin,
         |       CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(nt) AS BIGINT) AS sum_tokens
         |FROM c GROUP BY 1, 2, 3 ORDER BY lang, shard, bin""".stripMargin
    },
    "doc_bigram_nll" ->
      """WITH tk AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
        |), v AS (
        |  SELECT CAST(count(DISTINCT tok) AS BIGINT) AS v_size FROM tk
        |), bg AS (
        |  SELECT doc_id,
        |         unnest(CASE WHEN len(string_split(text, ' ')) >= 2 THEN
        |                  list_transform(
        |                    generate_series(1, len(string_split(text, ' ')) - 1),
        |                    i -> string_split(text, ' ')[i] || ' '
        |                         || string_split(text, ' ')[i + 1])
        |                ELSE CAST([] AS VARCHAR[]) END) AS bg
        |  FROM documents
        |), bc AS (
        |  SELECT bg, CAST(count(*) AS BIGINT) AS c12 FROM bg GROUP BY 1
        |), hc AS (
        |  SELECT string_split(bg, ' ')[1] AS w1, CAST(count(*) AS BIGINT) AS c1
        |  FROM bg GROUP BY 1
        |), s AS (
        |  SELECT b.doc_id,
        |         CAST(round(ln(hc.c1 + (SELECT v_size FROM v)) * 1e9) AS BIGINT)
        |         - CAST(round(ln(bc.c12 + 1) * 1e9) AS BIGINT) AS nll_nano
        |  FROM bg b
        |  JOIN bc ON b.bg = bc.bg
        |  JOIN hc ON string_split(b.bg, ' ')[1] = hc.w1
        |)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |       CAST(sum(nll_nano) AS BIGINT) AS sum_nll_nano,
        |       round(CAST(sum(nll_nano) AS DOUBLE) / 1e9
        |             / CAST(count(*) AS DOUBLE), 6) AS avg_nll
        |FROM s GROUP BY 1 ORDER BY 1""".stripMargin,
    "seq_len_hist" ->
      """WITH d AS (
        |  SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS nt FROM documents
        |), b AS (
        |  SELECT nt, CAST(length(bin(nt)) AS INT) AS len_bucket,
        |         (nt + 511) // 512 AS n_seqs
        |  FROM d
        |)
        |SELECT len_bucket,
        |       CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(nt) AS BIGINT) AS total_tokens,
        |       CAST(sum(n_seqs) AS BIGINT) AS total_seqs,
        |       CAST(sum(n_seqs * 512 - nt) AS BIGINT) AS pad_tokens,
        |       round(CAST(sum(n_seqs * 512 - nt) AS DOUBLE)
        |             / CAST(sum(n_seqs) * 512 AS DOUBLE), 6) AS pad_frac
        |FROM b GROUP BY 1 ORDER BY 1""".stripMargin,
    "doc_logprob" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
        |), vocab AS (
        |  SELECT tok, CAST(count(*) AS BIGINT) AS n_w FROM tok GROUP BY tok
        |), tot AS (
        |  SELECT CAST(sum(n_w) AS BIGINT) AS n_total FROM vocab
        |), d AS (
        |  SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |         CAST(sum(CAST(round(ln(v.n_w) * 1000000000.0) AS BIGINT)) AS BIGINT)
        |           AS sum_lnq
        |  FROM tok t JOIN vocab v USING (tok) GROUP BY 1
        |)
        |SELECT doc_id, n_tokens,
        |       round(ln((SELECT n_total FROM tot))
        |             - CAST(sum_lnq AS DOUBLE) / 1000000000.0 / CAST(n_tokens AS DOUBLE), 6)
        |         AS avg_nll
        |FROM d ORDER BY doc_id""".stripMargin,
    "source_quality" ->
      s"""WITH t AS (
         |  SELECT doc_id, source,
         |         CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
         |         CAST(len(list_filter(string_split(text, ' '),
         |                              w -> list_contains($stopList, w))) AS INT) AS stop_cnt,
         |         CAST(len(list_distinct(string_split(text, ' '))) AS INT) AS n_distinct
         |  FROM documents
         |), sc AS (
         |  SELECT doc_id, source, n_tokens,
         |         (CASE WHEN n_tokens >= 20 AND n_tokens <= 1000 THEN 1 ELSE 0 END
         |          + CASE WHEN CAST(stop_cnt AS DOUBLE) / CAST(n_tokens AS DOUBLE) >= 0.02
         |                  AND CAST(stop_cnt AS DOUBLE) / CAST(n_tokens AS DOUBLE) <= 0.5
         |                 THEN 1 ELSE 0 END
         |          + CASE WHEN CAST(n_distinct AS DOUBLE) / CAST(n_tokens AS DOUBLE) >= 0.2
         |                 THEN 1 ELSE 0 END) AS quality_score
         |  FROM t
         |)
         |SELECT source,
         |       CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(CASE WHEN quality_score >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_high,
         |       CAST(sum(CASE WHEN quality_score <= 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_low,
         |       round(avg(quality_score), 6) AS avg_score,
         |       CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
         |FROM sc GROUP BY source ORDER BY source""".stripMargin,
    "vocab_coverage" ->
      """WITH c AS (
        |  SELECT unnest(string_split(text, ' ')) AS tok FROM documents
        |), v AS (
        |  SELECT tok, CAST(count(*) AS BIGINT) AS n FROM c GROUP BY 1
        |), t AS (
        |  SELECT CAST(sum(n) AS BIGINT) AS total_tokens,
        |         CAST(count(*) AS BIGINT) AS n_vocab FROM v
        |), r AS (
        |  SELECT n, CAST(row_number() OVER (ORDER BY n DESC, tok) AS INT) AS rank
        |  FROM v
        |), ks AS (SELECT * FROM (VALUES (10), (100), (1000), (10000)) AS x(k)),
        |g AS (
        |  SELECT k, CAST(count(*) AS BIGINT) AS n_terms,
        |         CAST(sum(n) AS BIGINT) AS covered_tokens
        |  FROM r CROSS JOIN ks WHERE rank <= k GROUP BY k
        |)
        |SELECT k, n_terms, covered_tokens, total_tokens, n_vocab,
        |       round(CAST(covered_tokens AS DOUBLE)
        |             / CAST(total_tokens AS DOUBLE), 6) AS coverage
        |FROM g CROSS JOIN t ORDER BY k""".stripMargin,
    "top_terms" ->
      """WITH c AS (
        |  SELECT lang, unnest(string_split(text, ' ')) AS tok FROM documents
        |), n AS (
        |  SELECT lang, tok, CAST(count(*) AS BIGINT) AS n FROM c GROUP BY lang, tok
        |), r AS (
        |  SELECT lang, tok, n,
        |         CAST(row_number() OVER (PARTITION BY lang ORDER BY n DESC, tok) AS INT) AS rank
        |  FROM n
        |)
        |SELECT lang, tok, n, rank FROM r WHERE rank <= 5 ORDER BY lang, rank""".stripMargin,
    "pipeline_clean" ->
      s"""WITH surv AS (
         |  SELECT doc_id, text, lang FROM (
         |    SELECT doc_id, text, lang,
         |           row_number() OVER (
         |             PARTITION BY md5(lower(regexp_replace(text, '\\s+', '', 'g')))
         |             ORDER BY doc_id) AS rn
         |    FROM documents) WHERE rn = 1
         |), t AS (
         |  SELECT doc_id, lang,
         |         CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
         |         CAST(len(list_filter(string_split(text, ' '),
         |                              w -> list_contains($stopList, w))) AS INT) AS stop_cnt,
         |         CAST(len(list_distinct(string_split(text, ' '))) AS INT) AS n_distinct
         |  FROM surv
         |), sc AS (
         |  SELECT doc_id, lang, n_tokens,
         |         (CASE WHEN n_tokens >= 20 AND n_tokens <= 1000 THEN 1 ELSE 0 END
         |          + CASE WHEN CAST(stop_cnt AS DOUBLE) / CAST(n_tokens AS DOUBLE) >= 0.02
         |                  AND CAST(stop_cnt AS DOUBLE) / CAST(n_tokens AS DOUBLE) <= 0.5
         |                 THEN 1 ELSE 0 END
         |          + CASE WHEN CAST(n_distinct AS DOUBLE) / CAST(n_tokens AS DOUBLE) >= 0.2
         |                 THEN 1 ELSE 0 END) AS quality_score
         |  FROM t
         |)
         |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
         |FROM sc WHERE quality_score >= 2
         |GROUP BY lang ORDER BY lang""".stripMargin,
    "pmi_bigrams" ->
      """WITH t AS (
        |  SELECT string_split(text, ' ') AS tk FROM documents
        |), bg AS (
        |  SELECT unnest(list_transform(generate_series(1, len(tk) - 1),
        |           i -> tk[i] || ' ' || tk[i+1])) AS bg
        |  FROM t WHERE len(tk) >= 2
        |), pc AS (
        |  SELECT split_part(bg, ' ', 1) AS w1, split_part(bg, ' ', 2) AS w2,
        |         CAST(count(*) AS BIGINT) AS n_pair
        |  FROM bg GROUP BY 1, 2
        |), uc AS (
        |  SELECT w, CAST(count(*) AS BIGINT) AS c
        |  FROM (SELECT unnest(tk) AS w FROM t) GROUP BY 1
        |), tp AS (SELECT CAST(sum(n_pair) AS DOUBLE) AS tp FROM pc
        |), tt AS (SELECT CAST(sum(c) AS DOUBLE) AS t FROM uc)
        |SELECT pc.w1, pc.w2, pc.n_pair,
        |       round(ln((CAST(pc.n_pair AS DOUBLE) / tp.tp)
        |                / (CAST(u1.c AS DOUBLE) / tt.t)
        |                / (CAST(u2.c AS DOUBLE) / tt.t)), 6) AS pmi
        |FROM pc
        |CROSS JOIN tp CROSS JOIN tt
        |JOIN uc u1 ON u1.w = pc.w1
        |JOIN uc u2 ON u2.w = pc.w2
        |WHERE pc.n_pair >= 5
        |ORDER BY pmi DESC, w1, w2 LIMIT 20""".stripMargin,
    "zipf_slope" ->
      """WITH tok AS (
        |  SELECT lang, unnest(string_split(text, ' ')) AS tok FROM documents
        |), tc AS (
        |  SELECT lang, tok, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY 1, 2
        |), r AS (
        |  SELECT lang, c,
        |         row_number() OVER (PARTITION BY lang ORDER BY c DESC, tok) AS rk
        |  FROM tc
        |), q AS (
        |  SELECT lang,
        |         CAST(round(ln(rk) * 1000000000.0) AS BIGINT) AS x,
        |         CAST(round(ln(c) * 1000000000.0) AS BIGINT) AS y
        |  FROM r
        |), g AS (
        |  SELECT lang, CAST(count(*) AS HUGEINT) AS n,
        |         sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
        |         sum(CAST(x AS HUGEINT) * x) AS sxx,
        |         sum(CAST(y AS HUGEINT) * y) AS syy,
        |         sum(CAST(x AS HUGEINT) * y) AS sxy
        |  FROM q GROUP BY 1
        |)
        |SELECT lang, CAST(n AS BIGINT) AS n_terms,
        |       round(CAST(n * sxy - sx * sy AS DOUBLE)
        |             / CAST(n * sxx - sx * sx AS DOUBLE), 6) AS slope,
        |       round((CAST(sy AS DOUBLE)
        |              - CAST(n * sxy - sx * sy AS DOUBLE)
        |                / CAST(n * sxx - sx * sx AS DOUBLE)
        |                * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE) / 1000000000.0, 6)
        |         AS intercept,
        |       round(CAST(n * sxy - sx * sy AS DOUBLE) * CAST(n * sxy - sx * sy AS DOUBLE)
        |             / (CAST(n * sxx - sx * sx AS DOUBLE)
        |                * CAST(n * syy - sy * sy AS DOUBLE)), 6) AS r2
        |FROM g ORDER BY lang""".stripMargin,
    "source_ttr" ->
      """WITH tc AS (
        |  SELECT source, tok, CAST(count(*) AS BIGINT) AS c
        |  FROM (SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents)
        |  GROUP BY 1, 2
        |)
        |SELECT source,
        |       CAST(sum(c) AS BIGINT) AS n_tokens,
        |       CAST(count(*) AS BIGINT) AS n_terms,
        |       CAST(count(*) FILTER (WHERE c = 1) AS BIGINT) AS n_hapax,
        |       round(CAST(count(*) AS DOUBLE) / CAST(sum(c) AS DOUBLE), 6) AS ttr,
        |       round(CAST(count(*) FILTER (WHERE c = 1) AS DOUBLE)
        |             / CAST(count(*) AS DOUBLE), 6) AS hapax_share
        |FROM tc GROUP BY source ORDER BY source""".stripMargin,
    "source_divergence" ->
      """WITH tc AS (
        |  SELECT source, tok, CAST(count(*) AS BIGINT) AS c
        |  FROM (SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents)
        |  GROUP BY 1, 2
        |), s AS (
        |  SELECT source, CAST(sum(c) AS BIGINT) AS t_s FROM tc GROUP BY 1
        |), t AS (
        |  SELECT tok, CAST(sum(c) AS BIGINT) AS c_t FROM tc GROUP BY 1
        |), nn AS (
        |  SELECT CAST(sum(c_t) AS BIGINT) AS n FROM t
        |), d AS (
        |  SELECT s.source, t.tok, s.t_s, t.c_t, nn.n,
        |         coalesce(tc.c, CAST(0 AS BIGINT)) AS c
        |  FROM s CROSS JOIN t CROSS JOIN nn
        |  LEFT JOIN tc ON tc.source = s.source AND tc.tok = t.tok
        |), terms AS (
        |  SELECT source, t_s,
        |         CAST(round((CASE WHEN c > 0
        |           THEN 0.5 * (CAST(c AS DOUBLE) / CAST(t_s AS DOUBLE))
        |                * ln((CAST(c AS DOUBLE) / CAST(t_s AS DOUBLE))
        |                     / ((CAST(c AS DOUBLE) / CAST(t_s AS DOUBLE)
        |                         + CAST(c_t AS DOUBLE) / CAST(n AS DOUBLE)) / 2.0))
        |           ELSE 0.0 END
        |           + 0.5 * (CAST(c_t AS DOUBLE) / CAST(n AS DOUBLE))
        |             * ln((CAST(c_t AS DOUBLE) / CAST(n AS DOUBLE))
        |                  / ((CAST(c AS DOUBLE) / CAST(t_s AS DOUBLE)
        |                      + CAST(c_t AS DOUBLE) / CAST(n AS DOUBLE)) / 2.0)))
        |           * 1e9) AS BIGINT) AS nano
        |  FROM d
        |)
        |SELECT source, CAST(max(t_s) AS BIGINT) AS n_tokens,
        |       round(CAST(sum(nano) AS DOUBLE) / 1e9, 6) AS jsd
        |FROM terms GROUP BY source ORDER BY source""".stripMargin,
    "train_shuffle" ->
      """WITH h AS (
        |  SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS shuffle_key
        |  FROM documents ORDER BY shuffle_key, doc_id LIMIT 100
        |)
        |SELECT doc_id, shuffle_key,
        |       CAST(row_number() OVER (ORDER BY shuffle_key, doc_id) AS INT) AS ord
        |FROM h ORDER BY ord""".stripMargin,
    "doc_keywords" ->
      """WITH t AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
        |), tf AS (
        |  SELECT doc_id, w, CAST(count(*) AS BIGINT) AS tf FROM t GROUP BY 1, 2
        |), df AS (
        |  SELECT w, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1
        |), n AS (
        |  SELECT CAST(count(*) AS BIGINT) AS nd FROM documents
        |), s AS (
        |  SELECT tf.doc_id, tf.w,
        |         tf.tf * CAST(round(ln(CAST(nd AS DOUBLE) / df) * 1000000000.0)
        |                      AS BIGINT) AS nano
        |  FROM tf JOIN df USING (w) CROSS JOIN n
        |), r AS (
        |  SELECT doc_id, w, nano,
        |         CAST(row_number() OVER (PARTITION BY doc_id ORDER BY nano DESC, w)
        |              AS INT) AS rk
        |  FROM s
        |)
        |SELECT doc_id, rk, w AS term,
        |       round(CAST(nano AS DOUBLE) / 1000000000.0, 6) AS tfidf
        |FROM r WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin,
    "split_leakage" -> {
      val bucket =
        s"(${graft.functions.PortableHash.hash60Sql("'split:' || CAST(doc_id AS VARCHAR)")}) % 100"
      s"""WITH t AS (
         |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents
         |), sh AS (
         |  SELECT doc_id,
         |         CASE WHEN len(tk) >= 8
         |              THEN list_distinct(list_transform(generate_series(1, len(tk) - 7),
         |                     i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3]
         |                          || ' ' || tk[i+4] || ' ' || tk[i+5] || ' ' || tk[i+6]
         |                          || ' ' || tk[i+7]))
         |              ELSE CAST([] AS VARCHAR[]) END AS sh
         |  FROM t
         |), u AS (
         |  SELECT doc_id, ${graft.functions.PortableHash.hash60Sql("s")} AS h
         |  FROM (SELECT doc_id, unnest(sh) AS s FROM sh)
         |), tg AS (
         |  SELECT doc_id, h,
         |         CASE WHEN $bucket < 80 THEN 'train'
         |              WHEN $bucket < 90 THEN 'val'
         |              ELSE 'test' END AS split
         |  FROM u
         |), pg AS (
         |  SELECT h,
         |         max(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS in_train,
         |         max(CASE WHEN split = 'val' THEN 1 ELSE 0 END) AS in_val,
         |         max(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS in_test
         |  FROM tg GROUP BY h
         |), sg AS (
         |  SELECT sum(in_train * in_val) AS sf_tv,
         |         sum(in_train * in_test) AS sf_tt,
         |         sum(in_val * in_test) AS sf_vt
         |  FROM pg
         |), df AS (
         |  SELECT tg.doc_id, tg.split,
         |         max(pg.in_train) AS any_train, max(pg.in_val) AS any_val
         |  FROM tg JOIN pg USING (h) GROUP BY 1, 2
         |), lk AS (
         |  SELECT
         |    sum(CASE WHEN split = 'val' AND any_train = 1 THEN 1 ELSE 0 END) AS ld_tv,
         |    sum(CASE WHEN split = 'test' AND any_train = 1 THEN 1 ELSE 0 END) AS ld_tt,
         |    sum(CASE WHEN split = 'test' AND any_val = 1 THEN 1 ELSE 0 END) AS ld_vt
         |  FROM df
         |), tt AS (
         |  SELECT sum(CASE WHEN $bucket < 80 THEN 0
         |                  WHEN $bucket < 90 THEN 1 ELSE 0 END) AS tot_val,
         |         sum(CASE WHEN $bucket < 90 THEN 0 ELSE 1 END) AS tot_test
         |  FROM documents
         |)
         |SELECT pair, n_shared_grams, n_leaked, n_eval,
         |       CASE WHEN n_eval > 0 THEN
         |         round(CAST(n_leaked AS DOUBLE) / CAST(n_eval AS DOUBLE), 6)
         |       END AS leak_ratio
         |FROM (
         |  SELECT 'train->val' AS pair, CAST(sf_tv AS BIGINT) AS n_shared_grams,
         |         CAST(ld_tv AS BIGINT) AS n_leaked, CAST(tot_val AS BIGINT) AS n_eval
         |  FROM sg CROSS JOIN lk CROSS JOIN tt
         |  UNION ALL
         |  SELECT 'train->test', CAST(sf_tt AS BIGINT), CAST(ld_tt AS BIGINT),
         |         CAST(tot_test AS BIGINT)
         |  FROM sg CROSS JOIN lk CROSS JOIN tt
         |  UNION ALL
         |  SELECT 'val->test', CAST(sf_vt AS BIGINT), CAST(ld_vt AS BIGINT),
         |         CAST(tot_test AS BIGINT)
         |  FROM sg CROSS JOIN lk CROSS JOIN tt
         |) ORDER BY pair""".stripMargin
    })
}
