package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.PortableHash
import graft.operators.CurationOps
import graft.sources.Tables

/** Corpus-curation queries (span dedup, entropy, Gopher gate, BM25,
  * stratified sampling) + DuckDB oracles. Shares the determinism contract
  * documented on [[CurationOps]].
  */
object CurationQueries {

  /** Fixed query-term bag for the BM25 query (high-df corpus terms — the
    * interesting ranking signal is tf·length normalization, not idf).
    */
  val Bm25Terms: Seq[String] = Seq("spark", "window", "hash")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // CCNet-style span-level dedup over 8-token windows.
    "dedup_spans" -> ((s, dir) => CurationOps.spanDedup(Tables.documents(s, dir))),
    // Token-distribution Shannon entropy per doc (nats).
    "doc_entropy" -> ((s, dir) => CurationOps.docEntropy(Tables.documents(s, dir))),
    // Composed Gopher rule gate, one flag column per rule.
    "gopher_rules" -> ((s, dir) => CurationOps.gopherRules(Tables.documents(s, dir))),
    // BM25 top-20 for the fixed term bag.
    "bm25_search" -> ((s, dir) => CurationOps.bm25(Tables.documents(s, dir), Bm25Terms)),
    // Exact-k (10) deterministic sample per source stratum.
    "stratified_sample" -> ((s, dir) => CurationOps.stratifiedSample(Tables.documents(s, dir))),
    // Efraimidis–Spirakis weighted sampling (weight = n_chars), nano-exact keys.
    "weighted_sample" -> ((s, dir) =>
      graft.operators.TrainsetOps.weightedSample(Tables.documents(s, dir))),
    // 5-fold hash assignment + stratification audit (per fold × lang
    // share deviation) — the pre-flight check on a CV estimate.
    "kfold_audit" -> ((s, dir) =>
      graft.operators.TrainsetOps.kfoldAudit(Tables.documents(s, dir), "lang", k = 5)),
    // Nested subsample ladder (2/16..16/16 hash thresholds, smaller ⊂
    // larger by construction) with realized doc/token shares — the
    // scaling-law run layout.
    "sample_ladder" -> ((s, dir) =>
      graft.operators.TrainsetOps.sampleLadder(Tables.documents(s, dir))),
    // α=0.5 temperature-weighted mixture weights per source.
    "source_mixture" -> ((s, dir) => CurationOps.sourceMixture(Tables.documents(s, dir))),
    // Token-budget allocation: α=0.5 weights over AVAILABLE tokens plus the
    // per-source repeat factor (epochs) a 1M-token budget implies.
    "mixture_budget" -> ((s, dir) => CurationOps.mixtureBudget(Tables.documents(s, dir))),
    // CCNet head/middle/tail LM-score terciles.
    "doc_lm_buckets" -> ((s, dir) => CurationOps.lmBuckets(Tables.documents(s, dir))),
    // DSIR importance weights toward the `en` slice over 256 hashed
    // unigram buckets.
    "dsir_weights" -> ((s, dir) => CurationOps.dsirWeights(Tables.documents(s, dir))),
    // PII/lexical regex profile per source.
    "pattern_scan" -> ((s, dir) => CurationOps.patternScan(Tables.documents(s, dir))),
    // Logistic-regression quality filter trained in-engine (2 GD steps,
    // exact-integer reproducibility).
    "quality_classifier" -> ((s, dir) =>
      CurationOps.qualityClassifier(Tables.documents(s, dir))),
    // First BPE merge iteration: weighted adjacent-char pair counts.
    "bpe_merges" -> ((s, dir) => CurationOps.bpeMergeCandidates(Tables.documents(s, dir))),
    // The full curation funnel in ONE DAG: eval-holdout exclusion → exact
    // dedup survivors → decontamination → Gopher gate, with per-source
    // attrition at every stage and the surviving token budget. Each stage
    // is the already-oracled operator; the funnel composes their flag
    // columns instead of materializing intermediate corpora — one pass
    // over each stage's lineage, joined on doc_id.
    "pipeline_full" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, dir)
      val nonEval = docs.filter(pmod(col("doc_id"), lit(50L)) =!= 0)
      val surv = nonEval
        .withColumn("rn",
          row_number().over(
            Window.partitionBy(md5(col("text"))).orderBy(col("doc_id"))))
        .select(col("doc_id"), col("source"),
          when(col("rn") === 1, 1L).otherwise(0L).as("s_dedup"))
      val decon = graft.operators.DedupOps
        .decontaminate(docs, n = 8, evalMod = 50)
        .select(col("doc_id"), col("contaminated"))
      val gopher = CurationOps.gopherRules(docs)
        .select(col("doc_id"), col("pass"), col("n_tokens"))
      surv
        .join(decon, Seq("doc_id"))
        .join(gopher, Seq("doc_id"))
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("s_dedup")).as("n_after_dedup"),
          sum(when(col("s_dedup") === 1 && col("contaminated") === 0, 1L).otherwise(0L))
            .as("n_after_decon"),
          sum(when(col("s_dedup") === 1 && col("contaminated") === 0 && col("pass") === 1,
            1L).otherwise(0L)).as("n_after_gopher"),
          sum(when(col("s_dedup") === 1 && col("contaminated") === 0 && col("pass") === 1,
            col("n_tokens").cast("long")).otherwise(0L)).as("tokens_final"))
        .orderBy(col("source"))
    }))

  private val stopList =
    graft.operators.TextOps.Stopwords.map(w => s"'$w'").mkString("[", ", ", "]")

  val oracle: Map[String, String] = Map(
    "kfold_audit" -> {
      val foldHash = graft.functions.PortableHash
        .hash60Sql("'fold:' || CAST(doc_id AS VARCHAR)")
      s"""WITH d AS (
         |  SELECT ($foldHash) % 5 AS fold, lang AS stratum FROM documents
         |), c AS (
         |  SELECT fold, stratum, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY 1, 2
         |), x AS (
         |  SELECT fold, stratum, n,
         |         CAST(sum(n) OVER (PARTITION BY fold) AS BIGINT) AS fold_n,
         |         CAST(sum(n) OVER () AS BIGINT) AS total,
         |         CAST(sum(n) OVER (PARTITION BY stratum) AS BIGINT) AS strat_n
         |  FROM c
         |)
         |SELECT fold, stratum, n, fold_n,
         |       round(CAST(n AS DOUBLE) / CAST(fold_n AS DOUBLE), 6) AS share_in_fold,
         |       round(CAST(strat_n AS DOUBLE) / CAST(total AS DOUBLE), 6) AS share_overall,
         |       round(CAST(n AS DOUBLE) / CAST(fold_n AS DOUBLE)
         |             - CAST(strat_n AS DOUBLE) / CAST(total AS DOUBLE), 6) AS dev
         |FROM x ORDER BY fold, stratum""".stripMargin
    },
    "sample_ladder" -> {
      val ladderHash = graft.functions.PortableHash
        .hash60Sql("'ladder:' || CAST(doc_id AS VARCHAR)")
      s"""WITH b AS (
         |  SELECT ($ladderHash) % 16 AS u16,
         |         CAST(len(string_split(text, ' ')) AS BIGINT) AS toks
         |  FROM documents
         |), l AS (
         |  SELECT CAST(unnest([2, 4, 8, 16]) AS BIGINT) AS keep16
         |), p AS (
         |  SELECT l.keep16, CAST(count(*) AS BIGINT) AS n_docs,
         |         CAST(sum(b.toks) AS BIGINT) AS n_tokens
         |  FROM l JOIN b ON b.u16 < l.keep16 GROUP BY 1
         |), t AS (
         |  SELECT CAST(count(*) AS BIGINT) AS t_docs,
         |         CAST(sum(toks) AS BIGINT) AS t_tokens
         |  FROM b
         |)
         |SELECT keep16, n_docs, n_tokens,
         |       round(CAST(n_docs AS DOUBLE) / CAST(t_docs AS DOUBLE), 6) AS doc_share,
         |       round(CAST(n_tokens AS DOUBLE) / CAST(t_tokens AS DOUBLE), 6) AS token_share
         |FROM p CROSS JOIN t ORDER BY keep16""".stripMargin
    },
    "dedup_spans" -> {
      val h = PortableHash.hash60Sql("s")
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |seg0 AS (
        |  SELECT doc_id, array_to_string(tk[k * 8 + 1 : k * 8 + 8], ' ') AS s
        |  FROM (SELECT doc_id, tk,
        |               unnest(generate_series(0,
        |                 CAST(trunc((len(tk) + 7) / 8.0) AS INT) - 1)) AS k
        |        FROM t)
        |), seg AS (
        |  SELECT doc_id, HASH_EXPR AS h FROM seg0
        |), c AS (
        |  SELECT h, CAST(count(*) AS BIGINT) AS n FROM seg GROUP BY 1
        |)
        |SELECT seg.doc_id,
        |       CAST(count(*) AS BIGINT) AS n_spans,
        |       CAST(sum(CASE WHEN c.n > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans,
        |       round(CAST(sum(CASE WHEN c.n > 1 THEN 1 ELSE 0 END) AS DOUBLE)
        |             / CAST(count(*) AS DOUBLE), 6) AS dup_span_frac
        |FROM seg JOIN c USING (h) GROUP BY 1 ORDER BY 1""".stripMargin
        .replace("HASH_EXPR", h)
    },
    "doc_entropy" ->
      """WITH c AS (
        |  SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS c
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
        |  GROUP BY 1, 2
        |), d AS (
        |  SELECT doc_id,
        |         CAST(sum(c) AS BIGINT) AS n_tokens,
        |         CAST(count(*) AS BIGINT) AS n_distinct,
        |         CAST(sum(c * CAST(round(ln(c) * 1000000000.0) AS BIGINT)) AS BIGINT)
        |           AS sum_clnc
        |  FROM c GROUP BY 1
        |)
        |SELECT doc_id, n_tokens, n_distinct,
        |       round(ln(n_tokens)
        |             - CAST(sum_clnc AS DOUBLE) / 1000000000.0 / CAST(n_tokens AS DOUBLE),
        |             6) AS entropy
        |FROM d ORDER BY doc_id""".stripMargin,
    "gopher_rules" ->
      s"""WITH t AS (
         |  SELECT doc_id, CAST(length(text) AS INT) AS nc, string_split(text, ' ') AS tk
         |  FROM documents
         |), f AS (
         |  SELECT doc_id,
         |    CAST(len(tk) AS INT) AS n_tokens,
         |    CASE WHEN len(tk) >= 50 AND len(tk) <= 100000 THEN 1 ELSE 0 END AS ok_len,
         |    CASE WHEN CAST(nc - (len(tk) - 1) AS DOUBLE) / CAST(len(tk) AS DOUBLE) >= 3.0
         |          AND CAST(nc - (len(tk) - 1) AS DOUBLE) / CAST(len(tk) AS DOUBLE) <= 10.0
         |         THEN 1 ELSE 0 END AS ok_mean_len,
         |    CASE WHEN len(list_filter(list_distinct(tk),
         |                              w -> list_contains($stopList, w))) >= 2
         |         THEN 1 ELSE 0 END AS ok_stop,
         |    CASE WHEN CAST(len(list_filter(tk, w -> length(w) = 1)) AS DOUBLE)
         |              / CAST(len(tk) AS DOUBLE) <= 0.1
         |         THEN 1 ELSE 0 END AS ok_short,
         |    CASE WHEN len(tk) < 2 THEN 1
         |         WHEN 1.0 - CAST(len(list_distinct(list_transform(
         |                       generate_series(1, len(tk) - 1),
         |                       i -> tk[i] || ' ' || tk[i + 1]))) AS DOUBLE)
         |                    / CAST(len(tk) - 1 AS DOUBLE) <= 0.2
         |         THEN 1 ELSE 0 END AS ok_rep
         |  FROM t
         |)
         |SELECT doc_id, n_tokens, ok_len, ok_mean_len, ok_stop, ok_short, ok_rep,
         |       ok_len * ok_mean_len * ok_stop * ok_short * ok_rep AS pass
         |FROM f ORDER BY doc_id""".stripMargin,
    "bm25_search" -> {
      val termList = Bm25Terms.map(t => s"'$t'").mkString(", ")
      s"""WITH dl AS (
         |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS INT) AS dl FROM documents
         |), st AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_corpus, CAST(sum(dl) AS BIGINT) AS sum_dl
         |  FROM dl
         |), tf AS (
         |  SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
         |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
         |  WHERE tok IN ($termList) GROUP BY 1, 2
         |), df AS (
         |  SELECT tok,
         |         CAST(round(ln(1.0 + (CAST((SELECT n_corpus FROM st) AS DOUBLE)
         |                              - CAST(count(*) AS DOUBLE) + 0.5)
         |                             / (CAST(count(*) AS DOUBLE) + 0.5))
         |                    * 1000000000.0) AS BIGINT) AS idf_nano
         |  FROM tf GROUP BY tok
         |), sc AS (
         |  SELECT t.doc_id,
         |         CAST(round(d.idf_nano * ((CAST(t.tf AS DOUBLE) * 2.2)
         |              / (CAST(t.tf AS DOUBLE)
         |                 + 1.2 * (0.25 + 0.75
         |                   * CAST(l.dl * (SELECT n_corpus FROM st) AS DOUBLE)
         |                   / CAST((SELECT sum_dl FROM st) AS DOUBLE)))))
         |              AS BIGINT) AS s_nano
         |  FROM tf t JOIN df d USING (tok) JOIN dl l USING (doc_id)
         |), agg AS (
         |  SELECT doc_id, CAST(sum(s_nano) AS BIGINT) AS score_nano FROM sc GROUP BY 1
         |), r AS (
         |  SELECT doc_id, score_nano,
         |         CAST(row_number() OVER (ORDER BY score_nano DESC, doc_id) AS INT) AS rank
         |  FROM agg
         |)
         |SELECT doc_id, score_nano,
         |       round(CAST(score_nano AS DOUBLE) / 1000000000.0, 6) AS score, rank
         |FROM r WHERE rank <= 20 ORDER BY rank""".stripMargin
    },
    "source_mixture" ->
      """WITH c AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |         CAST(round(sqrt(CAST(count(*) AS DOUBLE)) * 1000000000.0) AS BIGINT)
        |           AS q_nano
        |  FROM documents GROUP BY 1
        |), t AS (
        |  SELECT CAST(sum(q_nano) AS BIGINT) AS q_total FROM c
        |)
        |SELECT source, n_docs,
        |       round(CAST(q_nano AS DOUBLE) / CAST((SELECT q_total FROM t) AS DOUBLE), 6)
        |         AS weight,
        |       round(CAST(q_nano AS DOUBLE) / CAST((SELECT q_total FROM t) AS DOUBLE)
        |             * 1000, 6) AS expected_docs
        |FROM c ORDER BY source""".stripMargin,
    "mixture_budget" ->
      """WITH c AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |         CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS avail_tokens
        |  FROM documents GROUP BY 1
        |), q AS (
        |  SELECT c.*,
        |         CAST(round(sqrt(CAST(avail_tokens AS DOUBLE)) * 1000000000.0) AS BIGINT)
        |           AS q_nano
        |  FROM c
        |), t AS (
        |  SELECT CAST(sum(q_nano) AS BIGINT) AS q_total FROM q
        |)
        |SELECT source, n_docs, avail_tokens,
        |       round(CAST(q_nano AS DOUBLE) / CAST((SELECT q_total FROM t) AS DOUBLE), 6)
        |         AS weight,
        |       CAST(trunc(CAST(q_nano AS DOUBLE) / CAST((SELECT q_total FROM t) AS DOUBLE)
        |                  * 1000000.0) AS BIGINT) AS target_tokens,
        |       round(CAST(q_nano AS DOUBLE) / CAST((SELECT q_total FROM t) AS DOUBLE)
        |             * 1000000.0 / CAST(avail_tokens AS DOUBLE), 6) AS epochs
        |FROM q ORDER BY source""".stripMargin,
    "dsir_weights" -> {
      val bucket = s"(${PortableHash.hash60Sql("'dsir:' || tok")}) % 256"
      s"""WITH tok AS (
         |  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok FROM documents
         |), tb AS (
         |  SELECT doc_id, lang, $bucket AS bucket FROM tok
         |), b AS (
         |  SELECT bucket, CAST(count(*) AS BIGINT) AS n_raw,
         |         CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_tgt
         |  FROM tb GROUP BY 1
         |), t AS (
         |  SELECT CAST(sum(n_raw) AS BIGINT) AS tot_raw,
         |         CAST(sum(n_tgt) AS BIGINT) AS tot_tgt FROM b
         |), s AS (
         |  SELECT bucket,
         |         CAST(round(ln(n_tgt + 1) * 1000000000.0) AS BIGINT)
         |           - CAST(round(ln((SELECT tot_tgt FROM t) + 256) * 1000000000.0) AS BIGINT)
         |           - CAST(round(ln(n_raw + 1) * 1000000000.0) AS BIGINT)
         |           + CAST(round(ln((SELECT tot_raw FROM t) + 256) * 1000000000.0) AS BIGINT)
         |           AS lr_nano
         |  FROM b
         |), d AS (
         |  SELECT tb.doc_id, tb.lang, CAST(count(*) AS BIGINT) AS n_tokens,
         |         CAST(sum(s.lr_nano) AS BIGINT) AS sum_lr
         |  FROM tb JOIN s USING (bucket) GROUP BY 1, 2
         |)
         |SELECT doc_id, lang, n_tokens,
         |       round(CAST(sum_lr AS DOUBLE) / 1000000000.0, 6) AS logw
         |FROM d ORDER BY doc_id""".stripMargin
    },
    "pattern_scan" -> {
      val branches = CurationOps.DefaultPatterns
        .map { case (name, re) =>
          s"""SELECT source, '$name' AS pattern,
             |       CAST(len(regexp_extract_all(text, '$re')) AS BIGINT) AS cnt
             |FROM documents""".stripMargin
        }
        .mkString("\n  UNION ALL\n  ")
      s"""WITH h AS (
         |  $branches
         |)
         |SELECT source, pattern, CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(CASE WHEN cnt > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_hit,
         |       CAST(sum(cnt) AS BIGINT) AS n_matches,
         |       round(CAST(sum(CASE WHEN cnt > 0 THEN 1 ELSE 0 END) AS DOUBLE)
         |             / CAST(count(*) AS DOUBLE), 6) AS hit_rate
         |FROM h GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
    },
    "quality_classifier" -> {
      val stopList = graft.operators.TextOps.Stopwords
        .map(s => s"'$s'").mkString("[", ", ", "]")
      s"""WITH b AS (
         |  SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS nt,
         |         CAST(len(list_filter(string_split(text, ' '),
         |                              w -> list_contains($stopList, w))) AS BIGINT) AS sc,
         |         CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS nd
         |  FROM documents
         |), f AS (
         |  SELECT CASE WHEN nt BETWEEN 20 AND 1000 AND sc * 50 >= nt
         |                   AND sc * 2 <= nt AND nd * 5 >= nt
         |              THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS y,
         |         CAST(1 AS BIGINT) AS x0,
         |         least(nt // 64, 15) AS x1,
         |         ((sc * 100 // nt) // 10) AS x2,
         |         ((nd * 100 // nt) // 10) AS x3
         |  FROM b
         |), g1 AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n,
         |         CAST(sum(CAST(round((y - 0.5) * 1000000000.0) AS BIGINT) * x0) AS BIGINT) AS g0,
         |         CAST(sum(CAST(round((y - 0.5) * 1000000000.0) AS BIGINT) * x1) AS BIGINT) AS g1,
         |         CAST(sum(CAST(round((y - 0.5) * 1000000000.0) AS BIGINT) * x2) AS BIGINT) AS g2,
         |         CAST(sum(CAST(round((y - 0.5) * 1000000000.0) AS BIGINT) * x3) AS BIGINT) AS g3
         |  FROM f
         |), w1 AS (
         |  SELECT CAST(trunc(CAST(g0 AS DOUBLE) / (4.0 * n)) AS BIGINT) AS a0,
         |         CAST(trunc(CAST(g1 AS DOUBLE) / (4.0 * n)) AS BIGINT) AS a1,
         |         CAST(trunc(CAST(g2 AS DOUBLE) / (4.0 * n)) AS BIGINT) AS a2,
         |         CAST(trunc(CAST(g3 AS DOUBLE) / (4.0 * n)) AS BIGINT) AS a3
         |  FROM g1
         |), s2 AS (
         |  SELECT f.*, (x0 * a0 + x1 * a1 + x2 * a2 + x3 * a3) AS z,
         |         a0, a1, a2, a3
         |  FROM f, w1
         |), g2 AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n,
         |         max(a0) AS a0, max(a1) AS a1, max(a2) AS a2, max(a3) AS a3,
         |         CAST(sum(CAST(round((y - 1.0 / (1.0 + exp(-CAST(z AS DOUBLE) / 1000000000.0)))
         |                             * 1000000000.0) AS BIGINT) * x0) AS BIGINT) AS g0,
         |         CAST(sum(CAST(round((y - 1.0 / (1.0 + exp(-CAST(z AS DOUBLE) / 1000000000.0)))
         |                             * 1000000000.0) AS BIGINT) * x1) AS BIGINT) AS g1,
         |         CAST(sum(CAST(round((y - 1.0 / (1.0 + exp(-CAST(z AS DOUBLE) / 1000000000.0)))
         |                             * 1000000000.0) AS BIGINT) * x2) AS BIGINT) AS g2,
         |         CAST(sum(CAST(round((y - 1.0 / (1.0 + exp(-CAST(z AS DOUBLE) / 1000000000.0)))
         |                             * 1000000000.0) AS BIGINT) * x3) AS BIGINT) AS g3
         |  FROM s2
         |), w2 AS (
         |  SELECT a0 + CAST(trunc(CAST(g0 AS DOUBLE) / (4.0 * n)) AS BIGINT) AS a0,
         |         a1 + CAST(trunc(CAST(g1 AS DOUBLE) / (4.0 * n)) AS BIGINT) AS a1,
         |         a2 + CAST(trunc(CAST(g2 AS DOUBLE) / (4.0 * n)) AS BIGINT) AS a2,
         |         a3 + CAST(trunc(CAST(g3 AS DOUBLE) / (4.0 * n)) AS BIGINT) AS a3
         |  FROM g2
         |), sf AS (
         |  SELECT f.y, (x0 * a0 + x1 * a1 + x2 * a2 + x3 * a3) AS z,
         |         a0, a1, a2, a3
         |  FROM f, w2
         |)
         |SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |       round(CAST(max(a0) AS DOUBLE) / 1000000000.0, 4) AS w_bias,
         |       round(CAST(max(a1) AS DOUBLE) / 1000000000.0, 4) AS w_len,
         |       round(CAST(max(a2) AS DOUBLE) / 1000000000.0, 4) AS w_stop,
         |       round(CAST(max(a3) AS DOUBLE) / 1000000000.0, 4) AS w_div,
         |       round(CAST(sum(CASE WHEN (z > 0) = (y = 1) THEN 1 ELSE 0 END) AS DOUBLE)
         |             / CAST(count(*) AS DOUBLE), 6) AS acc
         |FROM sf""".stripMargin
    },
    "doc_lm_buckets" ->
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
        |), s AS (
        |  SELECT doc_id,
        |         round(ln((SELECT n_total FROM tot))
        |               - CAST(sum_lnq AS DOUBLE) / 1000000000.0 / CAST(n_tokens AS DOUBLE),
        |               6) AS avg_nll
        |  FROM d
        |), b AS (
        |  SELECT doc_id, avg_nll, ntile(3) OVER (ORDER BY avg_nll, doc_id) AS bucket FROM s
        |), g AS (
        |  SELECT bucket, CAST(count(*) AS BIGINT) AS n_docs,
        |         CAST(sum(CAST(round(avg_nll * 1000000000.0) AS BIGINT)) AS BIGINT)
        |           AS sum_nll_nano
        |  FROM b GROUP BY 1
        |)
        |SELECT CASE WHEN bucket = 1 THEN 'head'
        |            WHEN bucket = 2 THEN 'middle'
        |            ELSE 'tail' END AS bucket,
        |       n_docs, sum_nll_nano,
        |       round(CAST(sum_nll_nano AS DOUBLE) / 1000000000.0
        |             / CAST(n_docs AS DOUBLE), 6) AS mean_nll
        |FROM g ORDER BY bucket""".stripMargin,
    "stratified_sample" -> {
      val h = PortableHash.hash60Sql("'sample:' || CAST(doc_id AS VARCHAR)")
      s"""WITH d AS (
         |  SELECT doc_id, source, CAST(len(string_split(text, ' ')) AS INT) AS nt,
         |         row_number() OVER (PARTITION BY source ORDER BY ($h), doc_id) AS rk
         |  FROM documents
         |)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(CASE WHEN rk <= 10 THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
         |       CAST(sum(CASE WHEN rk <= 10 THEN nt ELSE 0 END) AS BIGINT) AS sampled_tokens
         |FROM d GROUP BY 1 ORDER BY 1""".stripMargin
    },
    "weighted_sample" -> {
      val h = PortableHash.hash60Sql("'wsample:' || CAST(doc_id AS VARCHAR)")
      s"""WITH s AS (
         |  SELECT doc_id, source, n_chars,
         |         CAST(round(ln(CAST(($h) + 1 AS DOUBLE)
         |                       / CAST(1152921504606846976 AS DOUBLE))
         |                    / CAST(n_chars AS DOUBLE) * 1e9) AS BIGINT) AS key_nano
         |  FROM documents
         |)
         |SELECT doc_id, source, n_chars, key_nano
         |FROM s ORDER BY key_nano DESC, doc_id LIMIT 25""".stripMargin
    },
    "bpe_merges" ->
      """WITH v AS (
        |  SELECT w, CAST(count(*) AS BIGINT) AS wc
        |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        |  GROUP BY 1
        |), p AS (
        |  SELECT w, wc,
        |         unnest(CASE WHEN length(w) >= 2 THEN
        |                  list_transform(generate_series(1, length(w) - 1),
        |                                 i -> substr(w, i, 2))
        |                ELSE CAST([] AS VARCHAR[]) END) AS pair
        |  FROM v
        |), g AS (
        |  SELECT pair, CAST(sum(wc) AS BIGINT) AS pair_count,
        |         CAST(count(DISTINCT w) AS BIGINT) AS n_words
        |  FROM p GROUP BY 1
        |)
        |SELECT pair, pair_count, n_words
        |FROM g ORDER BY pair_count DESC, pair LIMIT 20""".stripMargin,
    "pipeline_full" -> {
      val h = PortableHash.hash60Sql("s8")
      s"""WITH tk8 AS (
         |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents
         |), sh8 AS (
         |  SELECT doc_id,
         |         CASE WHEN len(tk) >= 8
         |              THEN list_distinct(list_transform(generate_series(1, len(tk) - 7),
         |                     i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3]
         |                          || ' ' || tk[i+4] || ' ' || tk[i+5] || ' ' || tk[i+6]
         |                          || ' ' || tk[i+7]))
         |              ELSE CAST([] AS VARCHAR[]) END AS sh
         |  FROM tk8
         |), u8 AS (
         |  SELECT doc_id, ($h) AS h
         |  FROM (SELECT doc_id, unnest(sh) AS s8 FROM sh8)
         |), ev AS (
         |  SELECT DISTINCT h FROM u8 WHERE doc_id % 50 = 0
         |), hits AS (
         |  SELECT u8.doc_id, CAST(count(*) AS BIGINT) AS nc
         |  FROM u8 JOIN ev USING (h) WHERE u8.doc_id % 50 <> 0 GROUP BY 1
         |), gf AS (
         |  SELECT doc_id, CAST(len(tk) AS INT) AS n_tokens,
         |    CASE WHEN len(tk) >= 50 AND len(tk) <= 100000 THEN 1 ELSE 0 END
         |    * CASE WHEN CAST(length_text - (len(tk) - 1) AS DOUBLE) / CAST(len(tk) AS DOUBLE) >= 3.0
         |            AND CAST(length_text - (len(tk) - 1) AS DOUBLE) / CAST(len(tk) AS DOUBLE) <= 10.0
         |           THEN 1 ELSE 0 END
         |    * CASE WHEN len(list_filter(list_distinct(tk),
         |                                w -> list_contains($stopList, w))) >= 2
         |           THEN 1 ELSE 0 END
         |    * CASE WHEN CAST(len(list_filter(tk, w -> length(w) = 1)) AS DOUBLE)
         |                / CAST(len(tk) AS DOUBLE) <= 0.1
         |           THEN 1 ELSE 0 END
         |    * CASE WHEN len(tk) < 2 THEN 1
         |           WHEN 1.0 - CAST(len(list_distinct(list_transform(
         |                         generate_series(1, len(tk) - 1),
         |                         i -> tk[i] || ' ' || tk[i + 1]))) AS DOUBLE)
         |                      / CAST(len(tk) - 1 AS DOUBLE) <= 0.2
         |           THEN 1 ELSE 0 END AS pass
         |  FROM (SELECT doc_id, string_split(text, ' ') AS tk,
         |               CAST(length(text) AS INT) AS length_text
         |        FROM documents)
         |), sv AS (
         |  SELECT doc_id, source,
         |         CASE WHEN row_number() OVER (PARTITION BY md5(text)
         |                                      ORDER BY doc_id) = 1
         |              THEN 1 ELSE 0 END AS s_dedup
         |  FROM documents WHERE doc_id % 50 <> 0
         |), j AS (
         |  SELECT sv.source, sv.s_dedup,
         |         CASE WHEN coalesce(hits.nc, 0) > 0 THEN 1 ELSE 0 END AS cont,
         |         gf.pass, gf.n_tokens
         |  FROM sv
         |  LEFT JOIN hits ON hits.doc_id = sv.doc_id
         |  JOIN gf ON gf.doc_id = sv.doc_id
         |)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(s_dedup) AS BIGINT) AS n_after_dedup,
         |       CAST(sum(CASE WHEN s_dedup = 1 AND cont = 0 THEN 1 ELSE 0 END) AS BIGINT)
         |         AS n_after_decon,
         |       CAST(sum(CASE WHEN s_dedup = 1 AND cont = 0 AND pass = 1
         |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_after_gopher,
         |       CAST(sum(CASE WHEN s_dedup = 1 AND cont = 0 AND pass = 1
         |                     THEN n_tokens ELSE 0 END) AS BIGINT) AS tokens_final
         |FROM j GROUP BY 1 ORDER BY 1""".stripMargin
    })
}
