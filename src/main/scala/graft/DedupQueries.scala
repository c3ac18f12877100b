package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.PortableHash
import graft.operators.{ClusterOps, DedupOps, SimilarityOps}
import graft.sources.Tables

/** Deduplication queries over `documents` / `embeddings` (SURVEY §7.6).
  *
  * Every query is DuckDB-oracled: `dedup_minhash` / `dedup_simhash` hash
  * with the portable 60-bit md5 polynomial ([[PortableHash]]) instead of
  * round 1's xxhash64, so the oracle reproduces signatures, banding, and
  * candidate sets bit-exactly. (The simhash oracle verifies pairs by
  * brute-force Hamming ≤ maxHamming — valid because 6×10-bit banding has
  * EXACT recall for maxHamming ≤ 5 by pigeonhole, so blocked output ==
  * brute-force output; the minhash oracle replicates banding literally,
  * since band collisions do gate which pairs get estimated.)
  */
object DedupQueries {

  // dedup_embedding_lsh banding config (see the numeric trade analysis in
  // SimilarityOps.nearDupPairsLsh's scaladoc)
  private val LshBands = 20
  private val LshR = 6
  private val EmbDim = 64

  /** Shared oracle CTE chain `e → bk → cand → p` replicating the banded
    * sign-bit buckets literally: band b's bucket is the sign-bit word of
    * planes [b·r, (b+1)·r), each plane the SAME IEEE-double literal the
    * engine projects against; `p` carries the exact cosine of every
    * DISTINCT candidate pair.
    */
  private lazy val lshPairCtes: String = {
    val planeSql = (p: Int) =>
      SimilarityOps.planeInts(p, EmbDim)
        .map(k => s"(CAST($k AS DOUBLE) / 1000000.0 - 0.5)")
        .mkString("[", ", ", "]")
    val bandBucketSql = (b: Int) =>
      (0 until LshR).map { j =>
        s"(CASE WHEN round(list_dot_product(emb, ${planeSql(b * LshR + j)}), 6) > 0 " +
          s"THEN ${1L << j} ELSE 0 END)"
      }.mkString(" + ")
    val bk = (0 until LshBands)
      .map(b => s"SELECT vec_id, $b AS band, ${bandBucketSql(b)} AS bucket FROM e")
      .mkString("\nUNION ALL\n")
    s"""e AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
       |), bk AS (
       |$bk
       |), cand AS (
       |  SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
       |  FROM bk a JOIN bk b
       |    ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id
       |), p AS (
       |  SELECT c.a_id, c.b_id,
       |         round(list_dot_product(ea.emb, eb.emb)
       |               / (sqrt(list_dot_product(ea.emb, ea.emb))
       |                  * sqrt(list_dot_product(eb.emb, eb.emb))), 6) AS cos
       |  FROM cand c
       |  JOIN e ea ON ea.vec_id = c.a_id
       |  JOIN e eb ON eb.vec_id = c.b_id
       |)""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_exact" -> ((s, dir) => DedupOps.exact(Tables.documents(s, dir))),
    "dedup_fingerprint" -> ((s, dir) => DedupOps.fingerprintDedup(Tables.documents(s, dir))),
    "dedup_ngram_jaccard" -> ((s, dir) =>
      DedupOps.jaccardPairs(Tables.documents(s, dir), n = 3, minJaccard = 0.5)),
    "dedup_minhash" -> ((s, dir) =>
      DedupOps.minhashLsh(
        Tables.documents(s, dir),
        n = 3,
        numPerm = 16,
        rowsPerBand = 4,
        minEst = 0.5)),
    // maxHamming = 5: measured on sf0.01, true near-dups (3-gram jaccard
    // ≥ 0.5) land at hamming 0-5 while the shared-vocabulary background
    // explodes from 6 up. 6×10-bit bands → recall exact at ≤ 5.
    "dedup_simhash" -> ((s, dir) =>
      DedupOps.simhashPairs(Tables.documents(s, dir), maxHamming = 5)),
    "dedup_embedding" -> ((s, dir) =>
      SimilarityOps.nearDupPairs(Tables.embeddings(s, dir), minCos = 0.4)),
    // The sub-quadratic DEFAULT path for embedding dedup: banded sign-bit
    // LSH candidate generation (20 bands × 6 planes) + exact cosine
    // verify. Output ⊆ dedup_embedding at the same threshold; the recall
    // trade at this LOW threshold is documented and measured
    // (SimilarityOps.nearDupPairsLsh scaladoc; PERF.md "Round 12:
    // embedding-dedup size route + exact-vs-LSH crossover") — at real
    // near-dup thresholds (cos ≥ 0.9) the filter is ~lossless.
    "dedup_embedding_lsh" -> ((s, dir) =>
      SimilarityOps.nearDupPairsLsh(
        Tables.embeddings(s, dir), minCos = 0.4,
        bands = LshBands, planesPerBand = LshR, dim = EmbDim)),
    // Embedding-space split-leakage audit: eval vectors with a train
    // near-dup (cos >= 0.4 via the same LSH prefilter + exact verify) —
    // the semantic sibling of split_leakage's n-gram rule, gating the
    // SAME deterministic vec_id split hash.
    "split_leakage_semantic" -> ((s, dir) =>
      SimilarityOps.semanticLeakage(
        Tables.embeddings(s, dir), minCos = 0.4,
        bands = LshBands, planesPerBand = LshR, dim = EmbDim)),
    // Connected components over the jaccard pair graph — pairs → duplicate
    // clusters, the survivor-selection step of a real dedup pipeline.
    "dedup_clusters" -> ((s, dir) =>
      ClusterOps.nearDupClusters(Tables.documents(s, dir), n = 3, minJaccard = 0.5)),
    // Benchmark decontamination: flag training docs sharing any 8-gram
    // with the held-out subset (doc_id % 50 == 0 stands in for the
    // benchmark corpus).
    "decontaminate" -> ((s, dir) =>
      DedupOps.decontaminate(Tables.documents(s, dir), n = 8, evalMod = 50)),
    // Memorization-risk dial: fraction of each doc's 8-grams unique to it.
    "ngram_novelty" -> ((s, dir) =>
      DedupOps.ngramNovelty(Tables.documents(s, dir), n = 8)),
    // Per-source duplication audit: internal redundancy + cross-source
    // verbatim overlap, digests-only shuffles.
    "dup_rate_by_source" -> ((s, dir) =>
      DedupOps.dupRateBySource(Tables.documents(s, dir))),
    // Substring-level near-dups: winnowing-fingerprint containment ≥ 0.8
    // (catches copy-with-additions that token Jaccard under-scores).
    "dedup_substring" -> ((s, dir) =>
      DedupOps.substringPairs(Tables.documents(s, dir), minContain = 0.8)),
    // Survivor selection per near-dup cluster (longest-copy-wins policy).
    "dedup_survivors" -> ((s, dir) =>
      ClusterOps.nearDupSurvivors(Tables.documents(s, dir), n = 3, minJaccard = 0.5)),
    // Integer-exact PageRank over the near-dup graph: duplication hubs.
    "dedup_pagerank" -> ((s, dir) =>
      ClusterOps.nearDupPagerank(Tables.documents(s, dir), n = 3, minJaccard = 0.5)),
    // Character-level verify on the candidate pairs: exact Levenshtein.
    "dedup_editdist" -> ((s, dir) =>
      DedupOps.editDistancePairs(Tables.documents(s, dir), n = 3, minJaccard = 0.5)),
    // Incremental ingest: batch (doc_id % 5 == 0) classified against the
    // base corpus as exact_dup / near_dup / new.
    "dedup_incremental" -> ((s, dir) =>
      DedupOps.incrementalStatus(Tables.documents(s, dir), batchMod = 5, n = 3,
        minJaccard = 0.5)),
    // Degree distribution of the near-dup graph: how many documents have
    // k near-duplicates (degree 0 = unique docs). Reads the
    // session-memoized pair relation (no recompute next to the other
    // dedup queries); degree is a per-node count, the histogram domain is
    // bounded by max degree — two small aggregations, no new shuffle over
    // the corpus.
    "graph_degree_hist" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val pairs = DedupOps.jaccardPairs(docs, n = 3, minJaccard = 0.5)
      val nodes = pairs.select(col("a_id").as("node"))
        .unionAll(pairs.select(col("b_id").as("node")))
      docs.select(col("doc_id"))
        .join(nodes, col("node") === col("doc_id"), "left")
        .groupBy(col("doc_id"))
        .agg(count(col("node")).as("degree"))
        .groupBy(col("degree"))
        .agg(count(lit(1)).as("n_nodes"))
        .orderBy(col("degree"))
    }))

  /** Shared oracle CTE chain: documents → 3-gram shingles → portable
    * 60-bit shingle hashes (the engine hashes identically — see
    * [[graft.operators.DedupOps]] shingleRows) → shared-hash pair
    * intersections (relation `p(a_id, b_id, inter, na, nb)`).
    */
  private val jaccardPairCtes: String =
    s"""t AS (
       |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents
       |), sh AS (
       |  SELECT doc_id,
       |         CASE WHEN len(tk) >= 3
       |              THEN list_distinct(list_transform(generate_series(1, len(tk) - 2),
       |                     i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))
       |              ELSE CAST([] AS VARCHAR[]) END AS sh
       |  FROM t
       |), u AS (
       |  SELECT doc_id, CAST(len(sh) AS INT) AS nsh,
       |         ${graft.functions.PortableHash.hash60Sql("s")} AS h
       |  FROM (SELECT doc_id, sh, unnest(sh) AS s FROM sh)
       |), p AS (
       |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       |         CAST(count(*) AS BIGINT) AS inter,
       |         min(a.nsh) AS na, min(b.nsh) AS nb
       |  FROM u a JOIN u b ON a.h = b.h AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2
      |)""".stripMargin

  val oracle: Map[String, String] = Map(
    "dedup_exact" ->
      """SELECT min(doc_id) AS keep_id,
        |       CAST(count(*) AS BIGINT) AS n_dups,
        |       md5(text) AS text_md5
        |FROM documents GROUP BY text ORDER BY keep_id""".stripMargin,
    "dedup_fingerprint" ->
      """SELECT min(doc_id) AS keep_id,
        |       CAST(count(*) AS BIGINT) AS n_dups,
        |       fp
        |FROM (SELECT doc_id, md5(lower(regexp_replace(text, '\s+', '', 'g'))) AS fp
        |      FROM documents)
        |GROUP BY fp ORDER BY keep_id""".stripMargin,
    "dup_rate_by_source" ->
      """WITH sh AS (
        |  SELECT source, md5(text) AS h, CAST(count(*) AS BIGINT) AS c_sh
        |  FROM documents GROUP BY 1, 2
        |), hh AS (
        |  SELECT h, CAST(count(*) AS BIGINT) AS n_src FROM sh GROUP BY 1
        |)
        |SELECT source,
        |       CAST(sum(c_sh) AS BIGINT) AS n_docs,
        |       CAST(sum(c_sh - 1) AS BIGINT) AS n_internal_excess,
        |       CAST(sum(CASE WHEN n_src > 1 THEN c_sh ELSE 0 END) AS BIGINT) AS n_cross,
        |       round(CAST(sum(c_sh - 1) AS DOUBLE) / CAST(sum(c_sh) AS DOUBLE), 6)
        |         AS internal_share,
        |       round(CAST(sum(CASE WHEN n_src > 1 THEN c_sh ELSE 0 END) AS DOUBLE)
        |             / CAST(sum(c_sh) AS DOUBLE), 6) AS cross_share
        |FROM sh JOIN hh USING (h)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "dedup_ngram_jaccard" ->
      s"""WITH $jaccardPairCtes
         |SELECT a_id, b_id, inter, na, nb,
         |       round(CAST(inter AS DOUBLE) / CAST(na + nb - inter AS DOUBLE), 6) AS jaccard
         |FROM p
         |WHERE round(CAST(inter AS DOUBLE) / CAST(na + nb - inter AS DOUBLE), 6) >= 0.5
         |ORDER BY a_id, b_id""".stripMargin,
    "dedup_clusters" ->
      // min-reachable-label == smallest id in the connected component; the
      // UNION (not UNION ALL) recursion deduplicates and terminates
      s"""WITH RECURSIVE $jaccardPairCtes, pairs AS (
         |  SELECT a_id, b_id FROM p
         |  WHERE round(CAST(inter AS DOUBLE) / CAST(na + nb - inter AS DOUBLE), 6) >= 0.5
         |), edges AS (
         |  SELECT a_id AS src, b_id AS dst FROM pairs
         |  UNION ALL
         |  SELECT b_id, a_id FROM pairs
         |), reach(node, lbl) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node
         |)
         |SELECT node AS doc_id, min(lbl) AS cluster_id
         |FROM reach GROUP BY node ORDER BY doc_id""".stripMargin,
    "dedup_survivors" ->
      // same recursive component chain as dedup_clusters + the
      // longest-copy-wins policy rank
      s"""WITH RECURSIVE $jaccardPairCtes, pairs AS (
         |  SELECT a_id, b_id FROM p
         |  WHERE round(CAST(inter AS DOUBLE) / CAST(na + nb - inter AS DOUBLE), 6) >= 0.5
         |), edges AS (
         |  SELECT a_id AS src, b_id AS dst FROM pairs
         |  UNION ALL
         |  SELECT b_id, a_id FROM pairs
         |), reach(node, lbl) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node
         |), cl AS (
         |  SELECT node AS doc_id, min(lbl) AS cluster_id FROM reach GROUP BY node
         |), rk AS (
         |  SELECT cl.cluster_id, cl.doc_id, d.n_chars,
         |         row_number() OVER (PARTITION BY cl.cluster_id
         |                            ORDER BY d.n_chars DESC, cl.doc_id) AS rk
         |  FROM cl JOIN documents d USING (doc_id)
         |)
         |SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size,
         |       CAST(max(CASE WHEN rk = 1 THEN doc_id END) AS BIGINT) AS survivor_id,
         |       CAST(max(CASE WHEN rk = 1 THEN n_chars END) AS BIGINT)
         |         AS survivor_nchars,
         |       CAST(count(*) - 1 AS BIGINT) AS n_removed
         |FROM rk GROUP BY 1 ORDER BY 1""".stripMargin,
    "dedup_editdist" ->
      s"""WITH $jaccardPairCtes, pairs AS (
         |  SELECT a_id, b_id FROM p
         |  WHERE round(CAST(inter AS DOUBLE) / CAST(na + nb - inter AS DOUBLE), 6) >= 0.5
         |)
         |SELECT pr.a_id, pr.b_id,
         |       CAST(levenshtein(da.text, db.text) AS BIGINT) AS edit_dist,
         |       round(1.0 - CAST(levenshtein(da.text, db.text) AS DOUBLE)
         |             / CAST(greatest(length(da.text), length(db.text)) AS DOUBLE), 6)
         |         AS norm_sim
         |FROM pairs pr
         |JOIN documents da ON da.doc_id = pr.a_id
         |JOIN documents db ON db.doc_id = pr.b_id
         |ORDER BY pr.a_id, pr.b_id""".stripMargin,
    "dedup_incremental" ->
      s"""WITH $jaccardPairCtes, np AS (
         |  SELECT DISTINCT CASE WHEN a_id % 5 = 0 THEN a_id ELSE b_id END AS doc_id
         |  FROM p
         |  WHERE round(CAST(inter AS DOUBLE) / CAST(na + nb - inter AS DOUBLE), 6) >= 0.5
         |    AND ((a_id % 5 = 0) <> (b_id % 5 = 0))
         |)
         |SELECT d.doc_id,
         |       CASE WHEN EXISTS (SELECT 1 FROM documents b
         |                         WHERE b.doc_id % 5 <> 0 AND md5(b.text) = md5(d.text))
         |              THEN 'exact_dup'
         |            WHEN d.doc_id IN (SELECT doc_id FROM np) THEN 'near_dup'
         |            ELSE 'new' END AS status
         |FROM documents d WHERE d.doc_id % 5 = 0 ORDER BY d.doc_id""".stripMargin,
    "dedup_pagerank" -> {
      // three unrolled integer-nano iterations — `//` on positive BIGINTs
      // == Spark's DIV truncation
      def iter(prev: String, out: String): String =
        s"""$out AS (
           |  SELECT tp.id, (15 * tp.t + 85 * coalesce(f.inflow, 0)) // 100 AS r
           |  FROM tp LEFT JOIN (
           |    SELECT e.dst AS id, CAST(sum(r.r // d.deg) AS BIGINT) AS inflow
           |    FROM edges e JOIN deg d ON d.src = e.src JOIN $prev r ON r.id = e.src
           |    GROUP BY 1) f ON f.id = tp.id
           |)""".stripMargin
      s"""WITH $jaccardPairCtes, pairs AS (
         |  SELECT a_id, b_id FROM p
         |  WHERE round(CAST(inter AS DOUBLE) / CAST(na + nb - inter AS DOUBLE), 6) >= 0.5
         |), edges AS (
         |  SELECT a_id AS src, b_id AS dst FROM pairs
         |  UNION ALL
         |  SELECT b_id, a_id FROM pairs
         |), deg AS (
         |  SELECT src, CAST(count(*) AS BIGINT) AS deg FROM edges GROUP BY 1
         |), nn AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_nodes FROM documents
         |), tp AS (
         |  SELECT doc_id AS id,
         |         CAST(1000000000 AS BIGINT) // (SELECT n_nodes FROM nn) AS t
         |  FROM documents
         |), r0 AS (
         |  SELECT id, t AS r FROM tp
         |), ${iter("r0", "i1")}, ${iter("i1", "i2")}, ${iter("i2", "i3")}
         |SELECT id AS doc_id, CAST(r AS BIGINT) AS rank_nano
         |FROM i3 ORDER BY rank_nano DESC, doc_id LIMIT 20""".stripMargin
    },
    "ngram_novelty" ->
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
         |), f AS (
         |  SELECT h, CAST(count(*) AS BIGINT) AS df FROM u GROUP BY 1
         |), p AS (
         |  SELECT u.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
         |         CAST(sum(CASE WHEN f.df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique
         |  FROM u JOIN f USING (h) GROUP BY 1
         |)
         |SELECT d.doc_id,
         |       coalesce(p.n_grams, 0) AS n_grams,
         |       coalesce(p.n_unique, 0) AS n_unique,
         |       CASE WHEN coalesce(p.n_grams, 0) > 0
         |            THEN round(CAST(p.n_unique AS DOUBLE) / CAST(p.n_grams AS DOUBLE), 6)
         |            END AS novelty
         |FROM documents d LEFT JOIN p USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin,
    "decontaminate" ->
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
         |  SELECT doc_id, CAST(len(sh) AS INT) AS nsh,
         |         ${graft.functions.PortableHash.hash60Sql("s")} AS h
         |  FROM (SELECT doc_id, sh, unnest(sh) AS s FROM sh)
         |), e AS (
         |  SELECT DISTINCT h FROM u WHERE doc_id % 50 = 0
         |), tr AS (
         |  SELECT doc_id, min(nsh) AS n_grams FROM u WHERE doc_id % 50 <> 0 GROUP BY 1
         |), hits AS (
         |  SELECT u.doc_id, CAST(count(*) AS BIGINT) AS nc
         |  FROM u JOIN e USING (h) WHERE u.doc_id % 50 <> 0 GROUP BY 1
         |)
         |SELECT d.doc_id,
         |       coalesce(tr.n_grams, 0) AS n_grams,
         |       coalesce(hits.nc, 0) AS n_contaminated,
         |       CAST(CASE WHEN coalesce(hits.nc, 0) > 0 THEN 1 ELSE 0 END AS INT)
         |         AS contaminated
         |FROM (SELECT doc_id FROM documents WHERE doc_id % 50 <> 0) d
         |LEFT JOIN tr ON d.doc_id = tr.doc_id
         |LEFT JOIN hits ON d.doc_id = hits.doc_id
         |ORDER BY d.doc_id""".stripMargin,
    "dedup_substring" ->
      // token-span winnowing: per-position 3-gram hash60s, window-min over
      // 4 consecutive positions ('0x'||hex cast == the hash60 polynomial,
      // bit-identical, just terser inside the nested lambda)
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents
        |), hs AS (
        |  SELECT doc_id,
        |         CASE WHEN len(tk) >= 6 THEN
        |           list_transform(generate_series(1, len(tk) - 2),
        |             i -> CAST(('0x' || substr(md5(tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]),
        |                                       1, 15)) AS BIGINT))
        |         ELSE CAST([] AS BIGINT[]) END AS hseq
        |  FROM t
        |), m AS (
        |  SELECT doc_id,
        |         CASE WHEN len(hseq) >= 4 THEN
        |           list_distinct(list_transform(generate_series(0, len(hseq) - 4),
        |             p -> list_min(hseq[p + 1 : p + 4])))
        |         ELSE CAST([] AS BIGINT[]) END AS fp
        |  FROM hs
        |), u AS (
        |  SELECT doc_id, CAST(len(fp) AS INT) AS nf, unnest(fp) AS f FROM m
        |), p AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |         CAST(count(*) AS BIGINT) AS n_shared,
        |         min(a.nf) AS na, min(b.nf) AS nb
        |  FROM u a JOIN u b ON a.f = b.f AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2
        |)
        |SELECT a_id, b_id, n_shared,
        |       round(CAST(n_shared AS DOUBLE) / CAST(least(na, nb) AS DOUBLE), 6)
        |         AS containment
        |FROM p
        |WHERE round(CAST(n_shared AS DOUBLE) / CAST(least(na, nb) AS DOUBLE), 6) >= 0.8
        |ORDER BY a_id, b_id""".stripMargin,
    "dedup_minhash" -> {
      // replicate: shingles → one portable hash60 per shingle → per-seed
      // xor against the engine's literal permutation constants →
      // per-(doc,seed) min → 4-row band signatures → band-collision
      // candidates → matching-component estimate ≥ 0.5
      val h0 = PortableHash.hash60Sql("s")
      val consts = DedupOps
        .permConstants(16)
        .zipWithIndex
        .map { case (c, j) => s"($j, CAST($c AS BIGINT))" }
        .mkString(", ")
      s"""WITH t AS (
         |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents
         |), shl AS (
         |  SELECT doc_id,
         |         CASE WHEN len(tk) >= 3
         |              THEN list_distinct(list_transform(generate_series(1, len(tk) - 2),
         |                     i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))
         |              ELSE CAST([] AS VARCHAR[]) END AS sh
         |  FROM t
         |), u AS (
         |  SELECT doc_id, unnest(sh) AS s FROM shl
         |), h0 AS (
         |  SELECT doc_id, $h0 AS h0 FROM u
         |), mh AS (
         |  SELECT doc_id, seed, min(xor(h0, c)) AS mh
         |  FROM h0, (VALUES $consts) consts(seed, c)
         |  GROUP BY doc_id, seed
         |), bands AS (
         |  SELECT doc_id, seed // 4 AS band,
         |         string_agg(seed || ':' || mh, ',' ORDER BY seed) AS band_key
         |  FROM mh GROUP BY doc_id, seed // 4
         |), cand AS (
         |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
         |), est AS (
         |  SELECT c.a_id, c.b_id,
         |         round(CAST(sum(CASE WHEN x.mh = y.mh THEN 1 ELSE 0 END) AS DOUBLE)
         |               / 16.0, 6) AS est_jaccard
         |  FROM cand c
         |  JOIN mh x ON x.doc_id = c.a_id
         |  JOIN mh y ON y.doc_id = c.b_id AND y.seed = x.seed
         |  GROUP BY c.a_id, c.b_id
         |)
         |SELECT a_id, b_id, est_jaccard FROM est
         |WHERE est_jaccard >= 0.5 ORDER BY a_id, b_id""".stripMargin
    },
    "dedup_simhash" -> {
      // brute-force Hamming pairs == the engine's banded output (exact
      // recall for maxHamming ≤ 5 under 6×10-bit banding — pigeonhole)
      val h = PortableHash.hash60Sql("tok")
      s"""WITH tok AS (
         |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
         |), th AS (
         |  SELECT doc_id, $h AS h FROM tok
         |), bits AS (
         |  SELECT doc_id, b,
         |         sum(CASE WHEN ((h >> b) & 1) = 1 THEN 1 ELSE -1 END) AS v
         |  FROM th, (SELECT unnest(generate_series(0, 59)) AS b) bs
         |  GROUP BY doc_id, b
         |), sig AS (
         |  SELECT doc_id,
         |         CAST(sum(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END)
         |              AS BIGINT) AS s
         |  FROM bits GROUP BY doc_id
         |)
         |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |       CAST(bit_count(xor(a.s, b.s)) AS INT) AS hamming
         |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.s, b.s)) <= 5
         |ORDER BY a_id, b_id""".stripMargin
    },
    "dedup_embedding_lsh" ->
      s"""WITH $lshPairCtes
         |SELECT a_id, b_id, cos FROM p WHERE cos >= 0.4 ORDER BY a_id, b_id""".stripMargin,
    "split_leakage_semantic" -> {
      val split = (idCol: String) => {
        val bucket =
          s"(${graft.functions.PortableHash.hash60Sql(s"'split:' || CAST($idCol AS VARCHAR)")}) % 100"
        s"CASE WHEN $bucket < 80 THEN 'train' WHEN $bucket < 90 THEN 'val' ELSE 'test' END"
      }
      s"""WITH $lshPairCtes, pr AS (
         |  SELECT a_id, b_id, ${split("a_id")} AS sa, ${split("b_id")} AS sb
         |  FROM p WHERE cos >= 0.4
         |), leaked AS (
         |  SELECT DISTINCT CASE WHEN sa = 'train' AND sb <> 'train' THEN b_id
         |                       WHEN sb = 'train' AND sa <> 'train' THEN a_id
         |                  END AS vec_id
         |  FROM pr
         |  WHERE (sa = 'train' AND sb <> 'train') OR (sb = 'train' AND sa <> 'train')
         |), ev AS (
         |  SELECT vec_id, ${split("vec_id")} AS split FROM embeddings
         |)
         |SELECT split, CAST(count(*) AS BIGINT) AS n_eval,
         |       CAST(sum(CASE WHEN leaked.vec_id IS NOT NULL THEN 1 ELSE 0 END)
         |            AS BIGINT) AS n_leaked,
         |       round(CAST(sum(CASE WHEN leaked.vec_id IS NOT NULL THEN 1 ELSE 0 END)
         |                  AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS leak_frac
         |FROM ev LEFT JOIN leaked USING (vec_id)
         |WHERE split <> 'train'
         |GROUP BY split ORDER BY split""".stripMargin
    },
    "dedup_embedding" ->
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
        |), p AS (
        |  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
        |         round(list_dot_product(a.emb, b.emb)
        |               / (sqrt(list_dot_product(a.emb, a.emb))
        |                  * sqrt(list_dot_product(b.emb, b.emb))), 6) AS cos
        |  FROM e a, e b WHERE a.vec_id < b.vec_id
        |)
        |SELECT a_id, b_id, cos FROM p WHERE cos >= 0.4 ORDER BY a_id, b_id""".stripMargin,
    "graph_degree_hist" ->
      s"""WITH $jaccardPairCtes, pr AS (
         |  SELECT a_id, b_id FROM p
         |  WHERE round(CAST(inter AS DOUBLE) / CAST(na + nb - inter AS DOUBLE), 6) >= 0.5
         |), nd AS (
         |  SELECT a_id AS node FROM pr
         |  UNION ALL
         |  SELECT b_id FROM pr
         |), dg AS (
         |  SELECT doc_id, CAST(count(node) AS BIGINT) AS degree
         |  FROM documents LEFT JOIN nd ON node = doc_id
         |  GROUP BY doc_id
         |)
         |SELECT degree, CAST(count(*) AS BIGINT) AS n_nodes
         |FROM dg GROUP BY degree ORDER BY degree""".stripMargin)
}
