package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.MultimodalOps
import graft.sources.Tables

/** Multimodal-column queries (SURVEY §7.6). `media_features` checks the
  * binary payload schema, byte length, and content digest; `media_decode`
  * exercises the full partition-batched stub decoder. Both are
  * DuckDB-oracled: the stub checksum is the portable 60-bit md5 value
  * (graft.functions.PortableHash) and the fake-embedding chunk means use
  * IEEE float32 steps DuckDB reproduces with REAL arithmetic.
  */
object MediaQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "media_features" -> ((s, dir) =>
      MultimodalOps
        .asMedia(Tables.documents(s, dir))
        .select(
          col("doc_id"),
          octet_length(col("payload")).as("n_bytes"),
          md5(col("payload")).as("payload_md5"),
          col("mime"))
        .orderBy(col("doc_id"))),
    "media_decode" -> ((s, dir) =>
      MultimodalOps
        .mediaFeatures(Tables.documents(s, dir), dim = 8)
        .select(
          col("doc_id"),
          col("n_bytes"),
          col("checksum"),
          // widen to double BEFORE rounding — round(float, 6) stays FLOAT
          // and its double representation would disagree with the oracle
          round(element_at(col("feat"), 1).cast("double"), 6).as("feat0"))
        .orderBy(col("doc_id"))),
    // Perceptual-bucket near-dup grouping — the pHash-style dedup shape
    // for media: items bucketed by (coarse size, quantized leading
    // feature); real deployments swap the stub feature for a perceptual
    // hash, the grouping plan is identical. The quantization reuses the
    // oracle-exact round-6 feature, and both engines truncate the SAME
    // IEEE double product, so bucket ids match bit-for-bit.
    "media_dedup" -> ((s, dir) =>
      MultimodalOps
        .mediaFeatures(Tables.documents(s, dir), dim = 8)
        .select(
          col("doc_id"),
          (col("n_bytes") / lit(64)).cast("int").as("size_bucket"),
          (round(element_at(col("feat"), 1).cast("double"), 6) * lit(100))
            .cast("int")
            .as("ph"))
        .groupBy(col("size_bucket"), col("ph"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_items"))
        .orderBy(col("size_bucket"), col("ph"))))

  val oracle: Map[String, String] = Map(
    "media_features" ->
      """SELECT doc_id,
        |       CAST(octet_length(encode(text)) AS INT) AS n_bytes,
        |       md5(text) AS payload_md5,
        |       'text/plain' AS mime
        |FROM documents ORDER BY doc_id""".stripMargin,
    "media_dedup" -> {
      """WITH m AS (
        |  SELECT doc_id,
        |         CAST(octet_length(encode(text)) AS INT) AS n_bytes,
        |         greatest(octet_length(encode(text)) // 8, 1) AS hi,
        |         text
        |  FROM documents
        |), f AS (
        |  SELECT doc_id, n_bytes // 64 AS size_bucket,
        |         CAST(trunc(round(CAST(
        |           CAST(list_sum(list_transform(generate_series(1, hi),
        |                  j -> ascii(substr(text, j, 1)))) AS REAL)
        |           / CAST(hi AS REAL) / CAST(255 AS REAL)
        |         AS DOUBLE), 6) * 100) AS INT) AS ph
        |  FROM m
        |)
        |SELECT CAST(size_bucket AS INT) AS size_bucket, ph,
        |       min(doc_id) AS keep_id, CAST(count(*) AS BIGINT) AS n_items
        |FROM f GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
    },
    "media_decode" -> {
      // stub decode replica: checksum = portable hash60 of the payload;
      // feat0 = mean of the first byte chunk (chunk 0 of dim=8: bytes
      // [0, max(1, len/8))), computed in float32 exactly like the Scala
      // stub (s.toFloat / chunkLen / 255f) — corpus text is pure ASCII so
      // ascii(char j) == payload byte j
      val checksum = graft.functions.PortableHash.hash60Sql("text")
      """WITH m AS (
        |  SELECT doc_id,
        |         CAST(octet_length(encode(text)) AS INT) AS n_bytes,
        |         CHECKSUM_EXPR AS checksum,
        |         greatest(octet_length(encode(text)) // 8, 1) AS hi,
        |         text
        |  FROM documents
        |)
        |SELECT doc_id, n_bytes, checksum,
        |       round(CAST(
        |         CAST(list_sum(list_transform(generate_series(1, hi),
        |                j -> ascii(substr(text, j, 1)))) AS REAL)
        |         / CAST(hi AS REAL) / CAST(255 AS REAL)
        |       AS DOUBLE), 6) AS feat0
        |FROM m ORDER BY doc_id""".stripMargin.replace("CHECKSUM_EXPR", checksum)
    })
}
