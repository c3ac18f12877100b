package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.BinMethod
import graft.operators.{HistogramOps, PercentileOps}
import graft.sources.Tables

/** Core reference-operator queries (SURVEY §2) + their DuckDB oracles.
  *
  * Oracle-SQL conventions (driver hash-compares Spark parquet vs DuckDB):
  *  - Spark `cast(double as int/bigint)` truncates toward zero (ANSI off);
  *    the DuckDB cast ROUNDS, so oracles always spell `CAST(trunc(x) AS ..)`.
  *  - DuckDB `sum(BIGINT)` returns HUGEINT; oracles cast back to BIGINT.
  *  - Every aggregate/computed column is aliased identically on both sides.
  *  - Both sides ORDER BY a deterministic unique key.
  */
object CoreQueries {

  private def histoLinearCte(table: String, valueExpr: String): String =
    s"""WITH v AS (
       |  SELECT CAST($valueExpr AS DOUBLE) AS value FROM $table
       |  WHERE $valueExpr IS NOT NULL AND NOT isnan(CAST($valueExpr AS DOUBLE))
       |), mm AS (
       |  -- coalesce(…, 0): empty input mirrors the engine's reference-
       |  -- faithful zero-init fallback (compute_histogram/main.py:131-132)
       |  SELECT CAST(trunc(coalesce(min(value), 0) * 100) AS INT) - 10 AS lo,
       |         CAST(trunc(coalesce(max(value), 0) * 100) AS INT) + 10 AS hi
       |  FROM v
       |), codes AS (
       |  SELECT CAST(trunc(value * 100) AS INT) AS code FROM v
       |), counted AS (
       |  SELECT CASE WHEN c.code = m.hi THEN m.hi - 1 ELSE c.code END AS bin,
       |         count(*) AS c
       |  FROM codes c, mm m WHERE c.code BETWEEN m.lo AND m.hi GROUP BY 1
       |), bins AS (
       |  SELECT unnest(generate_series(lo, hi - 1)) AS bin FROM mm
       |), histo AS (
       |  SELECT CAST(b.bin AS DOUBLE) / 100.0 AS value,
       |         CAST(coalesce(ct.c, 0) AS BIGINT) AS cnt
       |  FROM bins b LEFT JOIN counted ct USING (bin)
       |)""".stripMargin

  // Known cross-engine exposure (accepted): the log-bin CODE itself is
  // trunc(ln(v + off) * 1000) computed independently by the JVM's
  // StrictMath.log (Spark's log and BinSpec.logCode, so the spec and the
  // codes agree inside the engine) and DuckDB libm. A value whose scaled
  // log lands within 1 ulp of an integer boundary could flip a bin between
  // engines; counts would then differ by ±1 in two adjacent bins. Probability grows with row count (none observed
  // through sf0.1). The bin-edge VALUE column is already round(·, 6) on both
  // sides; the code boundary cannot be rounded without changing reference
  // semantics (compute_histogram/main.py:196-197), so it is documented
  // rather than masked.
  private def histoLogCte(table: String, valueExpr: String): String =
    s"""WITH v AS (
       |  SELECT CAST($valueExpr AS DOUBLE) AS value FROM $table
       |  WHERE $valueExpr IS NOT NULL AND NOT isnan(CAST($valueExpr AS DOUBLE))
       |), mm AS (
       |  SELECT coalesce(min(value), 0) AS mn, coalesce(max(value), 0) AS mx FROM v
       |), spec AS (
       |  SELECT off,
       |         CAST(trunc(ln(mn + off) * 1000) AS INT) AS lo,
       |         CAST(trunc(ln(mx + off) * 1000) AS INT) AS hi
       |  FROM (SELECT mn, mx,
       |               CASE WHEN mn <= 0 THEN abs(mn) + 1 ELSE 0 END AS off
       |        FROM mm)
       |), codes AS (
       |  SELECT CAST(trunc(ln(v.value + s.off) * 1000) AS INT) AS code
       |  FROM v, spec s
       |), counted AS (
       |  SELECT CASE WHEN c.code = s.hi THEN s.hi - 1 ELSE c.code END AS bin,
       |         count(*) AS c
       |  FROM codes c, spec s WHERE c.code BETWEEN s.lo AND s.hi GROUP BY 1
       |), bins AS (
       |  SELECT unnest(generate_series(lo, hi - 1)) AS bin FROM spec
       |), histo AS (
       |  SELECT exp(CAST(b.bin AS DOUBLE) / 1000.0) - s.off AS value,
       |         CAST(coalesce(ct.c, 0) AS BIGINT) AS cnt
       |  FROM bins b CROSS JOIN spec s LEFT JOIN counted ct USING (bin)
       |)""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // A1/A2 + F1 — global min/max over a value column.
    "minmax" -> ((s, dir) => {
      HistogramOps
        .validValues(Tables.lineitem(s, dir), "l_extendedprice")
        .agg(min(col("value")).as("min_value"), max(col("value")).as("max_value"))
    }),
    // A2 bug-compat — the reference's zero-initialized accumulators
    // (compute_histogram/main.py:131-132) clamp min ≤ 0 and max ≥ 0.
    "minmax_clamped" -> ((s, dir) => {
      HistogramOps
        .validValues(Tables.lineitem(s, dir), "l_extendedprice")
        .agg(
          least(min(col("value")), lit(0.0)).as("min_value"),
          greatest(max(col("value")), lit(0.0)).as("max_value"))
    }),
    // P1/P3/A3/A4/F3 — dense linear histogram.
    "hist_linear" -> ((s, dir) =>
      HistogramRunner.run(Tables.lineitem(s, dir), HistogramConfig("l_quantity"))),
    // P2/P4 — dense log histogram, offset = 0 path (events.value > 0).
    // Bin-edge values are exp()-reconstructed; JVM Math.exp and DuckDB libm
    // differ in the last ulp, so the verify surface rounds to 6 decimals
    // (both sides) — counts are exact.
    "hist_log" -> ((s, dir) =>
      HistogramRunner
        .run(Tables.events(s, dir), HistogramConfig("value", BinMethod.Log))
        .select(round(col("value"), 6).as("value"), col("cnt"))),
    // P2/P4 — log histogram with a negative-min derived column, exercising
    // the offset = |min| + 1 path (compute_histogram/main.py:166-168).
    "hist_log_offset" -> ((s, dir) => {
      val shifted = Tables.events(s, dir).select((col("value") - lit(250.0)).as("v"))
      HistogramRunner
        .run(shifted, HistogramConfig("v", BinMethod.Log))
        .select(round(col("value"), 6).as("value"), col("cnt"))
    }),
    // Flagship: the reference pipeline (one read, driver-side fold) + the
    // reference decile SQL (A5/A6/W1/W2/J1/O1/P5).
    "hist_deciles" -> ((s, dir) =>
      PercentileOps.deciles(HistogramRunner.run(Tables.lineitem(s, dir), HistogramConfig("l_quantity")))),
    // Round 9: the streaming cut-key twin's read path run in batch — the
    // decile boundary bins and their value intervals read off the
    // incremental bin-count STATE (streaming/StreamingQuantiles; the same
    // state a live stream maintains, equivalence spec-pinned in
    // StreamingQuantilesSpec). Every exact batch cut provably lies inside
    // its row's [err_lo, err_hi].
    "hist_cut_bounds" -> ((s, dir) => cutBounds(Tables.lineitem(s, dir), "l_quantity"))
  )

  /** `hist_cut_bounds` over any `valueCol`: one linear histogram fold
    * ([[HistogramRunner.fold]]) gives both the spec and the `(bin, cnt)`
    * state the cuts read, in one read of `df`.
    */
  def cutBounds(df: DataFrame, valueCol: String): DataFrame = {
    val folded = HistogramRunner.fold(df, HistogramConfig(valueCol))
    graft.streaming.StreamingQuantiles.cutsFromState(folded.binCounts(df.sparkSession), folded.spec, 10)
  }

  val oracle: Map[String, String] = Map(
    "minmax" ->
      """SELECT min(value) AS min_value, max(value) AS max_value
        |FROM (SELECT CAST(l_extendedprice AS DOUBLE) AS value FROM lineitem
        |      WHERE l_extendedprice IS NOT NULL
        |        AND NOT isnan(CAST(l_extendedprice AS DOUBLE)))""".stripMargin,
    "minmax_clamped" ->
      """SELECT least(min(value), 0.0) AS min_value, greatest(max(value), 0.0) AS max_value
        |FROM (SELECT CAST(l_extendedprice AS DOUBLE) AS value FROM lineitem
        |      WHERE l_extendedprice IS NOT NULL
        |        AND NOT isnan(CAST(l_extendedprice AS DOUBLE)))""".stripMargin,
    "hist_linear" ->
      (histoLinearCte("lineitem", "l_quantity") +
        "\nSELECT value, cnt FROM histo ORDER BY value"),
    "hist_log" ->
      (histoLogCte("events", "value") +
        "\nSELECT round(value, 6) AS value, cnt FROM histo ORDER BY value"),
    "hist_log_offset" ->
      (histoLogCte("(SELECT value - 250.0 AS v FROM events)", "v") +
        "\nSELECT round(value, 6) AS value, cnt FROM histo ORDER BY value"),
    "hist_deciles" ->
      (histoLinearCte("lineitem", "l_quantity") +
        """
          |, s AS (SELECT sum(cnt) AS total FROM histo),
          |  t AS (SELECT value, cnt,
          |               CAST(floor((CAST(sum(cnt) OVER (ORDER BY value) AS DOUBLE)
          |                           / CAST(total AS DOUBLE)) * 10) AS BIGINT) AS pct
          |        FROM histo, s)
          |SELECT pct * 10 AS percentile,
          |       min(value) AS min_value,
          |       max(value) AS max_value,
          |       CAST(sum(cnt) AS BIGINT) AS cnt
          |FROM t GROUP BY pct ORDER BY min(value)""".stripMargin),
    "hist_cut_bounds" ->
      """WITH v AS (
        |  SELECT CAST(l_quantity AS DOUBLE) AS value FROM lineitem
        |  WHERE l_quantity IS NOT NULL AND NOT isnan(CAST(l_quantity AS DOUBLE))
        |), mm AS (
        |  SELECT CAST(trunc(coalesce(min(value), 0) * 100) AS INT) - 10 AS lo,
        |         CAST(trunc(coalesce(max(value), 0) * 100) AS INT) + 10 AS hi
        |  FROM v
        |), counted AS (
        |  SELECT CASE WHEN c.code = m.hi THEN m.hi - 1 ELSE c.code END AS bin,
        |         CAST(count(*) AS BIGINT) AS cnt
        |  FROM (SELECT CAST(trunc(value * 100) AS INT) AS code FROM v) c, mm m
        |  WHERE c.code BETWEEN m.lo AND m.hi GROUP BY 1
        |), cum AS (
        |  SELECT bin, cnt,
        |         sum(cnt) OVER (ORDER BY bin) AS cum,
        |         sum(cnt) OVER (ORDER BY bin) - cnt AS cum_prev
        |  FROM counted
        |), n AS (SELECT sum(cnt) AS n FROM counted),
        |   t AS (SELECT j, (n // 10) * j + least(j, n % 10) AS t
        |         FROM (SELECT unnest(generate_series(1, 9)) AS j), n)
        |SELECT CAST(t.j AS INT) AS j,
        |       CAST(t.t AS BIGINT) AS boundary_rank,
        |       CAST(c.bin AS INT) AS bin,
        |       CAST(c.bin AS DOUBLE) / 100.0 AS err_lo,
        |       CAST(c.bin + 1 AS DOUBLE) / 100.0 AS err_hi
        |FROM t JOIN cum c ON t.t > c.cum_prev AND t.t <= c.cum
        |ORDER BY j""".stripMargin
  )
}
