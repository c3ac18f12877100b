package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference's entire declarative-query surface: the decile/percentile
  * summary SQL over the histogram relation
  * (reference: compute_histogram/compute_histogram.sql:1-3).
  *
  * Exercises: CTE, scalar aggregate, cross join against a 1-row relation,
  * cumulative-sum window with the default frame, arithmetic + floor,
  * multi-aggregate GROUP BY, ORDER BY of an aggregate.
  *
  * Scale note: the window is unpartitioned (single-partition exchange) but
  * runs on the *binned* relation (≤ `hi − lo` rows), never on raw values —
  * the cardinality-reduction-before-window property that makes the whole
  * design scale (SURVEY §3.3). Spark's default window frame with ORDER BY is
  * RANGE UNBOUNDED PRECEDING..CURRENT ROW, identical to the reference SQL's.
  */
object PercentileOps {

  /** DataFrame-API form. Input `histo(value: double, cnt: long)`; output
    * `(percentile: long, min_value: double, max_value: double, cnt: long)`
    * ordered by `min_value`.
    *
    * The scalar total (the reference SQL's 1-row CTE `s` + cross join J1) is
    * computed as an unbounded-frame window over the SAME binned relation the
    * running total uses — one single-partition pass, no second evaluation of
    * the histogram lineage. (A cross join against a separate `agg(sum)`
    * relation re-runs the full upstream pipeline: on a two-pass histogram
    * that is a third raw scan — an extra full pass over the data at 100 TB.)
    * The J1 cross-join shape itself stays covered by [[decilesSql]], the
    * verbatim port. Both forms produce identical rows (PropertySpec).
    */
  def deciles(histo: DataFrame): DataFrame = {
    val running = sum(col("cnt")).over(Window.orderBy(col("value")))
    val total = sum(col("cnt")).over(
      Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
    histo
      .select(
        col("value"),
        col("cnt"),
        floor(running.cast("double") / total.cast("double") * lit(10)).as("pct"))
      .groupBy(col("pct"))
      .agg(
        min(col("value")).as("min_value"),
        max(col("value")).as("max_value"),
        sum(col("cnt")).as("cnt"))
      .select(
        (col("pct") * lit(10)).as("percentile"),
        col("min_value"),
        col("max_value"),
        col("cnt"))
      .orderBy(col("min_value"))
  }

  /** Single-pass approximate deciles over RAW values (SURVEY §7.5): when a
    * second scan is too expensive at scale, `percentile_approx` (Greenwald-
    * Khanna style sketch) replaces the histogram+window pipeline with one
    * partial/final aggregation. Off the oracle path by design — the sketch
    * is deterministic for a fixed partitioning but not engine-portable.
    * Output `(percentile, value)` for p = 0,10,...,100.
    */
  def approxDeciles(values: DataFrame, accuracy: Int = 10000): DataFrame = {
    val ps = (0 to 10).map(_ / 10.0)
    values
      .agg(
        percentile_approx(
          col("value"),
          array(ps.map(lit): _*),
          lit(accuracy)).as("qs"))
      .select(posexplode(col("qs")).as(Seq("i", "value")))
      .select((col("i") * 10).cast("long").as("percentile"), col("value"))
  }

  /** SQL-verbatim form (modulo column aliases, which the DuckDB oracle
    * compare requires to be stable): registers the histogram as temp view
    * `histo` and runs the ported reference SQL. Kept alongside [[deciles]]
    * so a spec can assert both plans produce identical rows.
    */
  def decilesSql(spark: SparkSession, histo: DataFrame): DataFrame = {
    histo.createOrReplaceTempView("histo")
    spark.sql("""
      WITH s AS (SELECT sum(cnt) AS total FROM histo),
           t AS (SELECT value, cnt,
                        floor(((sum(cnt) OVER (ORDER BY value)) / s.total) * 10) AS pct
                 FROM histo, s)
      SELECT pct * 10 AS percentile,
             min(value) AS min_value,
             max(value) AS max_value,
             sum(cnt)   AS cnt
      FROM t GROUP BY pct ORDER BY min(value)
    """)
  }
}
