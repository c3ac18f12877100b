package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

/** Registration + Column-facing wrappers for graft's native expressions.
  *
  * Spark 4's public `Column` wraps a `ColumnNode`, so custom Catalyst
  * expressions are exposed the supported way: registered in the session's
  * `FunctionRegistry` and invoked via `call_function` — this keeps the
  * expression inside whole-stage codegen with zero wrapper overhead.
  */
object GraftFunctions {

  val COSINE = "graft_cosine"
  val DOT = "graft_dot"
  val WINNOW = "graft_winnow_fp"
  val HASH60 = "graft_hash60"
  val HASH60B = "graft_hash60b"
  val REPETITION = "graft_repetition"
  val TOKEN_COUNTS = "graft_token_counts"
  val LSH_BANDS = "graft_lsh_band_buckets"

  /** Idempotent per-session registration (called from SparkEntry.tune) —
    * skips names already present so repeated tune() calls (one per query
    * in Verify/Bench) don't spam "function replaced" warnings. Also
    * installs the [[graft.core.CollapseSmallStages]] planner strategy
    * once per session.
    */
  def register(spark: SparkSession): Unit = {
    val strategies = spark.experimental.extraStrategies
    if (!strategies.contains(graft.core.CollapseSmallStages))
      spark.experimental.extraStrategies = strategies :+ graft.core.CollapseSmallStages
    val registry = spark.sessionState.functionRegistry
    def registerOnce(name: String, builder: Seq[org.apache.spark.sql.catalyst.expressions.Expression] => org.apache.spark.sql.catalyst.expressions.Expression): Unit =
      if (!registry.functionExists(org.apache.spark.sql.catalyst.FunctionIdentifier(name)))
        registry.createOrReplaceTempFunction(name, builder, "scala_udf")
    registerOnce(COSINE, exprs => CosineSimilarity(exprs(0), exprs(1)))
    registerOnce(DOT, exprs => DotProduct(exprs(0), exprs(1)))
    registerOnce(HASH60, exprs => Hash60Expr(exprs(0)))
    registerOnce(HASH60B, exprs => Hash60Expr(exprs(0), second = true))
    registerOnce(REPETITION, exprs => RepetitionStatsExpr(exprs(0)))
    registerOnce(TOKEN_COUNTS, exprs => TokenCountsExpr(exprs(0)))
    registerOnce(LSH_BANDS, { // literal-int config (plan-time constants)
      case Seq(emb, b, r, d) =>
        LshBandBucketsExpr(
          emb,
          b.eval().asInstanceOf[Number].intValue(),
          r.eval().asInstanceOf[Number].intValue(),
          d.eval().asInstanceOf[Number].intValue())
      case other =>
        throw new IllegalArgumentException(
          s"$LSH_BANDS takes (emb, bands, planesPerBand, dim); got ${other.size} args")
    })
    registerOnce(WINNOW, {
      case Seq(t) => WinnowFingerprintsExpr(t)
      case Seq(t, k, w) => // literal-int k/w (plan-time constants)
        WinnowFingerprintsExpr(
          t,
          k.eval().asInstanceOf[Number].intValue(),
          w.eval().asInstanceOf[Number].intValue())
      case other =>
        throw new IllegalArgumentException(
          s"$WINNOW takes (text) or (text, k, w); got ${other.size} args")
    })
  }

  /** Cosine similarity over two `array<double>` columns (codegen'd). */
  def cosine(a: Column, b: Column): Column = call_function(COSINE, a, b)

  /** Dot product over two `array<double>` columns (codegen'd). */
  def dot(a: Column, b: Column): Column = call_function(DOT, a, b)

  /** All banded sign-bit LSH bucket ids of an `array<double>` embedding in
    * one fused pass (codegen'd): `array<long>` of length `bands`. See
    * [[LshBandBucketsExpr]].
    */
  def lshBandBuckets(emb: Column, bands: Int, planesPerBand: Int, dim: Int): Column =
    call_function(LSH_BANDS, emb, lit(bands), lit(planesPerBand), lit(dim))

  /** Winnowing fingerprints (k=5, w=4) of a text column in one compiled
    * pass (codegen'd). HOF twin: `TextOps.winnowFingerprints`.
    */
  def winnowFp(text: Column, k: Int = 5, w: Int = 4): Column =
    call_function(WINNOW, text, lit(k), lit(w))

  /** Per-doc repetition-stat struct `(n_tokens, n_bigrams, top_bigram_n,
    * n_5grams, n_distinct_5)` in one pass (codegen'd).
    */
  def repetitionStats(text: Column): Column = call_function(REPETITION, text)

  /** `(n_tokens, n_distinct)` of a text column in one compiled pass
    * (codegen'd). Declarative twin: `size(split(...))` +
    * `size(array_distinct(split(...)))` — two array materializations.
    */
  def tokenCounts(text: Column): Column = call_function(TOKEN_COUNTS, text)

  /** Reference implementation with built-in higher-order functions —
    * interpreted, kept for cross-checking the native expression in tests
    * and as the no-custom-code fallback.
    */
  def cosineHof(a: Column, b: Column): Column = {
    def dot(x: Column, y: Column): Column =
      aggregate(zip_with(x, y, (p, q) => p * q), lit(0.0), (acc, v) => acc + v)
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))
  }
}
