package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}

import graft.core.{BinMethod, BinSpec, RouteLog}

/** The histogram operator core, re-expressed as declarative Spark transforms.
  *
  * Every function is a `DataFrame => DataFrame` (or `Column => Column`)
  * building block; Catalyst handles predicate pushdown, column pruning and
  * partial/final aggregation that the reference hand-rolls with
  * `multiprocessing.Pool` + driver-side folds (reference:
  * compute_histogram/main.py:82-149).
  *
  * Scale notes (100 TB): the whole pipeline reduces cardinality *before* any
  * wide operation — raw values are quantized to integer codes, so the only
  * shuffle is a group-by over ≤ `hi − lo` distinct keys after map-side
  * partial aggregation; aggregation state is bounded by the bin count, never
  * by data size. The driver folds ≤ bins counts, as the reference's driver
  * does ([[fold]]).
  */
object HistogramOps {

  /** F1 — nodata filter + normalization to a single `value: double` column.
    *
    * The reference strips NaN pixels at scan time
    * (`w[~np.isnan(w)]`, compute_histogram/main.py:241); we additionally
    * treat SQL `null` as nodata. Catalyst pushes both predicates into the
    * Parquet scan.
    */
  def validValues(df: DataFrame, valueCol: String): DataFrame =
    df.select(col(valueCol).cast("double").as("value"))
      .filter(col("value").isNotNull && !isnan(col("value")))

  /** A1/A2 — global min/max as one distributed agg (partial per partition,
    * final combine — what the reference does manually in
    * compute_histogram/main.py:127-149).
    *
    * `clampToZero = true` reproduces the reference's accumulator zero-init
    * bug (min ≤ 0 and max ≥ 0 always; compute_histogram/main.py:131-132);
    * default is the correct semantics.
    */
  def minMax(values: DataFrame, clampToZero: Boolean = false): (Double, Double) = {
    val row = values.agg(min(col("value")), max(col("value"))).head()
    if (row.isNullAt(0)) (0.0, 0.0)
    else {
      val (mn, mx) = (row.getDouble(0), row.getDouble(1))
      if (clampToZero) (math.min(mn, 0.0), math.max(mx, 0.0)) else (mn, mx)
    }
  }

  /** P1/P2 — quantize a value column to an integer bin code under `spec`'s
    * method and offset: [[code]].
    */
  def quantize(
      value: Column,
      spec: BinSpec,
      legacyLogOffset100: Boolean = false): Column =
    code(value, spec.method, spec.offset, legacyLogOffset100)

  /** A value's integer bin code, or null where it has none.
    *
    * Linear: `trunc(v · 100)` (reference: compute_histogram/main.py:194-195).
    * Log: `trunc(ln(v + offset) · 1000)` (compute_histogram/main.py:196-197).
    *
    * We quantize in `IntegerType`, not the reference's `int16`, and rely on
    * the explicit `[lo, hi]` range of [[BinSpec.dense]] instead of
    * wraparound (SURVEY §7.4.4). `cast("int")` truncates toward zero like
    * numpy `astype`. A value has no code where Spark's `log` is null
    * (v + offset ≤ 0) or where the unrounded code fails `BinSpec.hasCode`
    * — exactly where the raster scan's `CodeFold` gives none — so the cast
    * never overflows, with or without ANSI mode.
    *
    * `legacyLogOffset100 = true` reproduces the reference bug where
    * quantization hard-codes `+ 100` regardless of the derived offset
    * (compute_histogram/main.py:197 vs :166-172).
    */
  def code(value: Column, method: BinMethod, offset: Double, legacyLogOffset100: Boolean): Column = {
    val raw = method match {
      case BinMethod.Linear => value * lit(100)
      case BinMethod.Log    => log(value + lit(if (legacyLogOffset100) 100.0 else offset)) * lit(1000)
    }
    when(abs(raw) + lit(10.0) <= lit(Int.MaxValue.toDouble), raw.cast("int"))
  }

  /** P3/P4 — reconstruct the bin's representative value from its code.
    *
    * Linear: `code / 100` (compute_histogram/main.py:110-111);
    * log: `exp(code / 1000) − offset` (compute_histogram/main.py:112-115).
    */
  def binEdge(bin: Column, spec: BinSpec): Column = spec.method match {
    case BinMethod.Linear => bin.cast("double") / lit(100.0)
    case BinMethod.Log    => exp(bin.cast("double") / lit(1000.0)) - lit(spec.offset)
  }

  /** F3 — numpy range semantics, shared by the batch and streaming paths:
    * codes outside `[lo, hi]` drop; code `hi` merges into the closed last
    * bin `hi − 1`.
    */
  def inRange(code: Column, lo: Int, hi: Int): Column =
    code >= lit(lo) && code <= lit(hi)

  def clampToLastBin(code: Column, hi: Int): Column =
    when(code === lit(hi), lit(hi - 1)).otherwise(code)

  /** A4 — element-wise merge of two dense histograms
    * (reference `_add_histogram`, compute_histogram/main.py:244-245).
    * Associative/commutative — exactly the property that makes the histogram
    * distributable and streamable.
    */
  def merge(h1: DataFrame, h2: DataFrame): DataFrame =
    h1.union(h2).groupBy(col("bin")).agg(sum(col("count")).as("count"))

  /** Dense-vector histogram (SURVEY §7.3/§7.5 single-shuffle alternative):
    * one `Array[Long]` buffer per partition crosses the exchange instead of
    * ≤ `bins` key rows — see [[graft.functions.DenseHistogram]]. Identical
    * output to [[histogram]].
    */
  def histogramDense(
      values: DataFrame,
      spec: BinSpec,
      legacyLogOffset100: Boolean = false): DataFrame = {
    if (spec.bins == 0) {
      // degenerate range — same empty result as the group-by path
      import values.sparkSession.implicits._
      return Seq.empty[(Double, Long)].toDF("value", "cnt")
    }
    val agg = udaf(
      new graft.functions.DenseHistogram(spec.lo, spec.hi),
      org.apache.spark.sql.Encoders.scalaInt)
    values
      .select(quantize(col("value"), spec, legacyLogOffset100).as("code"))
      .agg(agg(col("code")).as("counts"))
      .select(posexplode(col("counts")).as(Seq("bin0", "count")))
      .select(binEdge(col("bin0") + lit(spec.lo), spec).as("value"), col("count").as("cnt"))
      .orderBy(col("value"))
  }

  /** The histogram of `values` under a known `spec`: [[fold]] over
    * [[valueCodes]], one aggregate. Output `(value: double, cnt: long)`
    * in value order — the reference's `histogram.csv` relation
    * (compute_histogram/main.py:110-124).
    */
  def histogram(
      values: DataFrame,
      spec: BinSpec,
      legacyLogOffset100: Boolean = false): DataFrame =
    fold(values.sparkSession, spec.method, Some(spec), clampToZero = false, legacyLogOffset100)(
      valueCodes(values, spec.method, legacyLogOffset100))

  /** Bin-code counts of one read of a source, merged and collected: at
    * most one `(code, count)` pair per code seen, and the min and max of
    * its valid values, coded or not — (0.0, 0.0) without one, as in
    * [[minMax]]. `valid` is false when a valid value got no code, except
    * v + 100 ≤ 0 under the legacy log offset, whose log is undefined by
    * that offset's own definition.
    */
  final case class Codes(counts: Array[(Int, Long)], min: Double, max: Double, valid: Boolean)

  /** The one histogram fold — the reference's worker/driver split
    * (per-worker passes, driver-side `_add_histogram` fold and
    * `np.histogram`, compute_histogram/main.py:93-124, 244-249). Workers
    * count codes; the driver derives the spec from the merged min/max
    * unless `bounds` gives it (after `clampToZero`), drops the codes
    * outside it and densifies ([[BinSpec.dense]]).
    *
    * `codes(offset, spec)` reads the source once, coding with `offset`;
    * `spec` is the spec when already known, so the source may drop codes
    * outside it. The first read codes with offset 0 unless `bounds` is
    * given: that is the derived offset whenever the min is > 0, and linear
    * and the legacy `+100` code have no offset to derive. A log spec whose
    * derived offset differs (min ≤ 0, also after `clampToZero`) needs the
    * min before any code: a second read with that offset, logged as the
    * `histogramSecondPass` route. With derived bounds every valid value
    * has a code under the spec's offset; a read that says otherwise
    * throws.
    */
  def fold(
      spark: SparkSession,
      method: BinMethod,
      bounds: Option[BinSpec],
      clampToZero: Boolean,
      legacyLogOffset100: Boolean)(
      codes: (Double, Option[BinSpec]) => Codes): DataFrame = {
    val offset = bounds.fold(0.0)(_.offset)
    val first = codes(offset, bounds)
    val spec = bounds.getOrElse {
      val (a, b) = (first.min, first.max)
      val (mn, mx) = if (clampToZero) (math.min(a, 0.0), math.max(b, 0.0)) else (a, b)
      BinSpec.derive(mn, mx, method)
    }
    val coded =
      if (method == BinMethod.Log && !legacyLogOffset100 && spec.offset != offset) {
        RouteLog.costRoute(
          "histogramSecondPass",
          s"log bins from min ${first.min} need offset " +
            s"${spec.offset}, the first read coded with offset $offset")
        codes(spec.offset, Some(spec))
      } else first
    if (bounds.isEmpty && !coded.valid)
      throw new IllegalStateException(s"a valid value has no ${method.name} code under $spec")
    histogramFromCounts(spark, spec, spec.dense(coded.counts))
  }

  /** The DataFrame code source of [[fold]]: one `groupBy(code)` aggregate
    * of count, min and max over `values` (F1-normalized), collected. The
    * values with no [[code]] group under a null code and still count in
    * the min and max. A known `spec` keeps only its codes (and the null
    * one), so at most `bins + 1` rows reach the driver.
    */
  def valueCodes(values: DataFrame, method: BinMethod, legacyLogOffset100: Boolean)(
      offset: Double,
      spec: Option[BinSpec]): Codes = {
    val coded = values.select(
      code(col("value"), method, offset, legacyLogOffset100).as("code"), col("value"))
    val kept = spec.fold(coded)(s => coded.filter(col("code").isNull || inRange(col("code"), s.lo, s.hi)))
    val rows = kept
      .groupBy(col("code"))
      .agg(count(lit(1)), min(col("value")), max(col("value")))
      .collect()
    val (noCode, withCode) = rows.partition(_.isNullAt(0))
    val legacyLog = method == BinMethod.Log && legacyLogOffset100
    Codes(
      withCode.map(r => r.getInt(0) -> r.getLong(1)),
      rows.iterator.map(_.getDouble(2)).reduceOption(_ min _).getOrElse(0.0),
      rows.iterator.map(_.getDouble(3)).reduceOption(_ max _).getOrElse(0.0),
      noCode.forall(r => legacyLog && r.getDouble(3) + 100 <= 0))
  }

  /** The `(value, cnt)` histogram of dense bin counts already on the
    * driver (`counts(b)` counts bin `spec.lo + b`), as [[fold]] returns
    * it. A local relation in bin order, so value order: writing or
    * counting it runs no scan. `value` is [[binEdge]].
    */
  private def histogramFromCounts(spark: SparkSession, spec: BinSpec, counts: Array[Long]): DataFrame = {
    require(counts.length == spec.bins, s"${counts.length} counts for ${spec.bins} bins")
    val rows = java.util.Arrays.asList(counts.indices.map(b => Row(spec.lo + b, counts(b))): _*)
    val schema = StructType(Seq(
      StructField("bin", IntegerType, nullable = false),
      StructField("count", LongType, nullable = false)))
    spark.createDataFrame(rows, schema)
      .select(binEdge(col("bin"), spec).as("value"), col("count").as("cnt"))
  }

  /** S5 — CSV sink with the reference's `"%1.2f, %d"` row format, written as
    * exactly ONE file named `histogram.csv` under `path`, matching the
    * reference's `np.savetxt("histogram.csv", ...)` single-file output
    * (compute_histogram/main.py:119-124, README.md:5).
    *
    * `coalesce(1)` is safe here — and only here — because the relation is
    * the binned histogram (≤ `hi − lo` rows), never raw values.
    */
  def writeCsv(histo: DataFrame, path: String): Unit = {
    histo
      .coalesce(1)
      // one pre-formatted text column: np.savetxt(fmt="%1.2f, %d") puts a
      // comma AND a space between the fields (main.py:124) — the CSV
      // writer's single-char separator can't, so the row is rendered in
      // the plan and written as raw text for byte-identical output
      .select(format_string("%.2f, %d", col("value"), col("cnt")).as("line"))
      .write
      .mode("overwrite")
      .text(path)
    // rename the single part file to the reference's fixed name
    val conf = histo.sparkSession.sparkContext.hadoopConfiguration
    val dir = new org.apache.hadoop.fs.Path(path)
    val fs = dir.getFileSystem(conf)
    fs.listStatus(dir)
      .map(_.getPath)
      .filter(p => p.getName.startsWith("part-") && p.getName.endsWith(".txt"))
      .foreach(p => fs.rename(p, new org.apache.hadoop.fs.Path(dir, "histogram.csv")))
  }
}
