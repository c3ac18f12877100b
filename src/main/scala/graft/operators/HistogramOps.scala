package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}

import graft.core.{BinMethod, BinSpec, CodeFold, RouteLog}

/** The histogram operator core, re-expressed as declarative Spark transforms.
  *
  * Every function is a `DataFrame => DataFrame` (or `Column => Column`)
  * building block; Catalyst handles predicate pushdown, column pruning and
  * partial/final aggregation that the reference hand-rolls with
  * `multiprocessing.Pool` + driver-side folds (reference:
  * compute_histogram/main.py:82-149).
  *
  * Scale notes (100 TB): the whole pipeline reduces cardinality *before* any
  * wide operation — each partition counts its values' integer codes in one
  * [[CodeFold]], the kernel the raster reader runs per tile pack, so the
  * only shuffle is [[mergeCodes]]' group-by over ≤ `bins + 1` code rows
  * per partition; aggregation state is bounded by the bin count, never by
  * data size. The driver folds ≤ bins counts, as the reference's driver
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

  /** A1 — global min/max as one distributed agg (partial per partition,
    * final combine — what the reference does manually in
    * compute_histogram/main.py:127-149); (0.0, 0.0) on empty input.
    */
  def minMax(values: DataFrame): (Double, Double) =
    collectMinMax(values.agg(min(col("value")), max(col("value"))))

  /** The `(min, max)` of a one-row aggregate whose min is null when it saw
    * no valid value: (0.0, 0.0) then, as in [[Codes]] — the reference's
    * zero-initialized output (compute_histogram/main.py:131-132).
    */
  def collectMinMax(agg: DataFrame): (Double, Double) = {
    val row = agg.head()
    if (row.isNullAt(0)) (0.0, 0.0) else (row.getDouble(0), row.getDouble(1))
  }

  /** `(min, max)`, widened to take in 0 under `clampToZero` — the
    * reference's zero-initialized accumulators (main.py:131-132).
    */
  def clamped(minMax: (Double, Double), clampToZero: Boolean): (Double, Double) =
    if (clampToZero) (math.min(minMax._1, 0.0), math.max(minMax._2, 0.0)) else minMax

  /** P1/P2 — a value's integer bin code under `spec`'s method and
    * offset, or null where it has none: the Column twin of [[CodeFold]],
    * which the streaming paths bin with.
    *
    * Linear: `trunc(v · 100)` (reference: compute_histogram/main.py:194-195).
    * Log: `trunc(ln(v + offset) · 1000)` (compute_histogram/main.py:196-197);
    * Spark's `log` is `StrictMath.log`, as [[BinSpec.logCode]] is.
    *
    * We quantize in `IntegerType`, not the reference's `int16`, and rely on
    * the explicit `[lo, hi]` range of [[BinSpec.dense]] instead of
    * wraparound (SURVEY §7.4.4). `cast("int")` truncates toward zero like
    * numpy `astype`. A value has no code where Spark's `log` is null
    * (v + offset ≤ 0) or where the unrounded code fails `BinSpec.hasCode`
    * — exactly where `CodeFold` gives none — so the cast never overflows,
    * with or without ANSI mode.
    *
    * `legacyLogOffset100 = true` reproduces the reference bug where
    * quantization hard-codes `+ 100` regardless of the derived offset
    * (compute_histogram/main.py:197 vs :166-172).
    */
  def quantize(
      value: Column,
      spec: BinSpec,
      legacyLogOffset100: Boolean = false): Column = {
    val raw = spec.method match {
      case BinMethod.Linear => value * lit(100)
      case BinMethod.Log    => log(value + lit(if (legacyLogOffset100) 100.0 else spec.offset)) * lit(1000)
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

  /** Bin-code counts of one read of a source, merged and collected: at
    * most one `(code, count)` pair per code seen, and the min and max of
    * its valid values, coded or not — (0.0, 0.0) without one, as in
    * [[minMax]]. `valid` is false when a valid value got no code, except
    * v + 100 ≤ 0 under the legacy log offset, whose log is undefined by
    * that offset's own definition.
    */
  final case class Codes(counts: Array[(Int, Long)], min: Double, max: Double, valid: Boolean)

  /** A histogram folded on the driver: its spec and its dense bin
    * counts, `counts(b)` counting bin `spec.lo + b`.
    */
  final case class Folded(spec: BinSpec, counts: Array[Long]) {
    require(counts.length == spec.bins, s"${counts.length} counts for ${spec.bins} bins")

    /** The `(bin: int, cnt: long)` relation of every bin, in bin order: a
      * local relation, so reading it runs no scan.
      */
    def binCounts(spark: SparkSession): DataFrame = {
      val rows = java.util.Arrays.asList(counts.indices.map(b => Row(spec.lo + b, counts(b))): _*)
      val schema = StructType(Seq(
        StructField("bin", IntegerType, nullable = false),
        StructField("cnt", LongType, nullable = false)))
      spark.createDataFrame(rows, schema)
    }

    /** The `(value: double, cnt: long)` histogram in value order — the
      * reference's `histogram.csv` relation
      * (compute_histogram/main.py:110-124); `value` is [[binEdge]].
      */
    def histogram(spark: SparkSession): DataFrame =
      binCounts(spark).select(binEdge(col("bin"), spec).as("value"), col("cnt"))
  }

  /** The one histogram fold — the reference's worker/driver split
    * (per-worker passes, driver-side `_add_histogram` fold and
    * `np.histogram`, compute_histogram/main.py:93-124, 244-249). Workers
    * count codes; the driver derives the spec from the merged min/max
    * unless `bounds` gives it (after `clampToZero`), drops the codes
    * outside it and densifies ([[BinSpec.dense]]).
    *
    * `codes(offset, spec)` reads the source once, coding with `offset`;
    * `spec` is the spec when already known: the source may drop the codes
    * outside it, and need report no min, max or validity. The first read
    * codes with offset 0 unless `bounds` is given: that is the derived
    * offset whenever the min is > 0, and linear and the legacy `+100` code
    * have no offset to derive. A log spec whose
    * derived offset differs (min ≤ 0, also after `clampToZero`) needs the
    * min before any code: a second read with that offset, logged as the
    * `histogramSecondPass` route. With derived bounds every valid value
    * has a code under the spec's offset (its min and max have one, and
    * codes rise with v); a read that says otherwise throws.
    */
  def fold(
      method: BinMethod,
      bounds: Option[BinSpec],
      clampToZero: Boolean,
      legacyLogOffset100: Boolean)(
      codes: (Double, Option[BinSpec]) => Codes): Folded = {
    val offset = bounds.fold(0.0)(_.offset)
    val first = codes(offset, bounds)
    val spec = bounds.getOrElse {
      val (mn, mx) = clamped((first.min, first.max), clampToZero)
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
    Folded(spec, spec.dense(coded.counts))
  }

  /** A4 — the one merge of a code source's rows ([[CodeFold.Schema]]),
    * the reference's `_add_histogram` (compute_histogram/main.py:244-245):
    * one `groupBy(code)` aggregate of the counts, min, max and
    * `codes_valid`, collected. Associative and commutative — the property
    * that makes the histogram distributable. The stats rows group under the
    * null code; without one (no valid value) the min and max are
    * (0.0, 0.0), as in [[minMax]].
    */
  def mergeCodes(rows: DataFrame): Codes = {
    val merged = rows
      .groupBy(col("code"))
      .agg(sum(col("cnt")), min(col("min_value")), max(col("max_value")), bool_and(col("codes_valid")))
      .collect()
    val (stats, codes) = merged.partition(_.isNullAt(0))
    val counts = codes.map(r => r.getInt(0) -> r.getLong(1))
    stats.headOption match {
      case Some(r) => Codes(counts, r.getDouble(2), r.getDouble(3), r.getBoolean(4))
      case None    => Codes(counts, 0.0, 0.0, valid = true)
    }
  }

  /** The DataFrame code source of [[fold]]: each partition of `values`
    * (F1-normalized) folds its values with one [[CodeFold]], a run of
    * 4,096 at a time, and emits the fold's rows, as a raster
    * `mode=codes` reader does; [[mergeCodes]] merges them. A known `spec`
    * keeps only its codes, so a partition emits at most `bins + 1` code
    * rows.
    */
  def valueCodes(values: DataFrame, method: BinMethod, legacyLogOffset100: Boolean)(
      offset: Double,
      spec: Option[BinSpec]): Codes =
    mergeCodes(
      values.select(col("value")).as(Encoders.scalaDouble).mapPartitions { vs =>
        val acc = new CodeFold(method, offset, legacyLogOffset100, spec)
        val run = new Array[Double](4096)
        var len = 0
        while (vs.hasNext) {
          run(len) = vs.next()
          len += 1
          if (len == run.length) {
            acc.foldRun(run, len)
            len = 0
          }
        }
        acc.foldRun(run, len)
        acc.rows
      }(Encoders.row(CodeFold.Schema)))

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
