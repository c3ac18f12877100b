package graft.core

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.{BooleanType, DoubleType, IntegerType, LongType, StructField, StructType}

/** The one fold that counts histogram bin codes, for every batch source —
  * the reference's per-worker pass (compute_histogram/main.py:82-124): the
  * raster readers fold their tiles with it, and `HistogramOps.valueCodes`
  * each partition of DataFrame values. It keeps the min, max and count of
  * the valid (non-NaN) values and, `withCodes`, a count per bin code in
  * one dense array that grows to span exactly the codes seen.
  *
  * A value's code is `trunc(v·100)` (linear) or `trunc(`[[BinSpec.logCode]]`)`
  * (log; the offset is 100 under `legacyLogOffset100`, else `offset`). A
  * value has no code where the log is undefined (v + off ≤ 0) or where the
  * code fails [[BinSpec.hasCode]], exactly where `HistogramOps.quantize`
  * is null; it is left out of the counts and clears [[codesValid]] —
  * except v + 100 ≤ 0 under the legacy offset, whose log is undefined by
  * that offset's own definition. With a known `spec`, the codes outside
  * `[spec.lo, spec.hi]` drop too and never widen the array, so it holds at
  * most `spec.bins + 1` counts.
  *
  * A run of doubles is folded twice while it is in cache: a stats loop,
  * then a count loop. Codes rise with v, so when the run's smallest and
  * largest values have codes the spec keeps, every value between has one,
  * and the count loop needs no per-value check. A table of counts per
  * integer value ([[foldTable]]) is folded once per distinct value.
  */
final class CodeFold(
    method: BinMethod,
    offset: Double,
    legacyLogOffset100: Boolean,
    spec: Option[BinSpec] = None,
    withCodes: Boolean = true) {
  private val log = method == BinMethod.Log
  private val off = if (legacyLogOffset100) 100.0 else offset
  // the codes a count is kept for
  private val keepLo = spec.fold(Int.MinValue)(_.lo)
  private val keepHi = spec.fold(Int.MaxValue)(_.hi)

  var min: Double = Double.PositiveInfinity
  var max: Double = Double.NegativeInfinity
  var n: Long = 0L
  var codesValid: Boolean = true

  /** `codeCounts(i)` counts code `codeBase + i`. */
  var codeBase: Int = 0
  var codeCounts: Array[Long] = new Array[Long](0)

  // the unrounded code; NaN or −∞ where the log is undefined
  @inline private def rawCode(v: Double): Double =
    if (log) BinSpec.logCode(v, off) else v * 100

  @inline private def kept(c: Double): Boolean = c.toInt >= keepLo && c.toInt <= keepHi

  private def noCode(v: Double): Unit =
    if (!(log && legacyLogOffset100 && v + off <= 0)) codesValid = false

  /** Widen `codeCounts` to span codes `lo..hi` as well. */
  private def span(lo: Int, hi: Int): Unit =
    if (codeCounts.length == 0) {
      codeBase = lo
      codeCounts = new Array[Long](arrayLength(lo, hi))
    } else {
      val top = codeBase + codeCounts.length - 1
      if (lo < codeBase || hi > top) {
        val from = math.min(lo, codeBase)
        val grown = new Array[Long](arrayLength(from, math.max(hi, top)))
        System.arraycopy(codeCounts, 0, grown, codeBase - from, codeCounts.length)
        codeBase = from
        codeCounts = grown
      }
    }

  private def arrayLength(lo: Int, hi: Int): Int = {
    val len = hi.toLong - lo + 1
    if (len > Int.MaxValue - 8)
      throw new IllegalArgumentException(s"bin codes $lo..$hi span more than one array holds")
    len.toInt
  }

  /** Fold a table of counts per integer value in: `table(i)` counts value
    * `intMin + i`, for `i < range`.
    */
  def foldTable(table: Array[Long], intMin: Int, range: Int): Unit = {
    var i = 0
    while (i < range) {
      if (table(i) > 0) {
        val v = (i + intMin).toDouble
        if (v < min) min = v
        if (v > max) max = v
        n += table(i)
      }
      i += 1
    }
    if (withCodes) countChecked(range, i => if (table(i) > 0) (i + intMin).toDouble else Double.NaN, table(_))
  }

  /** Fold the first `len` values of `d` in; NaN is nodata. */
  def foldRun(d: Array[Double], len: Int): Unit = {
    var lo = Double.PositiveInfinity
    var hi = Double.NegativeInfinity
    var valid = 0L
    var k = 0
    while (k < len) {
      val v = d(k)
      if (!java.lang.Double.isNaN(v)) {
        if (v < lo) lo = v
        if (v > hi) hi = v
        valid += 1
      }
      k += 1
    }
    if (valid > 0) {
      if (lo < min) min = lo
      if (hi > max) max = hi
      n += valid
      if (withCodes) {
        val cLo = rawCode(lo)
        val cHi = rawCode(hi)
        if (BinSpec.hasCode(cLo) && BinSpec.hasCode(cHi) && kept(cLo) && kept(cHi)) {
          span(cLo.toInt, cHi.toInt)
          countRun(d, len)
        } else countChecked(len, d(_), _ => 1L)
      }
    }
  }

  private def countRun(d: Array[Double], len: Int): Unit = {
    val counts = codeCounts
    val base = codeBase
    var k = 0
    if (log) {
      val off = this.off
      while (k < len) {
        val v = d(k)
        if (!java.lang.Double.isNaN(v)) counts(BinSpec.logCode(v, off).toInt - base) += 1
        k += 1
      }
    } else
      while (k < len) {
        val v = d(k)
        if (!java.lang.Double.isNaN(v)) counts((v * 100).toInt - base) += 1
        k += 1
      }
  }

  // values whose codes are checked one by one: `value(i)` (NaN: none) of
  // weight `weight(i)`, for i < len
  private def countChecked(len: Int, value: Int => Double, weight: Int => Long): Unit = {
    var lo = Int.MaxValue
    var hi = Int.MinValue
    var i = 0
    while (i < len) {
      val v = value(i)
      if (!java.lang.Double.isNaN(v)) {
        val c = rawCode(v)
        if (!BinSpec.hasCode(c)) noCode(v)
        else if (kept(c)) {
          lo = math.min(lo, c.toInt)
          hi = math.max(hi, c.toInt)
        }
      }
      i += 1
    }
    if (lo <= hi) {
      span(lo, hi)
      i = 0
      while (i < len) {
        val v = value(i)
        if (!java.lang.Double.isNaN(v)) {
          val c = rawCode(v)
          if (BinSpec.hasCode(c) && kept(c)) codeCounts(c.toInt - codeBase) += weight(i)
        }
        i += 1
      }
    }
  }

  /** The fold as rows of [[CodeFold.Schema]]: a `(code, cnt)` row per
    * non-zero code, in code order, then — when a valid value was folded —
    * one stats row `(min_value, max_value, n_valid, codes_valid)`. The
    * other columns of a row are null.
    */
  def rows: Iterator[Row] = {
    val codes = codeCounts.indices.iterator.collect {
      case i if codeCounts(i) > 0 => Row(codeBase + i, codeCounts(i), null, null, null, null)
    }
    codes ++ (if (n > 0) Iterator.single(Row(null, null, min, max, n, codesValid)) else Iterator.empty)
  }
}

object CodeFold {

  /** The rows of a code source: a fold's sparse `(code, cnt)` rows, then
    * its one stats row; each row leaves the other kind's columns null.
    */
  val Schema: StructType = StructType(
    Seq(StructField("code", IntegerType),
      StructField("cnt", LongType),
      StructField("min_value", DoubleType),
      StructField("max_value", DoubleType),
      StructField("n_valid", LongType),
      StructField("codes_valid", BooleanType)))
}
