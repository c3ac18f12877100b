package graft.core

/** Histogram binning method.
  *
  * Mirrors the reference's `-m/--method` CLI option (reference:
  * compute_histogram/main.py:19-21): `linear` quantizes values to 2-decimal
  * fixed point (×100), `log` quantizes to `ln(v + offset) × 1000`
  * (reference: compute_histogram/main.py:161-172, README.md:7-16).
  */
sealed abstract class BinMethod(val name: String)
object BinMethod {
  case object Linear extends BinMethod("linear")
  case object Log extends BinMethod("log")

  def parse(s: String): BinMethod = s match {
    case "linear" => Linear
    case "log"    => Log
    case other    => throw new IllegalArgumentException(s"Unknown method $other")
  }
}

/** Binning specification threaded through the histogram pipeline.
  *
  * `[lo, hi)` are integer bin-code endpoints; there are `bins = hi - lo`
  * width-1 integer bins. Bin `b` covers codes `[b, b+1)` except the last bin
  * `[hi-1, hi]`, which also absorbs code `hi` (numpy `np.histogram` closed
  * last bin; reference: compute_histogram/main.py:248-249). Codes outside
  * `[lo, hi]` are dropped.
  *
  * Reference: the `(histo_range, bins, offset)` triple of
  * compute_histogram/main.py:42-44, derived in `get_range`
  * (compute_histogram/main.py:152-179).
  */
final case class BinSpec(lo: Int, hi: Int, offset: Double, method: BinMethod) {
  require(hi >= lo, s"invalid bin range [$lo, $hi)")
  def bins: Int = hi - lo

  /** The 0-based bin that `code` counts in, or −1 for a code the range
    * drops: codes outside `[lo, hi]` drop, code `hi` joins the last bin.
    */
  def binIndex(code: Int): Int =
    if (code < lo || code > hi || bins == 0) -1
    else if (code == hi) bins - 1
    else code - lo

  /** The dense bin counts of sparse `(code, count)` pairs: `dense(b)`
    * counts bin `lo + b`, codes outside `[lo, hi]` drop and code `hi`
    * joins the closed last bin — `np.histogram(w, bins, range=(lo, hi))`
    * over counted codes, the reference's driver-side fold
    * (compute_histogram/main.py:244-249).
    */
  def dense(codeCounts: IterableOnce[(Int, Long)]): Array[Long] = {
    val counts = new Array[Long](bins)
    codeCounts.iterator.foreach { case (c, n) =>
      val b = binIndex(c)
      if (b >= 0) counts(b) += n
    }
    counts
  }
}

object BinSpec {

  /** Derive a BinSpec from global min/max — the reference's `get_range`
    * (compute_histogram/main.py:152-179).
    *
    * Linear: `[trunc(min·100) − 10, trunc(max·100) + 10)`, offset 0
    * (compute_histogram/main.py:161-165). `.toInt` truncates toward zero,
    * matching Python `int()`.
    *
    * Log: `offset = |min| + 1` if `min ≤ 0` else 0, then
    * `[trunc(ln(min+offset)·1000), trunc(ln(max+offset)·1000))`
    * (compute_histogram/main.py:166-172). Note: no padding, so the max
    * value's code equals `hi` and lands in the closed last bin.
    *
    * NOTE (reference bug, SURVEY §7.4.1): the reference *quantizes* with a
    * hard-coded `+ 100` offset (compute_histogram/main.py:197) while the
    * range/edges use the computed `offset`. We implement the consistent
    * semantics — the computed `offset` is used everywhere. Pass
    * `legacyLogOffset100 = true` to [[graft.operators.HistogramOps.quantize]]
    * for bug-compatible behavior.
    *
    * A non-finite min/max, one whose padded bin code does not fit an
    * `Int` (linear: |v| above ~2.1·10⁷), or a range of more bins than an
    * `Int` counts (linear: max − min above ~2.1·10⁷) throws
    * `IllegalArgumentException` naming the values and the method — the
    * reference fails here too (Python `int(inf)` raises).
    */
  def derive(minValue: Double, maxValue: Double, method: BinMethod): BinSpec = {
    val (lo, hi, offset) = method match {
      case BinMethod.Linear =>
        (code("min", minValue, minValue * 100, method) - 10,
          code("max", maxValue, maxValue * 100, method) + 10,
          0.0)
      case BinMethod.Log =>
        val offset = if (minValue <= 0) math.abs(minValue) + 1 else 0.0
        (code("min", minValue, logCode(minValue, offset), method),
          code("max", maxValue, logCode(maxValue, offset), method),
          offset)
    }
    if (hi.toLong - lo > Int.MaxValue)
      throw new IllegalArgumentException(
        s"cannot derive ${method.name} bins: min value $minValue and max value $maxValue " +
          s"span ${hi.toLong - lo} bins, more than an Int counts")
    BinSpec(lo, hi, offset, method)
  }

  /** The unrounded log bin code `ln(v + offset) · 1000` (NaN or −∞ where
    * v + offset ≤ 0) by `StrictMath.log`, which Spark's `log` evaluates:
    * [[derive]], [[CodeFold]] and `HistogramOps.quantize` then agree on
    * every code. `Math.log` may differ by an ulp across a code boundary.
    */
  def logCode(v: Double, offset: Double): Double = StrictMath.log(v + offset) * 1000

  /** True when the unrounded bin code `c` is finite and leaves room for
    * the linear ±10 padding in an `Int` — the codes [[derive]] accepts.
    */
  def hasCode(c: Double): Boolean = c.isFinite && math.abs(c) + 10 <= Int.MaxValue

  /** `c.toInt` (truncating, like Python `int()`) when `v` is finite and
    * [[hasCode]]`(c)`. */
  private def code(which: String, v: Double, c: Double, method: BinMethod): Int = {
    if (!v.isFinite || !hasCode(c))
      throw new IllegalArgumentException(
        s"cannot derive ${method.name} bins: $which value $v has no Int bin code")
    c.toInt
  }
}
