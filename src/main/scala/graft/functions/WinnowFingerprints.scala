package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Native winnowing kernel (Schleimer et al. 2003, the MOSS scheme —
  * reference semantics: `/root/reference/compute_histogram` has no text ops;
  * this is north-star surface, SURVEY §7.6): the ENTIRE fingerprint pass —
  * base-257 k-gram rolling hash + sliding-window minima + first-occurrence
  * dedup — as one O(len) loop per document.
  *
  * Why an expression and not HOFs: Catalyst higher-order functions evaluate
  * interpreted, and a lambda referencing a nested expression re-evaluates it
  * per element, so the HOF formulation needs a persist barrier between the
  * hash stage and the minima stage to stay off the O(len²·k) cliff
  * (PERF.md "HOF inlining trap"). Even barriered, the interpreted hash fill
  * costs ~10 s/sf0.1 (PERF.md "Round 4 (final): analytics additions") and
  * is re-paid whenever the transient cache is released. This kernel runs
  * the same arithmetic in one compiled loop — no barrier, no cache, no
  * second stage.
  *
  * Exact-int64 portability (same contract as the HOF twin
  * [[graft.operators.TextOps.winnowFingerprints]] and the DuckDB oracle):
  * hash(i) = Σ_j cp(text[i+j]) · 257^(k−1−j) over Unicode CODE POINTS
  * (Spark `ascii`/`substr` and DuckDB `ascii`/`substr` both operate on code
  * points), rolled as h·257 − cp_out·257^k + cp_in, every intermediate
  * exact in int64 for k ≤ 7. Window minima use a monotonic deque (amortized
  * O(1) per position); dedup preserves first occurrence to mirror
  * `array_distinct`.
  *
  * Null/short semantics match the staged form: null text → null; shorter
  * than k+w−1 code points → empty array.
  */
object Winnow {

  /** JVM kernel shared by interpreted eval and generated code (the codegen
    * body is one static call — the loop itself is already compiled JVM).
    */
  def fingerprints(text: UTF8String, k: Int, w: Int): ArrayData = {
    val s = text.toString
    val nChars = s.codePointCount(0, s.length)
    if (nChars < k + w - 1) return new GenericArrayData(Array.emptyLongArray)

    // code points, one pass (surrogate-aware)
    val cp = new Array[Int](nChars)
    var ci = 0
    var si = 0
    while (si < s.length) {
      val c = s.codePointAt(si)
      cp(ci) = c
      ci += 1
      si += Character.charCount(c)
    }

    val nHash = nChars - k + 1
    var pow = 1L // 257^(k-1) after the loop below
    var h = 0L
    var j = 0
    while (j < k) { // initial k-gram + top power
      h = h * 257L + cp(j)
      if (j < k - 1) pow *= 257L
      j += 1
    }

    // sliding-window minima over every w consecutive hashes via a monotonic
    // deque of positions (values non-decreasing from head to tail)
    val hashes = new Array[Long](nHash)
    hashes(0) = h
    var i = 1
    while (i < nHash) {
      h = (h - cp(i - 1) * pow) * 257L + cp(i + k - 1)
      hashes(i) = h
      i += 1
    }

    val deque = new Array[Int](nHash)
    var head = 0
    var tail = 0 // exclusive
    val out = new Array[Long](nHash - w + 1)
    var nOut = 0
    val seen = new java.util.HashSet[java.lang.Long]()
    i = 0
    while (i < nHash) {
      while (tail > head && hashes(deque(tail - 1)) >= hashes(i)) tail -= 1
      deque(tail) = i
      tail += 1
      if (deque(head) <= i - w) head += 1
      if (i >= w - 1) {
        val m = hashes(deque(head))
        if (seen.add(m)) {
          out(nOut) = m
          nOut += 1
        }
      }
      i += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(out, nOut))
  }
}

/** `winnow_fp(text)` → `array<bigint>` of distinct window-minima
  * fingerprints. Production path for `doc_winnow` / winnow-keyed dedup;
  * spec-pinned equal to the HOF formulation (`TextSpec`).
  */
case class WinnowFingerprintsExpr(child: Expression, k: Int = 5, w: Int = 4)
    extends UnaryExpression {

  require(k >= 2 && k <= 7, "base-257 polynomial must stay inside exact int64")
  require(w >= 1, "window must be at least one k-gram wide")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "graft_winnow_fp"

  override def nullSafeEval(input: Any): Any =
    Winnow.fingerprints(input.asInstanceOf[UTF8String], k, w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(
      ctx,
      ev,
      c => s"${ev.value} = graft.functions.Winnow.fingerprints($c, $k, $w);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
