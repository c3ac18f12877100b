package graft.functions

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

/** Dense-vector histogram aggregator (SURVEY §7.3/§7.5): each partition
  * folds its codes into one `Array[Long]` of `hi − lo` counts, and
  * partials merge element-wise (the reference's `_add_histogram`,
  * compute_histogram/main.py:244-245, as a Spark `Aggregator`). RankOps
  * bins with it; the histogram queries count codes with
  * `graft.core.CodeFold` and merge them by group-by instead.
  *
  * Trade-off vs group-by: ONE buffer of `bins` longs crosses the exchange
  * per partition (a single-row shuffle), instead of ≤ `bins` key rows per
  * partition — wins when partitions × distinct-codes is large and bins is
  * moderate; loses memory-safety when bins is huge (the group-by spills,
  * the array does not).
  *
  * numpy semantics preserved: codes outside `[lo, hi]` dropped, code == hi
  * merged into the last bin.
  */
class DenseHistogram(lo: Int, hi: Int) extends Aggregator[Int, Array[Long], Array[Long]] {
  require(hi > lo)

  override def zero: Array[Long] = new Array[Long](hi - lo)

  override def reduce(buf: Array[Long], code: Int): Array[Long] = {
    if (code >= lo && code <= hi) {
      val bin = if (code == hi) hi - 1 else code
      buf(bin - lo) += 1
    }
    buf
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < a.length) { a(i) += b(i); i += 1 }
    a
  }

  override def finish(buf: Array[Long]): Array[Long] = buf

  // Catalyst-native array encoder: the buffer crosses the exchange as an
  // UnsafeArrayData of longs, not a serialized blob
  override def bufferEncoder: Encoder[Array[Long]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()

  override def outputEncoder: Encoder[Array[Long]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
}
