package graft.sources.raster

import org.apache.hadoop.conf.Configuration
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory}
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

import graft.core.{BinMethod, BinSpec}

/** Per-tile AGGREGATED scan modes for the raster source — the source-level
  * twin of the reference's worker functions, which never ship raw pixels
  * to the driver either:
  *
  *  - `mode=stats`: one `(tile_uri, min_value, max_value, n_valid)` row per
  *    tile (reference `get_min_max`, compute_histogram/main.py:206-219) —
  *    pass 1 reads 1 row per tile instead of `pixels` rows;
  *  - `mode=hist`: sparse `(tile_uri, code, cnt)` rows per tile under the
  *    engine's exact quantize semantics (reference `process_sources`,
  *    compute_histogram/main.py:182-201) — pass 2 ships ≤ `hi−lo` rows per
  *    tile across the scan boundary instead of `pixels`.
  *
  * Spark's DSv2 aggregate pushdown (`SupportsPushDownAggregates`) cannot
  * express these (it pushes MIN/MAX/COUNT of plain columns, not a grouped
  * aggregation of a quantize EXPRESSION), so the modes are explicit scan
  * options — the engine-side plan on top is unchanged
  * (`groupBy(code).sum(cnt)` merge + densify), and
  * `RasterAggSpec` pins bit-equality with the raw-pixel path.
  *
  * The quantize arithmetic REPLICATES `HistogramOps.quantize` +
  * `binCounts` exactly: `(v·100).toInt` / `(ln(v+off)·1000).toInt`
  * (truncation toward zero = non-ANSI cast), codes outside `[lo, hi]`
  * dropped, code `hi` merged into the closed last bin `hi−1`.
  *
  * Both readers fold the tile's decoded runs ([[GeoTiff.SampleBlocks]])
  * in tight loops, the bin method chosen once per tile. An integer band
  * of ≤ 16 bits is first counted into a value table (256 or 65,536
  * counters), which is then folded through the same arithmetic once per
  * distinct value: those bands do no per-pixel floating-point work.
  */
object RasterAggScans {

  /** The shared STUB pixel stream (splitmix64 seeded by the URI, every
    * 97th pixel NaN) — since round 8 used only for offline-unreachable
    * network schemes; openable URIs real-decode via [[GeoTiff]] (see
    * [[RasterDecode]]).
    */
  final class PixelStream(tileUri: String, val pixels: Long) {
    private var state: Long = {
      var h = 1125899906842597L
      tileUri.foreach(c => h = 31 * h + c)
      h
    }
    private var i: Long = -1
    def next(): Boolean = { i += 1; i < pixels }
    def value(): Double = {
      state += 0x9e3779b97f4a7c15L
      var z = state
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z = z ^ (z >>> 31)
      if (i % 97 == 96) Double.NaN
      else (z >>> 11).toDouble / (1L << 53).toDouble * 1000.0
    }
  }

  /** Count an integer band's samples: entry `v − intMin` holds the count
    * of sample `v`; the last entry counts nodata.
    */
  def countValues(blocks: GeoTiff.SampleBlocks): Array[Long] = {
    val table = new Array[Long](blocks.intRange + 1)
    val base = blocks.intMin
    while (blocks.nextBlock()) {
      val a = blocks.ints
      val n = blocks.count
      var k = 0
      while (k < n) { table(a(k) - base) += 1; k += 1 }
    }
    table
  }
}

/** A reader that folds one tile on its first `next()`. The tile is closed
  * as soon as the fold ends, and by `close()` if the fold threw, so a
  * corrupt or truncated tile leaves no file open.
  */
abstract class TileFoldReader(tileUri: String, pixels: Long, overview: Int, conf: Configuration)
    extends PartitionReader[InternalRow] {
  private var open: GeoTiff.SampleBlocks = _
  private var folded = false

  protected def fold(blocks: GeoTiff.SampleBlocks): Unit

  protected final def foldOnce(): Unit =
    if (!folded) {
      folded = true
      open = RasterDecode.blocks(tileUri, pixels, overview, conf)
      fold(open)
      close()
    }

  override def close(): Unit =
    if (open != null) {
      val b = open
      open = null
      b.close()
    }
}

final class RasterStatsReaderFactory(
    required: StructType,
    conf: Broadcast[SerializableConfiguration]) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[RasterInputPartition]
    new RasterStatsPartitionReader(p.tileUri, p.pixels, required, p.overview, conf.value.value)
  }
}

/** One (tile_uri, min_value, max_value, n_valid) row per tile. Tiles with
  * zero valid pixels emit NO row — min/max of an empty tile is undefined,
  * matching the reference's `None`-and-filter (main.py:139-140, 211-219)
  * and Spark's null-skipping agg semantics downstream.
  */
final class RasterStatsPartitionReader(
    tileUri: String,
    pixels: Long,
    required: StructType,
    overview: Int,
    conf: Configuration)
    extends TileFoldReader(tileUri, pixels, overview, conf) {
  private var done = false
  private var mn = Double.PositiveInfinity
  private var mx = Double.NegativeInfinity
  private var n = 0L

  protected def fold(blocks: GeoTiff.SampleBlocks): Unit =
    if (blocks.integral) {
      val table = RasterAggScans.countValues(blocks)
      var i = 0
      while (i < blocks.intRange) {
        if (table(i) > 0) {
          val v = (i + blocks.intMin).toDouble
          if (n == 0) mn = v
          mx = v
          n += table(i)
        }
        i += 1
      }
    } else {
      var lo = mn
      var hi = mx
      var valid = 0L
      while (blocks.nextBlock()) {
        val d = blocks.doubles
        val len = blocks.count
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
      }
      mn = lo
      mx = hi
      n = valid
    }

  override def next(): Boolean = {
    if (done) return false
    foldOnce()
    done = true
    n > 0
  }

  override def get(): InternalRow = {
    val row = new GenericInternalRow(required.length)
    var j = 0
    while (j < required.length) {
      row.update(
        j,
        required.fields(j).name match {
          case "tile_uri"  => UTF8String.fromString(tileUri)
          case "min_value" => mn
          case "max_value" => mx
          case "n_valid"   => n
        })
      j += 1
    }
    row
  }
}

final class RasterHistReaderFactory(
    required: StructType,
    spec: BinSpec,
    legacyLogOffset100: Boolean,
    conf: Broadcast[SerializableConfiguration]) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[RasterInputPartition]
    new RasterHistPartitionReader(
      p.tileUri, p.pixels, required, spec, legacyLogOffset100, p.overview, conf.value.value)
  }
}

/** Sparse per-tile histogram rows (tile_uri, code, cnt), non-zero bins
  * only. State is one `hi−lo` long array per tile — the reference's
  * per-worker `np.histogram` buffer.
  */
final class RasterHistPartitionReader(
    tileUri: String,
    pixels: Long,
    required: StructType,
    spec: BinSpec,
    legacyLogOffset100: Boolean,
    overview: Int,
    conf: Configuration) extends TileFoldReader(tileUri, pixels, overview, conf) {

  private val uriUtf8 = UTF8String.fromString(tileUri)
  private val counts = new Array[Long](math.max(spec.bins, 0))
  private var bin = -1
  // an empty spec takes no code: lo > hi
  private val lo = if (spec.bins > 0) spec.lo else 1
  private val hi = if (spec.bins > 0) spec.hi else 0

  private val logOffset = if (legacyLogOffset100) 100.0 else spec.offset

  // exact twin of HistogramOps.quantize: truncation-toward-zero cast
  @inline private def linearCode(v: Double): Int = (v * 100).toInt
  @inline private def logCode(v: Double): Int = (math.log(v + logOffset) * 1000).toInt

  // F3 range semantics + numpy closed last bin (code hi → bin hi−1)
  @inline private def add(counts: Array[Long], c: Int, cnt: Long): Unit =
    if (c >= lo && c <= hi) counts((if (c == hi) hi - 1 else c) - lo) += cnt

  protected def fold(blocks: GeoTiff.SampleBlocks): Unit = {
    val counts = this.counts
    if (blocks.integral) {
      val table = RasterAggScans.countValues(blocks)
      val linear = spec.method == BinMethod.Linear
      var i = 0
      while (i < blocks.intRange) {
        if (table(i) > 0) {
          val v = (i + blocks.intMin).toDouble
          add(counts, if (linear) linearCode(v) else logCode(v), table(i))
        }
        i += 1
      }
    } else
      spec.method match {
        case BinMethod.Linear =>
          while (blocks.nextBlock()) {
            val d = blocks.doubles
            val len = blocks.count
            var k = 0
            while (k < len) {
              val v = d(k)
              if (!java.lang.Double.isNaN(v)) add(counts, linearCode(v), 1)
              k += 1
            }
          }
        case BinMethod.Log =>
          while (blocks.nextBlock()) {
            val d = blocks.doubles
            val len = blocks.count
            var k = 0
            while (k < len) {
              val v = d(k)
              if (!java.lang.Double.isNaN(v)) add(counts, logCode(v), 1)
              k += 1
            }
          }
      }
  }

  override def next(): Boolean = {
    foldOnce()
    bin += 1
    while (bin < counts.length && counts(bin) == 0) bin += 1
    bin < counts.length
  }

  override def get(): InternalRow = {
    val row = new GenericInternalRow(required.length)
    var j = 0
    while (j < required.length) {
      row.update(
        j,
        required.fields(j).name match {
          case "tile_uri" => uriUtf8
          case "code"     => spec.lo + bin
          case "cnt"      => counts(bin)
        })
      j += 1
    }
    row
  }
}
