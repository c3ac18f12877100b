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

/** AGGREGATED scan modes for the raster source — the source-level twin of
  * the reference's worker functions, which never ship raw pixels to the
  * driver either:
  *
  *  - `mode=codes`: the one-scan histogram. Each input partition (a pack
  *    of tiles) emits sparse, unbounded `(code, cnt)` rows over all its
  *    tiles, then one stats row `(min_value, max_value, n_valid,
  *    codes_valid)`. The linear code, the legacy `+100` log code and the
  *    log code of offset 0 do not depend on the global min/max, so the
  *    driver derives the bin spec from the stats rows and applies it to
  *    the merged codes (`HistogramRunner.runPushed`): every pixel is
  *    decoded once, where the reference reads each tile twice
  *    (compute_histogram/main.py:127-149, then :182-201);
  *  - `mode=stats`: one `(tile_uri, min_value, max_value, n_valid)` row
  *    per tile (reference `get_min_max`, main.py:206-219), for
  *    `--minmax_only`.
  *
  * Spark's DSv2 aggregate pushdown (`SupportsPushDownAggregates`) cannot
  * express these (it pushes MIN/MAX/COUNT of plain columns, not a grouped
  * aggregation of a quantize EXPRESSION), so the modes are explicit scan
  * options; `RasterAggSpec` pins bit-equality with the raw-pixel path.
  *
  * Both modes are [[CodeFold]]: the quantize arithmetic REPLICATES
  * `HistogramOps.code` exactly — `(v·100).toInt` / `(ln(v+off)·1000).toInt`
  * (truncation toward zero) and no code where Spark's `log` is null or
  * `BinSpec.hasCode` fails; the driver then folds the codes as it folds a
  * DataFrame's (`HistogramOps.fold`): it drops the codes outside
  * `[lo, hi]` and merges code `hi` into the closed last bin `hi−1`
  * (`BinSpec.dense`).
  */
object RasterAggScans {

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

  /** The one fold of band-1 samples behind every aggregating mode: the
    * min, max and count of the valid samples of every tile folded into
    * it, and, `withCodes`, a count per bin code in one dense array that
    * grows to span exactly the codes seen.
    *
    * A sample's code is `trunc(v·100)` (linear) or `trunc(ln(v + off)·
    * 1000)` (log; `off` is 100 under `legacyLogOffset100`, else `offset`).
    * A sample has no code where Spark's `log` is null (v + off ≤ 0) or
    * where the code fails `BinSpec.hasCode`; it is left out of the counts,
    * as `HistogramOps.code` is null there, and clears
    * [[codesValid]] — except v + 100 ≤ 0 under the legacy offset, whose
    * log is undefined by that offset's own definition.
    *
    * A run of doubles is folded twice while it is in cache: a stats loop,
    * then a count loop. Codes rise with v, so when the run's smallest and
    * largest samples have codes, every sample between has one inside
    * theirs, and the count loop needs no per-sample check. An integer band
    * of ≤ 16 bits is first counted into a value table and folded once per
    * distinct value: no per-pixel floating-point work.
    */
  final class CodeFold(
      method: BinMethod,
      offset: Double,
      legacyLogOffset100: Boolean,
      withCodes: Boolean) {
    private val log = method == BinMethod.Log
    private val off = if (legacyLogOffset100) 100.0 else offset

    var min: Double = Double.PositiveInfinity
    var max: Double = Double.NegativeInfinity
    var n: Long = 0L
    var codesValid: Boolean = true

    /** `codeCounts(i)` counts code `codeBase + i`. */
    var codeBase: Int = 0
    var codeCounts: Array[Long] = new Array[Long](0)

    // the unrounded code; NaN or −∞ where the log is undefined
    @inline private def rawCode(v: Double): Double =
      if (log) math.log(v + off) * 1000 else v * 100

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

    /** Fold one tile's samples in. */
    def fold(blocks: GeoTiff.SampleBlocks): Unit =
      if (blocks.integral) foldTable(countValues(blocks), blocks.intMin, blocks.intRange)
      else while (blocks.nextBlock()) foldRun(blocks.doubles, blocks.count)

    private def foldTable(table: Array[Long], intMin: Int, range: Int): Unit = {
      var lo = Int.MaxValue
      var hi = Int.MinValue
      var i = 0
      while (i < range) {
        val cnt = table(i)
        if (cnt > 0) {
          val v = (i + intMin).toDouble
          if (v < min) min = v
          if (v > max) max = v
          n += cnt
          if (withCodes) {
            val c = rawCode(v)
            if (BinSpec.hasCode(c)) {
              if (c.toInt < lo) lo = c.toInt
              if (c.toInt > hi) hi = c.toInt
            } else noCode(v)
          }
        }
        i += 1
      }
      if (lo <= hi) {
        span(lo, hi)
        val counts = codeCounts
        i = 0
        while (i < range) {
          if (table(i) > 0) {
            val c = rawCode((i + intMin).toDouble)
            if (BinSpec.hasCode(c)) counts(c.toInt - codeBase) += table(i)
          }
          i += 1
        }
      }
    }

    private def foldRun(d: Array[Double], len: Int): Unit = {
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
          if (BinSpec.hasCode(cLo) && BinSpec.hasCode(cHi)) {
            span(cLo.toInt, cHi.toInt)
            countRun(d, len)
          } else countRunChecked(d, len)
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
          if (!java.lang.Double.isNaN(v)) counts((math.log(v + off) * 1000).toInt - base) += 1
          k += 1
        }
      } else
        while (k < len) {
          val v = d(k)
          if (!java.lang.Double.isNaN(v)) counts((v * 100).toInt - base) += 1
          k += 1
        }
    }

    // a run with samples that have no code: each sample is checked
    private def countRunChecked(d: Array[Double], len: Int): Unit = {
      var lo = Int.MaxValue
      var hi = Int.MinValue
      var k = 0
      while (k < len) {
        val v = d(k)
        if (!java.lang.Double.isNaN(v)) {
          val c = rawCode(v)
          if (BinSpec.hasCode(c)) {
            if (c.toInt < lo) lo = c.toInt
            if (c.toInt > hi) hi = c.toInt
          } else noCode(v)
        }
        k += 1
      }
      if (lo <= hi) {
        span(lo, hi)
        val counts = codeCounts
        k = 0
        while (k < len) {
          val v = d(k)
          if (!java.lang.Double.isNaN(v)) {
            val c = rawCode(v)
            if (BinSpec.hasCode(c)) counts(c.toInt - codeBase) += 1
          }
          k += 1
        }
      }
    }
  }
}

/** A reader that folds its tiles, one after the other, on its first
  * `next()`. Each tile is closed as soon as its fold ends, and by
  * `close()` if the fold threw, so a corrupt or truncated tile leaves no
  * file open.
  */
abstract class TileFoldReader(tiles: Seq[String], overview: Int, conf: Configuration)
    extends PartitionReader[InternalRow] {
  private var open: GeoTiff.SampleBlocks = _
  private var folded = false

  protected def fold(blocks: GeoTiff.SampleBlocks): Unit

  protected final def foldOnce(): Unit =
    if (!folded) {
      folded = true
      tiles.foreach { t =>
        open = RasterDecode.blocks(t, overview, conf)
        fold(open)
        close()
      }
    }

  override def close(): Unit =
    if (open != null) {
      val b = open
      open = null
      b.close()
    }
}

/** The rows of one reader per tile of a packed partition, tile after
  * tile; each reader is closed before the next one opens.
  */
final class TileChainReader(tiles: Seq[String], reader: String => PartitionReader[InternalRow])
    extends PartitionReader[InternalRow] {
  private val rest = tiles.iterator
  private var cur: PartitionReader[InternalRow] = _

  override def next(): Boolean = {
    while (cur == null || !cur.next()) {
      close()
      if (!rest.hasNext) return false
      cur = reader(rest.next())
    }
    true
  }

  override def get(): InternalRow = cur.get()

  override def close(): Unit =
    if (cur != null) {
      val r = cur
      cur = null
      r.close()
    }
}

final class RasterStatsReaderFactory(
    required: StructType,
    conf: Broadcast[SerializableConfiguration]) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[RasterInputPartition]
    new TileChainReader(
      p.tiles,
      new RasterStatsPartitionReader(_, required, p.overview, conf.value.value))
  }
}

/** One (tile_uri, min_value, max_value, n_valid) row per tile. Tiles with
  * zero valid pixels emit NO row — min/max of an empty tile is undefined,
  * matching the reference's `None`-and-filter (main.py:139-140, 211-219)
  * and Spark's null-skipping agg semantics downstream.
  */
final class RasterStatsPartitionReader(
    tileUri: String,
    required: StructType,
    overview: Int,
    conf: Configuration)
    extends TileFoldReader(Seq(tileUri), overview, conf) {
  private var done = false
  private val acc = new RasterAggScans.CodeFold(BinMethod.Linear, 0.0, false, withCodes = false)

  protected def fold(blocks: GeoTiff.SampleBlocks): Unit = acc.fold(blocks)

  override def next(): Boolean = {
    if (done) return false
    foldOnce()
    done = true
    acc.n > 0
  }

  override def get(): InternalRow = {
    val row = new GenericInternalRow(required.length)
    var j = 0
    while (j < required.length) {
      row.update(
        j,
        required.fields(j).name match {
          case "tile_uri"  => UTF8String.fromString(tileUri)
          case "min_value" => acc.min
          case "max_value" => acc.max
          case "n_valid"   => acc.n
        })
      j += 1
    }
    row
  }
}

final class RasterCodesReaderFactory(
    required: StructType,
    method: BinMethod,
    offset: Double,
    legacyLogOffset100: Boolean,
    conf: Broadcast[SerializableConfiguration]) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[RasterInputPartition]
    new RasterCodesPartitionReader(
      p.tiles, required, method, offset, legacyLogOffset100, p.overview, conf.value.value)
  }
}

/** One partition's codes: a `(code, cnt)` row per non-zero code, in code
  * order, then — when a tile had a valid pixel — one stats row
  * `(min_value, max_value, n_valid, codes_valid)`. The other columns of a
  * row are null.
  */
final class RasterCodesPartitionReader(
    tiles: Seq[String],
    required: StructType,
    method: BinMethod,
    offset: Double,
    legacyLogOffset100: Boolean,
    overview: Int,
    conf: Configuration) extends TileFoldReader(tiles, overview, conf) {

  private val acc = new RasterAggScans.CodeFold(method, offset, legacyLogOffset100, withCodes = true)
  private var i = -1

  protected def fold(blocks: GeoTiff.SampleBlocks): Unit = acc.fold(blocks)

  override def next(): Boolean = {
    foldOnce()
    val counts = acc.codeCounts
    i += 1
    while (i < counts.length && counts(i) == 0) i += 1
    i < counts.length || (i == counts.length && acc.n > 0)
  }

  override def get(): InternalRow = {
    val codeRow = i < acc.codeCounts.length
    val row = new GenericInternalRow(required.length)
    var j = 0
    while (j < required.length) {
      required.fields(j).name match {
        case "code" if codeRow         => row.update(j, acc.codeBase + i)
        case "cnt" if codeRow          => row.update(j, acc.codeCounts(i))
        case "min_value" if !codeRow   => row.update(j, acc.min)
        case "max_value" if !codeRow   => row.update(j, acc.max)
        case "n_valid" if !codeRow     => row.update(j, acc.n)
        case "codes_valid" if !codeRow => row.update(j, acc.codesValid)
        case _                         => row.setNullAt(j)
      }
      j += 1
    }
    row
  }
}
