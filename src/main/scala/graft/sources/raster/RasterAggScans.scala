package graft.sources.raster

import org.apache.hadoop.conf.Configuration
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory}
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

import graft.core.{BinMethod, BinSpec, CodeFold}

/** AGGREGATED scan modes for the raster source — the source-level twin of
  * the reference's worker functions, which never ship raw pixels to the
  * driver either:
  *
  *  - `mode=codes`: the one-scan histogram. Each input partition (a pack
  *    of tiles) emits the rows of one [[graft.core.CodeFold]] over all its
  *    tiles: sparse `(code, cnt)` rows, then one stats row `(min_value,
  *    max_value, n_valid, codes_valid)`. The linear code, the legacy
  *    `+100` log code and the log code of offset 0 do not depend on the
  *    global min/max, so the driver derives the bin spec from the stats
  *    rows and applies it to the merged codes (`HistogramRunner.runPushed`):
  *    every pixel is decoded once, where the reference reads each tile
  *    twice (compute_histogram/main.py:127-149, then :182-201). A code
  *    range pushed into the scan ([[RasterSource.codeRange]]) is the known
  *    spec: the fold keeps only its codes;
  *  - `mode=stats`: one `(tile_uri, min_value, max_value, n_valid)` row
  *    per tile (reference `get_min_max`, main.py:206-219), for
  *    `--minmax_only`.
  *
  * Spark's DSv2 aggregate pushdown (`SupportsPushDownAggregates`) cannot
  * express these (it pushes MIN/MAX/COUNT of plain columns, not a grouped
  * aggregation of a quantize EXPRESSION), so the modes are explicit scan
  * options; `RasterAggSpec` pins bit-equality with the raw-pixel path.
  *
  * Both modes fold with `CodeFold`, the same kernel that counts a
  * DataFrame's codes (`HistogramOps.valueCodes`); the driver merges and
  * folds both sources' rows alike (`HistogramOps.mergeCodes`,
  * `HistogramOps.fold`).
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

  /** Fold one tile's band-1 samples into `acc`: an integer band of ≤ 16
    * bits as its table of counts per value ([[countValues]]), any other
    * band block by block.
    */
  def fold(acc: CodeFold, blocks: GeoTiff.SampleBlocks): Unit =
    if (blocks.integral) acc.foldTable(countValues(blocks), blocks.intMin, blocks.intRange)
    else while (blocks.nextBlock()) acc.foldRun(blocks.doubles, blocks.count)
}

/** A reader that folds its tiles into `acc`, one after the other, on its
  * first `next()`. Each tile is closed as soon as its fold ends, and by
  * `close()` if the fold threw, so a corrupt or truncated tile leaves no
  * file open.
  */
abstract class TileFoldReader(tiles: Seq[String], overview: Int, conf: Configuration, protected val acc: CodeFold)
    extends PartitionReader[InternalRow] {
  private var open: GeoTiff.SampleBlocks = _
  private var folded = false

  protected final def foldOnce(): Unit =
    if (!folded) {
      folded = true
      tiles.foreach { t =>
        open = RasterDecode.blocks(t, overview, conf)
        RasterAggScans.fold(acc, open)
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
    extends TileFoldReader(
      Seq(tileUri), overview, conf, new CodeFold(BinMethod.Linear, 0.0, false, withCodes = false)) {
  private var done = false

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
    spec: Option[BinSpec],
    conf: Broadcast[SerializableConfiguration]) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[RasterInputPartition]
    new RasterCodesPartitionReader(
      p.tiles, required, method, offset, legacyLogOffset100, p.overview, conf.value.value, spec)
  }
}

/** One partition's codes: the rows of its tiles' [[CodeFold]]
  * ([[CodeFold.rows]]), pruned to `required`. A known `spec` keeps only
  * its codes.
  */
final class RasterCodesPartitionReader(
    tiles: Seq[String],
    required: StructType,
    method: BinMethod,
    offset: Double,
    legacyLogOffset100: Boolean,
    overview: Int,
    conf: Configuration,
    spec: Option[BinSpec] = None)
    extends TileFoldReader(tiles, overview, conf, new CodeFold(method, offset, legacyLogOffset100, spec)) {

  private val pick = required.fieldNames.map(CodeFold.Schema.fieldIndex)
  private var rows: Iterator[Row] = _
  private var row: Row = _

  override def next(): Boolean = {
    if (rows == null) {
      foldOnce()
      rows = acc.rows
    }
    val more = rows.hasNext
    if (more) row = rows.next()
    more
  }

  override def get(): InternalRow = new GenericInternalRow(pick.map(row.get))
}
