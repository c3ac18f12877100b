package graft.sources.raster

import org.apache.hadoop.conf.Configuration
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory}
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SerializableConfiguration

import graft.core.{BinMethod, BinSpec, CodeFold}

/** The AGGREGATED raster scan, `mode=codes` — the source-level twin of
  * the reference's worker functions, which never ship raw pixels to the
  * driver either. Each input partition (a pack of tiles) emits the rows of
  * one [[graft.core.CodeFold]] over all its tiles: sparse `(code, cnt)`
  * rows, then one stats row `(min_value, max_value, n_valid,
  * codes_valid)`. The linear code, the legacy `+100` log code and the log
  * code of offset 0 do not depend on the global min/max, so the driver
  * derives the bin spec from the stats rows and applies it to the merged
  * codes (`HistogramRunner.runPushed`): every pixel is decoded once, where
  * the reference reads each tile twice (compute_histogram/main.py:127-149,
  * then :182-201). A code range pushed into the scan
  * ([[RasterSource.codeRange]]) is the known spec: the fold keeps only its
  * codes. A pushed `code IS NULL` reads the stats rows alone, one per
  * pack, and the fold counts no codes: that is `--minmax_only`'s min/max
  * pass (reference `get_min_max`, main.py:206-219).
  *
  * Spark's DSv2 aggregate pushdown (`SupportsPushDownAggregates`) cannot
  * express this (it pushes MIN/MAX/COUNT of plain columns, not a grouped
  * aggregation of a quantize EXPRESSION), so it is an explicit scan mode;
  * `RasterAggSpec` pins bit-equality with the raw-pixel path.
  *
  * `CodeFold` is the same kernel that counts a DataFrame's codes
  * (`HistogramOps.valueCodes`); the driver merges and folds both sources'
  * rows alike (`HistogramOps.mergeCodes`, `HistogramOps.fold`).
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

final class RasterCodesReaderFactory(
    required: StructType,
    method: BinMethod,
    offset: Double,
    legacyLogOffset100: Boolean,
    spec: Option[BinSpec],
    withCodes: Boolean,
    conf: Broadcast[SerializableConfiguration]) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[RasterInputPartition]
    new RasterCodesPartitionReader(
      p.tiles, required, method, offset, legacyLogOffset100, p.overview, conf.value.value, spec, withCodes)
  }
}

/** One partition's codes: the rows of its tiles' [[CodeFold]]
  * ([[CodeFold.rows]]), pruned to `required`. A known `spec` keeps only
  * its codes; without `withCodes` the fold counts none, and the stats row
  * is the only row (there is none without a valid value). The tiles are folded one after the other on the first
  * `next()`. Each tile is closed as soon as its fold ends, and by
  * `close()` if the fold threw, so a corrupt or truncated tile leaves no
  * file open.
  */
final class RasterCodesPartitionReader(
    tiles: Seq[String],
    required: StructType,
    method: BinMethod,
    offset: Double,
    legacyLogOffset100: Boolean,
    overview: Int,
    conf: Configuration,
    spec: Option[BinSpec] = None,
    withCodes: Boolean = true)
    extends PartitionReader[InternalRow] {

  private val acc = new CodeFold(method, offset, legacyLogOffset100, spec, withCodes)
  private val pick = required.fieldNames.map(CodeFold.Schema.fieldIndex)
  private var open: GeoTiff.SampleBlocks = _
  private var rows: Iterator[Row] = _
  private var row: Row = _

  override def next(): Boolean = {
    if (rows == null) {
      tiles.foreach { t =>
        open = RasterDecode.blocks(t, overview, conf)
        RasterAggScans.fold(acc, open)
        close()
      }
      rows = acc.rows
    }
    val more = rows.hasNext
    if (more) row = rows.next()
    more
  }

  override def get(): InternalRow = new GenericInternalRow(pick.map(row.get))

  override def close(): Unit =
    if (open != null) {
      val b = open
      open = null
      b.close()
    }
}
