package graft.sources.raster

import org.apache.hadoop.conf.Configuration

/** Per-tile band-1 samples for the raster source's readers: every tile
  * URI opens through the Hadoop filesystem ([[GeoTiff.HadoopSeekable]])
  * and decodes with [[GeoTiff.TiffBlocks]]. A scheme with no Hadoop
  * `FileSystem` (`s3://` with no connector on the classpath, say) fails
  * at open with Hadoop's own error; a file that fails to parse fails
  * loudly.
  */
object RasterDecode {

  /** The tile's band-1 sample runs; the caller closes them, which closes
    * the file. `conf` is the scan's Hadoop configuration.
    */
  def blocks(tileUri: String, overview: Int, conf: Configuration): GeoTiff.SampleBlocks = {
    val in = new GeoTiff.HadoopSeekable(tileUri, conf)
    try new GeoTiff.TiffBlocks(in, overview)
    catch { case e: Throwable => in.close(); throw e }
  }

  /** Per-pixel cursor over [[blocks]]. */
  def open(tileUri: String, overview: Int, conf: Configuration): GeoTiff.BlockCursor[GeoTiff.SampleBlocks] =
    new GeoTiff.BlockCursor(blocks(tileUri, overview, conf))
}
