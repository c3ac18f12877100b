package graft.sources.raster

import org.apache.hadoop.conf.Configuration

/** Per-tile band-1 sample dispatch for the raster source's readers.
  *
  * Real decode ([[GeoTiff.TiffBlocks]]) for every URI the cluster can
  * actually open through the Hadoop filesystem (file://, hdfs://, bare
  * paths); the deterministic stub stream ONLY for network object-store
  * schemes that are unreachable in this offline environment (the
  * reference's own fixtures are `s3://gfw-data/...` tile lists — their
  * scan planning is exercised for real, their bytes cannot be). The
  * dispatch is by SCHEME, not by open-failure: a local file that fails to
  * parse must fail loudly, never silently fall back to synthetic pixels.
  *
  * For real files the partition's `pixels` option is ignored — the TIFF's
  * own dimensions rule.
  */
object RasterDecode {

  /** Offline-unreachable schemes served by the stub stream. */
  val StubSchemes: Set[String] = Set("s3", "s3a", "s3n", "gs", "http", "https")

  def isStubUri(tileUri: String): Boolean =
    (try Option(new java.net.URI(tileUri).getScheme)
    catch { case _: java.net.URISyntaxException => None })
      .exists(s => StubSchemes.contains(s.toLowerCase))

  /** The tile's band-1 sample runs; the caller closes them, which closes
    * the file. `conf` is the scan's Hadoop configuration.
    */
  def blocks(
      tileUri: String,
      stubPixels: Long,
      overview: Int,
      conf: Configuration): GeoTiff.SampleBlocks =
    if (isStubUri(tileUri)) new StubBlocks(tileUri, stubPixels)
    else {
      val in = new GeoTiff.HadoopSeekable(tileUri, conf)
      try new GeoTiff.TiffBlocks(in, overview)
      catch { case e: Throwable => in.close(); throw e }
    }

  /** Per-pixel cursor over [[blocks]]. `conf` defaults to a plain Hadoop
    * configuration for callers outside a scan.
    */
  def open(
      tileUri: String,
      stubPixels: Long,
      overview: Int = 0,
      conf: Configuration = new Configuration()): GeoTiff.BlockCursor[GeoTiff.SampleBlocks] =
    new GeoTiff.BlockCursor(blocks(tileUri, stubPixels, overview, conf))

  /** [[RasterAggScans.PixelStream]] in runs of up to
    * [[GeoTiff.RunSamples]] doubles.
    */
  private final class StubBlocks(tileUri: String, pixels: Long) extends GeoTiff.SampleBlocks {
    val intRange: Int = 0
    val intMin: Int = 0
    val ints: Array[Int] = null
    val doubles: Array[Double] =
      new Array[Double](math.min(math.max(pixels, 0L), GeoTiff.RunSamples.toLong).toInt)
    private val stream = new RasterAggScans.PixelStream(tileUri, pixels)
    private var n = 0

    def count: Int = n

    def nextBlock(): Boolean = {
      n = 0
      while (n < doubles.length && stream.next()) { doubles(n) = stream.value(); n += 1 }
      n > 0
    }
  }
}
