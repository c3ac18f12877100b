package perfbench

import java.nio.file.{Files, Path}
import java.util.SplittableRandom
import java.util.concurrent.{Executors, TimeUnit}

/** Synthetic GeoTIFF tile sets for the raster workloads.
  *
  * The mix follows the reference's 248-tile list: 124 uint8 LZW tiles with
  * 512² internal tiling, 62 uint8 Deflate strip tiles and 62 float32
  * Deflate predictor-3 tiles (512² tiling) with 10 % `GDAL_NODATA` pixels.
  * The uint8 tiles go through the JDK's ImageIO TIFF writer, the float32
  * ones through [[Float32Tiff]] (ImageIO cannot write that shape).
  *
  * Pixel values are a pure function of `(seed, tile, x, y)`, so the
  * expected histogram can be recomputed from the generator without
  * decoding a single file. The seed also shuffles the order of the list.
  */
object Tiles {

  sealed abstract class Encoding(val name: String)
  case object LzwU8 extends Encoding("lzw_u8")
  case object DeflateU8 extends Encoding("deflate_u8")
  case object DeflateF32P3 extends Encoding("deflate_f32p3")
  val Encodings: Seq[Encoding] = Seq(LzwU8, DeflateU8, DeflateF32P3)

  /** Per-encoding tile counts of the reference's 248-tile list. */
  val Mix: Seq[(Encoding, Int)] = Seq(LzwU8 -> 124, DeflateU8 -> 62, DeflateF32P3 -> 62)

  val NoData: Float = -9999f

  /** The tile list, and a second list of the [[Sample]] tiles in the same
    * order, for the check of the other scan path.
    */
  final case class TileSet(listFile: Path, uris: IndexedSeq[String], edge: Int, bytes: Long, sampleList: Path) {
    def pixels: Long = uris.size.toLong * edge * edge
  }

  /** Deterministic per-tile pixel source. `value(x, y)` returns the sample
    * as the decoder will see it (float32 widened to double, nodata = NaN).
    */
  final class Pixels(seed: Long, tile: Int, enc: Encoding, edge: Int) {
    private val r = new SplittableRandom(seed * 1000003L + tile)
    private val ax = 1 + r.nextInt(7)
    private val ay = 1 + r.nextInt(7)
    private val phase = r.nextInt(1 << 16)
    private val noiseSeed = r.nextLong()

    /** Cheap stateless noise: a 64-bit mix of the pixel position. */
    @inline private def mix(x: Int, y: Int): Long = {
      var z = noiseSeed + (y.toLong * edge + x) * 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }

    def u8(x: Int, y: Int): Int =
      (((x * ax + y * ay + phase) >> 5) + (mix(x, y) & 7).toInt) & 0xff

    def f32(x: Int, y: Int): Float = {
      val h = mix(x, y)
      if (java.lang.Long.remainderUnsigned(h, 10) == 0) NoData
      else {
        val smooth = ((x * ax * 37 + y * ay * 11 + phase) % 25000) / 100.0
        (smooth + ((h >>> 8) & 127) / 128.0).toFloat
      }
    }

    def value(x: Int, y: Int): Double = enc match {
      case DeflateF32P3 =>
        val v = f32(x, y)
        if (v == NoData) Double.NaN else v.toDouble
      case _ => u8(x, y).toDouble
    }
  }

  /** Encodings of the 248 tiles, before the seed shuffles the list. */
  def layout: IndexedSeq[Encoding] = Mix.flatMap { case (e, n) => Seq.fill(n)(e) }.toIndexedSeq

  /** An eighth of the set with the same mix: the first 16, 8 and 8 tiles
    * of each encoding.
    */
  def sample: Set[Int] = {
    val encs = layout
    Mix.flatMap { case (e, n) => encs.indices.filter(encs(_) == e).take((n + 7) / 8) }.toSet
  }

  /** Write the tile set under `dir` and the tile list beside it. Encoding
    * runs on `threads` workers; the bytes do not depend on scheduling.
    */
  def synthesize(dir: Path, seed: Long, edge: Int, threads: Int): TileSet = {
    Files.createDirectories(dir)
    val encs = layout
    val pool = Executors.newFixedThreadPool(threads)
    val sizes =
      try {
        val futures = encs.indices.map { i =>
          pool.submit(() => {
            val bytes = encode(new Pixels(seed, i, encs(i), edge), encs(i), edge)
            Files.write(dir.resolve(f"tile_$i%03d.tif"), bytes)
            bytes.length.toLong
          })
        }
        futures.map(_.get())
      } finally {
        pool.shutdown()
        pool.awaitTermination(1, TimeUnit.MINUTES)
      }
    val order = new scala.util.Random(seed).shuffle(encs.indices.toVector)
    val uris = order.map(i => dir.resolve(f"tile_$i%03d.tif").toUri.toString)
    def list(name: String, tiles: Seq[Int]): Path = {
      val f = dir.resolve(name)
      Files.write(f, tiles.map(i => dir.resolve(f"tile_$i%03d.tif").toUri.toString)
        .mkString("", "\n", "\n").getBytes("UTF-8"))
    }
    val keep = sample
    TileSet(list("tiles.txt", order), uris, edge, sizes.sum, list("sample.txt", order.filter(keep)))
  }

  def encode(px: Pixels, enc: Encoding, edge: Int): Array[Byte] = enc match {
    case LzwU8        => imageIo(px, edge, "LZW", tiled = true)
    case DeflateU8    => imageIo(px, edge, "ZLib", tiled = false)
    case DeflateF32P3 => Float32Tiff.encode(edge, edge, (x, y) => px.f32(x, y), NoData)
  }

  private def imageIo(px: Pixels, edge: Int, compression: String, tiled: Boolean): Array[Byte] = {
    import javax.imageio.{IIOImage, ImageIO, ImageWriteParam}
    val img = new java.awt.image.BufferedImage(edge, edge, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val row = new Array[Int](edge)
    var y = 0
    while (y < edge) {
      var x = 0
      while (x < edge) { row(x) = px.u8(x, y); x += 1 }
      img.getRaster.setPixels(0, y, edge, 1, row)
      y += 1
    }
    val writer = ImageIO.getImageWritersByFormatName("tiff").next()
    val param = writer.getDefaultWriteParam
    param.setCompressionMode(ImageWriteParam.MODE_EXPLICIT)
    param.setCompressionType(compression)
    if (tiled) {
      param.setTilingMode(ImageWriteParam.MODE_EXPLICIT)
      param.setTiling(512, 512, 0, 0)
    }
    val bos = new java.io.ByteArrayOutputStream()
    val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
    try {
      writer.setOutput(ios)
      writer.write(null, new IIOImage(img, null, null), param)
      ios.flush()
    } finally {
      writer.dispose()
      ios.close()
    }
    bos.toByteArray
  }
}

/** Little-endian classic TIFF writer for one band of float32 samples:
  * 512² tiles, Deflate, floating-point predictor (TIFF Technical Note 3:
  * each row split into byte-significance planes, most significant first,
  * then byte-wise differenced) and a `GDAL_NODATA` tag.
  */
object Float32Tiff {
  val TileEdge = 512

  def encode(w: Int, h: Int, sample: (Int, Int) => Float, nodata: Float): Array[Byte] = {
    val across = (w + TileEdge - 1) / TileEdge
    val down = (h + TileEdge - 1) / TileEdge
    val blocks = for (ty <- 0 until down; tx <- 0 until across) yield deflate(tileBytes(tx, ty, w, h, sample))
    val nodataAscii = (java.lang.Float.toString(nodata).stripSuffix(".0") + "\u0000").getBytes("US-ASCII")

    val out = new java.io.ByteArrayOutputStream()
    def u16(v: Int): Unit = { out.write(v & 0xff); out.write((v >>> 8) & 0xff) }
    def u32(v: Long): Unit = (0 until 4).foreach(i => out.write(((v >>> (8 * i)) & 0xff).toInt))

    val n = blocks.size
    val entries = 13
    val dataStart = 8L
    val blockOffsets = blocks.scanLeft(dataStart)(_ + _.length)
    val ifdAt = blockOffsets.last
    // out-of-line values follow the IFD: the offset and count arrays (only
    // when there is more than one tile), then the nodata string
    val offsetsAt = ifdAt + 2 + entries * 12 + 4
    val countsAt = offsetsAt + 4L * n
    val nodataAt = if (n > 1) countsAt + 4L * n else offsetsAt

    out.write('I'); out.write('I'); u16(42); u32(ifdAt)
    blocks.foreach(b => out.write(b))
    u16(entries)
    def entry(tag: Int, typ: Int, count: Long, value: Long): Unit = {
      u16(tag); u16(typ); u32(count); u32(value)
    }
    entry(256, 4, 1, w) // ImageWidth
    entry(257, 4, 1, h) // ImageLength
    entry(258, 3, 1, 32) // BitsPerSample
    entry(259, 3, 1, 8) // Compression: Deflate
    entry(262, 3, 1, 1) // PhotometricInterpretation: BlackIsZero
    entry(277, 3, 1, 1) // SamplesPerPixel
    entry(317, 3, 1, 3) // Predictor: floating point
    entry(322, 4, 1, TileEdge) // TileWidth
    entry(323, 4, 1, TileEdge) // TileLength
    entry(324, 4, n, if (n == 1) blockOffsets.head else offsetsAt) // TileOffsets
    entry(325, 4, n, if (n == 1) blocks.head.length.toLong else countsAt) // TileByteCounts
    entry(339, 3, 1, 3) // SampleFormat: IEEE float
    entry(42113, 2, nodataAscii.length, nodataAt) // GDAL_NODATA
    u32(0) // no further IFD
    if (n > 1) {
      blockOffsets.init.foreach(u32)
      blocks.foreach(b => u32(b.length.toLong))
    }
    out.write(nodataAscii)
    out.toByteArray
  }

  /** One padded tile, predictor applied, ready for Deflate. */
  private def tileBytes(tx: Int, ty: Int, w: Int, h: Int, sample: (Int, Int) => Float): Array[Byte] = {
    val rowBytes = TileEdge * 4
    val out = new Array[Byte](TileEdge * rowBytes)
    var r = 0
    while (r < TileEdge) {
      val y = ty * TileEdge + r
      val base = r * rowBytes
      var c = 0
      while (c < TileEdge) {
        val x = tx * TileEdge + c
        val bits = java.lang.Float.floatToRawIntBits(if (x < w && y < h) sample(x, y) else 0f)
        // plane k holds byte k of each big-endian sample
        out(base + c) = (bits >>> 24).toByte
        out(base + TileEdge + c) = (bits >>> 16).toByte
        out(base + 2 * TileEdge + c) = (bits >>> 8).toByte
        out(base + 3 * TileEdge + c) = bits.toByte
        c += 1
      }
      var i = base + rowBytes - 1
      while (i > base) { out(i) = (out(i) - out(i - 1)).toByte; i -= 1 }
      r += 1
    }
    out
  }

  private def deflate(b: Array[Byte]): Array[Byte] = {
    val d = new java.util.zip.Deflater()
    try {
      d.setInput(b)
      d.finish()
      val out = new java.io.ByteArrayOutputStream(b.length / 2)
      val buf = new Array[Byte](1 << 16)
      while (!d.finished()) out.write(buf, 0, d.deflate(buf))
      out.toByteArray
    } finally d.end()
  }
}
