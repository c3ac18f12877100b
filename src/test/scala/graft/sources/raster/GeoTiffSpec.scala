package graft.sources.raster

import java.io.ByteArrayOutputStream
import java.nio.{ByteBuffer, ByteOrder}

import javax.imageio.{ImageIO, ImageWriteParam}
import javax.imageio.stream.MemoryCacheImageOutputStream

/** The GeoTIFF decoder against two independent encoders:
  *
  *  1. the JDK's ImageIO TIFF writer (the former JAI plugin — a
  *     production implementation shipped with Java 9+) for LZW / ZLib /
  *     PackBits, stripped and tiled, 8/16-bit and multi-sample chunky —
  *     in particular this pins the TIFF LZW "early change" code-width
  *     convention against a real-world encoder;
  *  2. a test-side byte-level TIFF builder (written straight from the
  *     TIFF 6.0 / BigTIFF specs) for the shapes ImageIO cannot write:
  *     float32/float64, int/uint 32-bit, horizontal and floating-point
  *     predictors, big-endian files, BigTIFF, GDAL_NODATA.
  *
  * Plus a hand-derived 9-bit LZW stream (worked symbol by symbol from the
  * spec's algorithm) so the base LZW layer is anchored to something other
  * than any encoder implementation.
  */
class GeoTiffSpec extends graft.SparkSpec {
  import GeoTiffSpec.buildTiff

  // ---- helpers -------------------------------------------------------

  /** Decode every band-1 pixel via the production cursor. */
  private def decode(bytes: Array[Byte]): Vector[Double] = {
    val cur = new GeoTiff.PixelCursor(new GeoTiff.ByteArraySeekable(bytes))
    val out = Vector.newBuilder[Double]
    while (cur.next()) out += cur.value()
    out.result()
  }

  /** Expected emission order for a tiled layout: tile-major, edge tiles
    * clipped — mirrors the cursor's block-major contract.
    */
  private def tileOrder(pix: Array[Double], w: Int, h: Int, tw: Int, th: Int): Vector[Double] = {
    val out = Vector.newBuilder[Double]
    for {
      ty <- 0 until (h + th - 1) / th
      tx <- 0 until (w + tw - 1) / tw
      y <- ty * th until math.min((ty + 1) * th, h)
      x <- tx * tw until math.min((tx + 1) * tw, w)
    } out += pix(y * w + x)
    out.result()
  }

  /** ImageIO-written TIFF bytes for a gray or RGB image. */
  private def imageIoTiff(
      pix: Array[Int],
      w: Int,
      h: Int,
      imageType: Int,
      compression: Option[String],
      tiling: Option[(Int, Int)] = None): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h, imageType)
    imageType match {
      case java.awt.image.BufferedImage.TYPE_INT_RGB =>
        img.setRGB(0, 0, w, h, pix, 0, w)
      case _ =>
        img.getRaster.setPixels(0, 0, w, h, pix)
    }
    val writer = ImageIO.getImageWritersByFormatName("tiff").next()
    val param = writer.getDefaultWriteParam
    compression.foreach { c =>
      param.setCompressionMode(ImageWriteParam.MODE_EXPLICIT)
      param.setCompressionType(c)
    }
    tiling.foreach { case (tw, th) =>
      param.setTilingMode(ImageWriteParam.MODE_EXPLICIT)
      param.setTiling(tw, th, 0, 0)
    }
    val bos = new ByteArrayOutputStream()
    val ios = new MemoryCacheImageOutputStream(bos)
    writer.setOutput(ios)
    writer.write(null, new javax.imageio.IIOImage(img, null, null), param)
    ios.flush()
    writer.dispose()
    bos.toByteArray
  }

  private def rnd(seed: Long, n: Int, lo: Int, hi: Int): Array[Int] = {
    val r = new scala.util.Random(seed)
    Array.fill(n)(lo + r.nextInt(hi - lo))
  }

  // ---- ImageIO cross-validation (LZW width convention, real encoder) --

  test("uint8 LZW stripped (ImageIO golden): random 200x150 crosses 9->12 bit codes") {
    val pix = rnd(1, 200 * 150, 0, 256)
    val got = decode(imageIoTiff(pix, 200, 150,
      java.awt.image.BufferedImage.TYPE_BYTE_GRAY, Some("LZW")))
    assert(got == pix.map(_.toDouble).toVector)
  }

  test("uint8 LZW tiled 64x64 over 150x100 (ImageIO golden): padding clipped") {
    val pix = rnd(2, 150 * 100, 0, 256)
    val got = decode(imageIoTiff(pix, 150, 100,
      java.awt.image.BufferedImage.TYPE_BYTE_GRAY, Some("LZW"), Some((64, 64))))
    assert(got == tileOrder(pix.map(_.toDouble), 150, 100, 64, 64))
  }

  test("uint8 ZLib / PackBits / uncompressed (ImageIO golden)") {
    val pix = rnd(3, 90 * 61, 0, 256)
    for (c <- Seq(Some("ZLib"), Some("PackBits"), None)) {
      val got = decode(imageIoTiff(pix, 90, 61,
        java.awt.image.BufferedImage.TYPE_BYTE_GRAY, c))
      assert(got == pix.map(_.toDouble).toVector, s"compression $c")
    }
  }

  test("uint16 LZW (ImageIO golden)") {
    val pix = rnd(4, 80 * 50, 0, 65536)
    val got = decode(imageIoTiff(pix, 80, 50,
      java.awt.image.BufferedImage.TYPE_USHORT_GRAY, Some("LZW")))
    assert(got == pix.map(_.toDouble).toVector)
  }

  test("RGB chunky LZW (ImageIO golden): band 1 = sample 0 = red") {
    val w = 40; val h = 30
    val rgb = rnd(5, w * h, 0, 0x1000000)
    val got = decode(imageIoTiff(rgb, w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB, Some("LZW")))
    assert(got == rgb.map(p => ((p >> 16) & 0xff).toDouble).toVector)
  }

  // ---- hand-derived LZW anchor ---------------------------------------

  test("LZW hand-worked 9-bit stream: Clear,7,258,8,8,7,EOI -> 7 7 7 8 8 7") {
    // codes (9 bits each, MSB first): 256 7 258 8 8 7 257
    val bits = Seq(256, 7, 258, 8, 8, 7, 257)
      .flatMap(c => (8 to 0 by -1).map(i => (c >> i) & 1))
    val packed = bits.padTo((bits.size + 7) / 8 * 8, 0)
      .grouped(8).map(g => g.foldLeft(0)((a, b) => (a << 1) | b).toByte).toArray
    assert(GeoTiff.lzwDecode(packed, 6).toSeq == Seq[Byte](7, 7, 7, 8, 8, 7))
  }

  // ---- builder-based shapes ImageIO cannot write ----------------------

  private val floatPix: Array[Double] = {
    val r = new scala.util.Random(6)
    Array.fill(50 * 40)(if (r.nextInt(10) == 0) -9999.0 else r.nextInt(100000) / 100.0)
  }

  test("float32 LE tiled deflate predictor-3 with GDAL_NODATA -> NaN") {
    val bytes = buildTiff(floatPix, 50, 40, 32, 3, comp = 8, predictor = 3,
      tile = Some((16, 16)), nodata = Some("-9999"))
    val expected = tileOrder(
      floatPix.map(v => if (v == -9999.0) Double.NaN else v.toFloat.toDouble),
      50, 40, 16, 16)
    val got = decode(bytes)
    assert(got.length == expected.length)
    got.zip(expected).zipWithIndex.foreach { case ((g, e), i) =>
      assert(g == e || (g.isNaN && e.isNaN), s"pixel $i: $g != $e")
    }
  }

  test("int16 BIG-endian stripped deflate predictor-2, rowsPerStrip 7") {
    val r = new scala.util.Random(7)
    val pix = Array.fill(33 * 29)((r.nextInt(65536) - 32768).toDouble)
    val got = decode(buildTiff(pix, 33, 29, 16, 2, le = false, comp = 8,
      predictor = 2, rowsPerStrip = 7))
    assert(got == pix.toVector)
  }

  test("BigTIFF float64 LE stripped uncompressed") {
    val r = new scala.util.Random(8)
    val pix = Array.fill(21 * 17)(r.nextDouble() * 1e6 - 5e5)
    val got = decode(buildTiff(pix, 21, 17, 64, 3, big = true))
    assert(got == pix.toVector)
  }

  test("uint32 LE uncompressed and int32 BE deflate predictor-2") {
    val r = new scala.util.Random(9)
    val u = Array.fill(19 * 13)((r.nextLong() & 0xffffffffL).toDouble)
    assert(decode(buildTiff(u, 19, 13, 32, 1)) == u.toVector)
    val s = Array.fill(19 * 13)(r.nextInt().toDouble)
    assert(decode(buildTiff(s, 19, 13, 32, 2, le = false, comp = 8, predictor = 2)) == s.toVector)
  }

  test("uint8 predictor-2 deflate and float32 nodata=nan string") {
    val r = new scala.util.Random(10)
    val pix = Array.fill(25 * 10)(r.nextInt(256).toDouble)
    assert(decode(buildTiff(pix, 25, 10, 8, 1, comp = 8, predictor = 2)) == pix.toVector)
    val f = Array(1.5, Double.NaN, 3.0, Double.NaN)
    val got = decode(buildTiff(f, 2, 2, 32, 3, nodata = Some("nan")))
    assert(got(0) == 1.5 && got(1).isNaN && got(2) == 3.0 && got(3).isNaN)
  }

  test("planar (PlanarConfiguration=2) float32: band 1 = plane 0 only") {
    val r = new scala.util.Random(12)
    val pix = Array.fill(30 * 22)(r.nextInt(50000) / 100.0)
    // lanes 1,2 are v+1000/v+2000 — reading them would be detectable
    val got = decode(buildTiff(pix, 30, 22, 32, 3, comp = 8, rowsPerStrip = 5,
      spp = 3, planar = 2, laneGen = (v, l) => v + l * 1000.0))
    assert(got == pix.map(_.toFloat.toDouble).toVector)
  }

  test("planar tiled with edge padding: plane-0 block grid leads the offsets") {
    val r = new scala.util.Random(13)
    val pix = Array.fill(20 * 14)(r.nextInt(256).toDouble)
    val got = decode(buildTiff(pix, 20, 14, 8, 1, tile = Some((8, 8)),
      spp = 2, planar = 2))
    assert(got == tileOrder(pix, 20, 14, 8, 8))
  }

  test("chunky spp=3 int16 predictor-2: lane-strided differencing, sample 0 extracted") {
    val r = new scala.util.Random(14)
    val pix = Array.fill(26 * 11)((r.nextInt(65536) - 32768).toDouble)
    val got = decode(buildTiff(pix, 26, 11, 16, 2, comp = 8, predictor = 2,
      spp = 3, laneGen = (v, l) => ((v.toLong + l * 7) % 32768).toDouble))
    assert(got == pix.toVector)
  }

  test("uint64 samples above 2^63 convert unsigned to double") {
    val big = math.pow(2, 63) // exactly representable; wraps to Long.MinValue
    val pix = Array(0.0, 1.0, big, big + 2048.0)
    val got = decode(buildTiff(pix, 2, 2, 64, 1))
    assert(got == Vector(0.0, 1.0, big, big + 2048.0))
  }

  test("property: decode inverts the builder across the configuration matrix") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val cfgGen = for {
      w <- Gen.chooseNum(1, 40)
      h <- Gen.chooseNum(1, 30)
      le <- Gen.oneOf(true, false)
      big <- Gen.oneOf(true, false)
      comp <- Gen.oneOf(1, 8)
      bits <- Gen.oneOf(8, 16, 32)
      fmt <- Gen.oneOf(1, 2)
      pred <- Gen.oneOf(1, 2)
      layout <- Gen.oneOf(0, 1, 2) // one strip | short strips | tiles
      spp <- Gen.oneOf(1, 3)
      planar <- if (spp == 1) Gen.const(1) else Gen.oneOf(1, 2)
    } yield (w, h, le, big, comp, bits, fmt, pred, layout, spp, planar)
    val prop = Prop.forAll(cfgGen, Gen.long) {
      case ((w, h, le, big, comp, bits, fmt, pred, layout, spp, planar), seed) =>
        val r = new scala.util.Random(seed)
        val lim = if (fmt == 1) (1L << math.min(bits, 48)) else (1L << (bits - 1))
        val pix = Array.fill(w * h)(
          (if (fmt == 1) math.abs(r.nextLong() % lim)
           else r.nextLong() % lim).toDouble)
        val tile = if (layout == 2) Some((8, 8)) else None
        val rps = if (layout == 1) math.max(1, h / 3) else 0
        val got = decode(buildTiff(pix, w, h, bits, fmt, le = le, big = big,
          comp = comp, predictor = pred, rowsPerStrip = rps, tile = tile,
          spp = spp, planar = planar,
          laneGen = (v, l) => (v.toLong ^ (l * 12345L)).toDouble % lim))
        val expected = tile match {
          case Some((tw, th)) => tileOrder(pix, w, h, tw, th)
          case None           => pix.toVector
        }
        got == expected
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(60), prop)
    assert(res.passed, res.status.toString)
  }

  test("malformed inputs fail loudly, never fall back") {
    assertThrows[IllegalArgumentException](decode("not a tiff at all".getBytes))
    // JPEG-in-TIFF (compression 7) is out of scope and must be refused
    val jpegish = buildTiff(Array(1.0, 2.0), 2, 1, 8, 1)
    // patch Compression tag value: find tag 259 in the IFD — rebuild with
    // an unsupported code instead of patching bytes
    val bad = jpegish.clone()
    // locate 259 entry: IFD starts at offset read from header
    val ifd = ByteBuffer.wrap(bad).order(ByteOrder.LITTLE_ENDIAN).getInt(4)
    val n = ByteBuffer.wrap(bad).order(ByteOrder.LITTLE_ENDIAN).getShort(ifd) & 0xffff
    var patched = false
    for (i <- 0 until n) {
      val off = ifd + 2 + i * 12
      if ((ByteBuffer.wrap(bad).order(ByteOrder.LITTLE_ENDIAN).getShort(off) & 0xffff) == 259) {
        ByteBuffer.wrap(bad).order(ByteOrder.LITTLE_ENDIAN).putShort(off + 8, 7) // JPEG
        patched = true
      }
    }
    assert(patched)
    assertThrows[IllegalArgumentException](decode(bad))
  }

  // ---- end-to-end through the DataSource V2 scan ----------------------

  test("DSv2 values and codes modes real-decode a file:// GeoTIFF") {
    val pix = rnd(11, 60 * 44, 0, 256)
    val tif = java.io.File.createTempFile("graft-geotiff", ".tif")
    tif.deleteOnExit()
    java.nio.file.Files.write(tif.toPath, imageIoTiff(pix, 60, 44,
      java.awt.image.BufferedImage.TYPE_BYTE_GRAY, Some("LZW")))
    val uri = "file://" + tif.getAbsolutePath

    val values = spark.read.format("graft.sources.raster.RasterSource")
      .option("tiles", uri).load()
    import org.apache.spark.sql.functions._
    val got = values.select(col("value")).collect().map(_.getDouble(0)).toVector
    assert(got == pix.map(_.toDouble).toVector)

    // the stats-only read: `code IS NULL` pushed into the codes scan
    val stats = spark.read.format("graft.sources.raster.RasterSource")
      .option("tiles", uri).option("mode", "codes").load().filter(col("code").isNull).collect()
    assert(stats.length == 1)
    assert(stats(0).getAs[Double]("min_value") == pix.min.toDouble)
    assert(stats(0).getAs[Double]("max_value") == pix.max.toDouble)
    assert(stats(0).getAs[Long]("n_valid") == pix.length.toLong)

    val (codeRows, statsRows) = spark.read.format("graft.sources.raster.RasterSource")
      .option("tiles", uri).option("mode", "codes").load().collect()
      .partition(r => !r.isNullAt(r.fieldIndex("code")))
    val hist = codeRows.map(r => r.getAs[Int]("code") -> r.getAs[Long]("cnt")).toMap
    val expectedHist = pix.map(v => (v.toDouble * 100).toInt)
      .groupBy(identity).map { case (c, vs) => c -> vs.length.toLong }
    assert(hist == expectedHist)
    assert(codeRows.length == expectedHist.size)
    assert(statsRows.map(r => (r.getAs[Double]("min_value"), r.getAs[Double]("max_value"),
      r.getAs[Long]("n_valid"), r.getAs[Boolean]("codes_valid"))).toSeq ==
      Seq((pix.min.toDouble, pix.max.toDouble, pix.length.toLong, true)))
  }

  test("full reference pipeline over a REAL tile list: 2-pass pushed == raw == in-memory") {
    // three real GeoTIFFs of different shapes: two uint8 LZW from ImageIO,
    // one float32 deflate predictor-3 with nodata from the builder
    val dir = java.nio.file.Files.createTempDirectory("graft-tiles")
    dir.toFile.deleteOnExit()
    val p1 = rnd(21, 40 * 30, 1, 250).map(_.toDouble)
    val p2 = rnd(22, 64 * 20, 1, 250).map(_.toDouble)
    val r3 = new scala.util.Random(23)
    val p3 = Array.fill(35 * 18)(if (r3.nextInt(7) == 0) -1.0 else r3.nextInt(24000) / 100.0)
    val uris = Seq(
      ("a.tif", imageIoTiff(p1.map(_.toInt), 40, 30,
        java.awt.image.BufferedImage.TYPE_BYTE_GRAY, Some("LZW"))),
      ("b.tif", imageIoTiff(p2.map(_.toInt), 64, 20,
        java.awt.image.BufferedImage.TYPE_BYTE_GRAY, Some("LZW"))),
      ("c.tif", buildTiff(p3, 35, 18, 32, 3, comp = 8, predictor = 3,
        tile = Some((16, 16)), nodata = Some("-1")))).map { case (name, bytes) =>
      val f = dir.resolve(name)
      java.nio.file.Files.write(f, bytes)
      "file://" + f.toAbsolutePath
    }
    val listFile = dir.resolve("tiles.txt")
    java.nio.file.Files.write(
      listFile, uris.mkString("\n").getBytes("UTF-8"))

    import graft.{HistogramConfig, HistogramRunner}
    val cfg = HistogramConfig(valueCol = "value")
    // binned inside the scan (mode=codes decodes for real)
    val pushed = HistogramRunner
      .runPushed(spark, listFile.toString, cfg)
      .collect().map(r => r.getDouble(0) -> r.getLong(1)).toMap
    // raw values scan through the engine-side two-pass pipeline
    val rawScan = spark.read.format("graft.sources.raster.RasterSource")
      .option("tileListPath", listFile.toString).load()
    val raw = HistogramRunner.run(rawScan, cfg)
      .collect().map(r => r.getDouble(0) -> r.getLong(1)).toMap
    // in-memory DataFrame of the known pixel values (nodata -1 -> NaN)
    import spark.implicits._
    val mem = (p1 ++ p2 ++ p3.map(v =>
      if (v == -1.0) Double.NaN else v.toFloat.toDouble)).toSeq.toDF("value")
    val expected = HistogramRunner.run(mem, cfg)
      .collect().map(r => r.getDouble(0) -> r.getLong(1)).toMap
    assert(pushed == expected)
    assert(raw == expected)
    assert(expected.values.sum == (p1.length + p2.length + p3.count(_ != -1.0)).toLong)
  }

  test("overview IFDs: multi-page TIFF reads the n-th directory (COG pyramid path)") {
    val full = rnd(31, 64 * 64, 0, 256)
    val half = rnd(32, 32 * 32, 0, 256)
    def gray(pix: Array[Int], w: Int, h: Int) = {
      val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
      img.getRaster.setPixels(0, 0, w, h, pix)
      img
    }
    val writer = ImageIO.getImageWritersByFormatName("tiff").next()
    val bos = new ByteArrayOutputStream()
    val ios = new MemoryCacheImageOutputStream(bos)
    writer.setOutput(ios)
    writer.prepareWriteSequence(null)
    writer.writeToSequence(new javax.imageio.IIOImage(gray(full, 64, 64), null, null), null)
    writer.writeToSequence(new javax.imageio.IIOImage(gray(half, 32, 32), null, null), null)
    writer.endWriteSequence()
    ios.flush(); writer.dispose()
    val bytes = bos.toByteArray

    // direct cursor per IFD
    def all(idx: Int) = {
      val cur = new GeoTiff.PixelCursor(new GeoTiff.ByteArraySeekable(bytes), idx)
      val b = Vector.newBuilder[Double]
      while (cur.next()) b += cur.value()
      b.result()
    }
    assert(all(0) == full.map(_.toDouble).toVector)
    assert(all(1) == half.map(_.toDouble).toVector)
    assertThrows[IllegalArgumentException](all(2))

    // through the DSv2 option
    val tif = java.io.File.createTempFile("graft-cog", ".tif")
    tif.deleteOnExit()
    java.nio.file.Files.write(tif.toPath, bytes)
    val ov = spark.read.format("graft.sources.raster.RasterSource")
      .option("tiles", "file://" + tif.getAbsolutePath)
      .option("overview", "1").load()
      .select(org.apache.spark.sql.functions.col("value"))
      .collect().map(_.getDouble(0)).toVector
    assert(ov == half.map(_.toDouble).toVector)
  }

  test("an s3:// tile with no FileSystem for s3 fails at read, never streams made-up pixels") {
    val scan = spark.read.format("graft.sources.raster.RasterSource")
      .option("tiles", "s3://gfw-data/bio/10N_010E.tif").load()
    val e = intercept[Exception](scan.collect())
    assert(GeoTiffSpec.noFileSystemFor("s3", e), GeoTiffSpec.causes(e).mkString("\n"))
  }

  test("s3:// tile via a registered FileSystem decodes exact samples") {
    val pix = Array.tabulate(30 * 20)(i => if (i % 7 == 3) -9999.0 else i * 1.25 - 40)
    val root = LocalS3FileSystem.write(Seq("bucket/dir/a.tif" ->
      buildTiff(pix, 30, 20, 32, 3, comp = 8, predictor = 3, nodata = Some("-9999"))))
    val got = LocalS3FileSystem.withS3(spark, root) {
      spark.read.format("graft.sources.raster.RasterSource")
        .option("tiles", "s3://bucket/dir/a.tif").load()
        .select("value").collect().map(_.getDouble(0)).toVector
    }
    LocalS3FileSystem.delete(root)
    assert(nanEq(got, pix.map(v => if (v == -9999.0) Double.NaN else v.toFloat.toDouble).toVector))
    assert(got.count(_.isNaN) == pix.count(_ == -9999.0))
  }

  // ---- adversarial ScalaCheck properties (round 9) --------------------

  import org.scalacheck.{Gen, Prop, Test => SCTest}

  private def check(p: Prop, n: Int): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(n), p)
    assert(res.passed, res.status.toString)
  }

  /** A random spec-valid TIFF with its expected decode: random geometry
    * (incl. 1×1, single-row strips, edge-padding tiles), sample type,
    * endianness, classic/BigTIFF, deflate/none, predictor, and — for
    * floats — a GDAL_NODATA value that may cover EVERY pixel.
    */
  private val tiffGen: Gen[(Array[Byte], Vector[Double])] = for {
    w <- Gen.chooseNum(1, 40)
    h <- Gen.chooseNum(1, 40)
    tf <- Gen.oneOf((1, 8), (1, 16), (1, 32), (2, 8), (2, 16), (2, 32), (3, 32), (3, 64))
    (fmt, bits) = tf
    le <- Gen.oneOf(true, false)
    big <- Gen.oneOf(true, false)
    comp <- Gen.oneOf(1, 8)
    pred <- if (comp != 8) Gen.const(1)
            else if (fmt == 3) Gen.oneOf(1, 3)
            else Gen.oneOf(1, 2)
    layout <- Gen.oneOf(
      Gen.chooseNum(0, h + 2).map(Left(_)), // strips (0 → one strip; 1 → single-row)
      Gen.oneOf(16, 32).flatMap(tw => Gen.oneOf(16, 32).map(th => Right((tw, th)))))
    allNodata <- Gen.oneOf(Seq.fill(9)(false) :+ true)
    seed <- Gen.chooseNum(0L, Long.MaxValue)
  } yield {
    val r = new scala.util.Random(seed)
    val nodata = if (fmt == 3) Some("-9999") else None
    def sample(): Double = (fmt, bits) match {
      case _ if allNodata && fmt == 3 => -9999.0
      case (3, _) => if (r.nextInt(8) == 0) -9999.0 else r.nextInt(100000) / 100.0
      case (1, b) => (r.nextLong() & ((1L << b) - 1)).toDouble
      case (2, 8) => (r.nextInt(256) - 128).toDouble
      case (2, 16) => (r.nextInt(65536) - 32768).toDouble
      case (2, 32) => r.nextInt().toDouble
      case x => fail(s"unreachable $x")
    }
    val pix = Array.fill(w * h)(sample())
    val bytes = layout match {
      case Left(rps) =>
        buildTiff(pix, w, h, bits, fmt, le = le, big = big, comp = comp,
          predictor = pred, rowsPerStrip = rps, nodata = nodata)
      case Right((tw, th)) =>
        buildTiff(pix, w, h, bits, fmt, le = le, big = big, comp = comp,
          predictor = pred, tile = Some((tw, th)), nodata = nodata)
    }
    val mapped = pix.map { v =>
      val vv = if (fmt == 3 && v == -9999.0) Double.NaN else v
      if (fmt == 3 && bits == 32 && !vv.isNaN) vv.toFloat.toDouble else vv
    }
    val expected = layout match {
      case Left(_) => mapped.toVector
      case Right((tw, th)) => tileOrder(mapped, w, h, tw, th)
    }
    (bytes, expected)
  }

  private def nanEq(a: Vector[Double], b: Vector[Double]): Boolean =
    a.length == b.length && a.zip(b).forall { case (x, y) =>
      x == y || (x.isNaN && y.isNaN)
    }

  // forAllNoShrink throughout: default shrinkers would mutate the
  // (bytes, expected) pair's components independently, producing
  // nonsense "counterexamples" and minutes of shrink-time decode churn
  test("property: random geometry/layout/type TIFFs round-trip bit-exactly") {
    check(Prop.forAllNoShrink(tiffGen) { case (bytes, expected) =>
      nanEq(decode(bytes), expected)
    }, n = 60)
  }

  test("property: truncated TIFFs fail loudly — never a silent short or wrong read") {
    // the RasterDecode contract: a local file that fails to parse must
    // fail loudly. Cutting the file at ANY point may only (a) throw, or
    // (b) — when the cut removes only slack — still decode to exactly the
    // full pixel stream. A shorter or different stream is the one
    // forbidden outcome.
    check(Prop.forAllNoShrink(tiffGen, Gen.chooseNum(1, 10000)) { case ((bytes, expected), cutSeed) =>
      val cut = 1 + cutSeed % (bytes.length - 1)
      val truncated = bytes.take(cut)
      val got = try Some(decode(truncated))
      catch { case _: Throwable => None }
      val ok = got.forall(v => nanEq(v, expected))
      if (!ok) println(s"TRUNC-FAIL len=${bytes.length} cut=$cut " +
        s"got=${got.map(_.length)} exp=${expected.length} b64=" +
        java.util.Base64.getEncoder.encodeToString(bytes))
      ok
    }, n = 80)
  }

  test("property: a corrupted byte-order mark or magic is always rejected") {
    // only bytes 0-3 are structurally load-bearing in every TIFF flavor
    // (order mark + magic); later header bytes may BE pixel data, whose
    // corruption legitimately changes the decoded stream. Any change to
    // the magic must throw — never parse as something else.
    check(Prop.forAllNoShrink(tiffGen, Gen.chooseNum(0, 3), Gen.chooseNum(0, 255)) {
      case ((bytes, _), pos, nb) =>
        if (bytes(pos) == nb.toByte) true // no corruption — skip
        else {
          val corrupt = bytes.clone()
          corrupt(pos) = nb.toByte
          try { decode(corrupt); false }
          catch { case _: Throwable => true }
        }
    }, n = 60)
  }

  // ---- block kernels, resources and degenerate tiles ------------------

  private def drain(r: org.apache.spark.sql.connector.read.PartitionReader[
      org.apache.spark.sql.catalyst.InternalRow]): Vector[org.apache.spark.sql.catalyst.InternalRow] =
    try {
      val out = Vector.newBuilder[org.apache.spark.sql.catalyst.InternalRow]
      while (r.next()) out += r.get().copy()
      out.result()
    } finally r.close()

  /** A builder TIFF over the whole decoder matrix — every sample type at
    * 8/16/32/64 bits, predictors 1/2/3, chunky or planar second sample,
    * either byte order, classic or BigTIFF, strips or tiles, no / numeric /
    * `nan` GDAL_NODATA — with its expected decode. Integer samples cover
    * the whole range of 8- and 16-bit bands (or a narrow one, so values
    * repeat); wider bands stay within ±5000 so a linear bin spec stays
    * small.
    */
  private val kernelGen: Gen[((Int, Int), Array[Byte], Vector[Double])] = for {
    w <- Gen.chooseNum(1, 40)
    h <- Gen.chooseNum(1, 40)
    tf <- Gen.oneOf((1, 8), (2, 8), (1, 16), (2, 16), (1, 32), (2, 32), (1, 64), (2, 64), (3, 32), (3, 64))
    (fmt, bits) = tf
    le <- Gen.oneOf(true, false)
    big <- Gen.oneOf(true, false)
    comp <- Gen.oneOf(1, 8)
    pred <- if (fmt == 3) Gen.oneOf(1, 3) else Gen.oneOf(1, 2, 3)
    spp <- Gen.oneOf(1, 2)
    planar <- if (spp == 1) Gen.const(1) else Gen.oneOf(1, 2)
    layout <- Gen.oneOf(
      Gen.chooseNum(0, h + 2).map(Left(_)),
      Gen.oneOf(16, 32).flatMap(tw => Gen.oneOf(16, 32).map(th => Right((tw, th)))))
    nodataKind <- Gen.oneOf("none", "numeric", "nan")
    narrow <- Gen.oneOf(true, false)
    seed <- Gen.chooseNum(0L, Long.MaxValue)
  } yield {
    val r = new scala.util.Random(seed)
    val (lo, span) = (fmt, bits) match {
      case (3, _)  => (-300L, 1000L)
      case (1, 8)  => (0L, 256L)
      case (2, 8)  => (-128L, 256L)
      case (1, 16) => (0L, 65536L)
      case (2, 16) => (-32768L, 65536L)
      case (1, _)  => (0L, 5001L)
      case _       => (-5000L, 10001L)
    }
    val (from, width) = if (narrow) (lo + r.nextInt(span.toInt - 3), 4) else (lo, span.toInt)
    def draw(): Double =
      if (fmt == 3) from + r.nextInt(width * 100) / 100.0
      else (from + r.nextInt(width)).toDouble
    val base = Array.fill(w * h)(draw())
    val ndValue = if (fmt == 3) -9999.0 else base(r.nextInt(base.length))
    val pix = nodataKind match {
      case "numeric" if fmt == 3 => base.map(v => if (r.nextInt(8) == 0) ndValue else v)
      case "nan" if fmt == 3     => base.map(v => if (r.nextInt(8) == 0) Double.NaN else v)
      case _                     => base
    }
    val nodata = nodataKind match {
      case "numeric" => Some(if (fmt == 3) "-9999" else ndValue.toLong.toString)
      case "nan"     => Some("nan")
      case _         => None
    }
    val tile = layout.toOption
    val rps = layout match { case Left(rows) => rows; case Right(_) => 0 }
    val bytes = buildTiff(pix, w, h, bits, fmt, le = le, big = big, comp = comp,
      predictor = pred, rowsPerStrip = rps, tile = tile,
      nodata = nodata, spp = spp, planar = planar,
      laneGen = (v, l) => if (v.isNaN) v else v + l)
    val mapped = pix.map { v =>
      val stored = if (fmt == 3 && bits == 32) v.toFloat.toDouble else v
      if (nodataKind == "numeric" && stored == ndValue) Double.NaN else stored
    }
    val expected = tile match {
      case Some((tw, th)) => tileOrder(mapped, w, h, tw, th)
      case None           => mapped.toVector
    }
    ((fmt, bits), bytes, expected)
  }

  test("property: stats/hist block kernels == a plain fold over PixelCursor values") {
    import graft.core.{BinMethod, BinSpec}
    val dir = java.nio.file.Files.createTempDirectory("graft-kernels")
    val conf = spark.sparkContext.hadoopConfiguration
    val seen = scala.collection.mutable.Map.empty[(Int, Int), Int].withDefaultValue(0)
    var n = 0
    try check(Prop.forAllNoShrink(kernelGen) { case (shape, bytes, expected) =>
      seen(shape) += 1
      n += 1
      val f = dir.resolve(s"t$n.tif")
      java.nio.file.Files.write(f, bytes)
      val uri = f.toUri.toString
      val values = decode(bytes)
      // the plain fold
      var mn = Double.PositiveInfinity
      var mx = Double.NegativeInfinity
      var valid = 0L
      values.foreach { v =>
        if (!v.isNaN) { if (v < mn) mn = v; if (v > mx) mx = v; valid += 1 }
      }
      // the stats-only codes reader: its rows are all stats rows
      val statsOnly = drain(new RasterCodesPartitionReader(
        Seq(uri), graft.core.CodeFold.Schema, BinMethod.Linear, 0.0, false, 0, conf, withCodes = false))
      val stats = statsOnly.map(r => (r.getDouble(2), r.getDouble(3), r.getLong(4)))
      val statsOnlyOk = statsOnly.forall(_.isNullAt(0))
      val statsOk = stats == (if (valid == 0) Vector.empty else Vector((mn, mx, valid)))
      val (a, b) = if (valid == 0) (0.0, 0.0) else (mn, mx)
      val histsOk = Seq((BinMethod.Linear, false), (BinMethod.Log, false), (BinMethod.Log, true)).forall {
        case (method, legacy) =>
          val spec = BinSpec.derive(a, b, method)
          val off = if (legacy) 100.0 else spec.offset
          // Spark's log is null for v + off <= 0: such a pixel has no log code
          val coded = values.filterNot(v => v.isNaN || (method == BinMethod.Log && v + off <= 0))
          val want = coded.foldLeft(Map.empty[Int, Long]) { (m, v) =>
            val c = method match {
              case BinMethod.Linear => (v * 100).toInt
              case BinMethod.Log    => (math.log(v + off) * 1000).toInt
            }
            if (c >= spec.lo && c <= spec.hi && spec.bins > 0) {
              val bin = if (c == spec.hi) spec.hi - 1 else c
              m.updated(bin, m.getOrElse(bin, 0L) + 1)
            } else m
          }
          // the codes reader's rows, binned through the spec as runPushed does
          val rows = drain(new RasterCodesPartitionReader(
            Seq(uri), graft.core.CodeFold.Schema, method, spec.offset, legacy, 0, conf))
          val codes = rows.filterNot(_.isNullAt(0)).map(r => r.getInt(0) -> r.getLong(1))
          val got = codes.foldLeft(Map.empty[Int, Long]) { case (m, (c, cnt)) =>
            val b = spec.binIndex(c)
            if (b < 0) m else m.updated(spec.lo + b, m.getOrElse(spec.lo + b, 0L) + cnt)
          }
          val statsRow = rows.filter(_.isNullAt(0)).map(r => (r.getDouble(2), r.getDouble(3), r.getLong(4)))
          codes.map(_._1) == codes.map(_._1).sorted.distinct && codes.forall(_._2 > 0) &&
            got == want && statsRow == stats
      }
      java.nio.file.Files.delete(f)
      nanEq(values, expected) && statsOk && statsOnlyOk && histsOk
    }, n = 120)
    finally java.nio.file.Files.delete(dir)
    // the 16-bit value table (65,536 counters) is exercised, signed and not
    assert(seen((1, 16)) > 0 && seen((2, 16)) > 0, seen.toString)
  }

  test("a truncated file:// tile leaves no descriptor open once its readers are closed") {
    import graft.core.{BinMethod, BinSpec}
    val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.UnixOperatingSystemMXBean]
    // ImageIO writes the directory ahead of the pixel data, so the cut
    // leaves the layout readable and the block reads fail
    val full = imageIoTiff(rnd(41, 128 * 128, 0, 256), 128, 128,
      java.awt.image.BufferedImage.TYPE_BYTE_GRAY, Some("ZLib"))
    val cut = full.take(full.length / 2)
    new GeoTiff.TiffBlocks(new GeoTiff.ByteArraySeekable(cut)).close()
    val tif = java.io.File.createTempFile("graft-truncated", ".tif")
    tif.deleteOnExit()
    java.nio.file.Files.write(tif.toPath, cut)
    val uri = "file://" + tif.getAbsolutePath
    val conf = spark.sparkContext.hadoopConfiguration
    val spec = BinSpec.derive(0.0, 255.0, BinMethod.Linear)
    val readers: Seq[() => org.apache.spark.sql.connector.read.PartitionReader[
      org.apache.spark.sql.catalyst.InternalRow]] = Seq(
      () => new RasterCodesPartitionReader(
        Seq(uri), graft.core.CodeFold.Schema, spec.method, spec.offset, false, 0, conf, withCodes = false),
      () => new RasterCodesPartitionReader(
        Seq(uri), graft.core.CodeFold.Schema, spec.method, spec.offset, false, 0, conf))
    def drive(r: org.apache.spark.sql.connector.read.PartitionReader[
        org.apache.spark.sql.catalyst.InternalRow]): Unit = {
      intercept[java.io.IOException](r.next())
      r.close()
      r.close() // idempotent
    }
    readers.foreach(mk => drive(mk())) // classes and filesystem loaded
    val before = os.getOpenFileDescriptorCount
    for (_ <- 0 until 50; mk <- readers) drive(mk())
    val after = os.getOpenFileDescriptorCount
    // a leak keeps one descriptor per reader (100 here); the slack covers
    // descriptors other threads of the shared session open meanwhile
    assert(after - before < 10, s"open descriptors $before -> $after")
  }

  test("degenerate tiles: pushed and values paths write the same pinned histogram.csv") {
    import graft.core.BinMethod
    val dir = java.nio.file.Files.createTempDirectory("graft-degenerate")
    val equalU8 = buildTiff(Array.fill(16 * 12)(7.0), 16, 12, 8, 1, comp = 8)
    val allNodata = buildTiff(Array.fill(16 * 12)(-9999.0), 16, 12, 32, 3, comp = 8,
      predictor = 3, tile = Some((16, 16)), nodata = Some("-9999"))
    def lines(codes: Range, count: Int => Long): String =
      codes.map(c => String.format(java.util.Locale.US, "%.2f, %d",
        Double.box(c / 100.0), Long.box(count(c))) + "\n").mkString
    var run = 0
    def csv(tiff: Array[Byte], method: BinMethod, pushed: Boolean): String = {
      run += 1
      val tile = dir.resolve(s"tile$run.tif")
      java.nio.file.Files.write(tile, tiff)
      val list = dir.resolve(s"tiles$run.txt")
      java.nio.file.Files.write(list, tile.toUri.toString.getBytes("UTF-8"))
      val out = dir.resolve(s"out$run").toString
      graft.HistogramRunner.runCli(
        spark,
        graft.HistogramRunner.CliArgs(list.toString, out, 4, graft.HistogramConfig("value", method)),
        pushed)
      new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(out, "histogram.csv")), "UTF-8")
    }
    val cases = Seq(
      // min = max = 7: linear pads ±10 codes around 700; log has hi == lo,
      // so zero bins and an empty file
      ("all-equal u8", equalU8, BinMethod.Linear, lines(690 until 710, c => if (c == 700) 192L else 0L)),
      ("all-equal u8", equalU8, BinMethod.Log, ""),
      // no valid sample: min/max fall back to (0.0, 0.0)
      ("all-nodata f32", allNodata, BinMethod.Linear, lines(-10 until 10, _ => 0L)),
      ("all-nodata f32", allNodata, BinMethod.Log, ""))
    for ((name, tiff, method, want) <- cases) {
      val pushed = csv(tiff, method, pushed = true)
      val values = csv(tiff, method, pushed = false)
      assert(pushed == values, s"$name ${method.name}: pushed and values paths differ")
      assert(pushed == want, s"$name ${method.name}")
    }
  }
}

object GeoTiffSpec {

  /** `e` and its causes, outermost first. */
  def causes(e: Throwable): Seq[Throwable] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq

  /** Whether `e` or one of its causes is Hadoop's error for a scheme with
    * no `FileSystem`.
    */
  def noFileSystemFor(scheme: String, e: Throwable): Boolean =
    causes(e).exists(t => String.valueOf(t.getMessage).contains(s"No FileSystem for scheme \"$scheme\""))

  private def deflate(b: Array[Byte]): Array[Byte] = {
    val d = new java.util.zip.Deflater()
    d.setInput(b); d.finish()
    val out = new ByteArrayOutputStream()
    val buf = new Array[Byte](4096)
    while (!d.finished()) out.write(buf, 0, d.deflate(buf))
    d.end()
    out.toByteArray
  }

  /** Byte-level TIFF builder: classic/BigTIFF, LE/BE, strips or tiles,
    * compression none/deflate, predictor 1/2/3, any sample type, chunky or
    * planar multi-sample (`pix` holds band 0; `laneGen` synthesizes lanes
    * 1..spp-1 from the band-0 value — the decoder must ignore them).
    */
  def buildTiff(
      pix: Array[Double],
      w: Int,
      h: Int,
      bits: Int,
      fmt: Int, // 1 uint, 2 int, 3 float
      le: Boolean = true,
      big: Boolean = false,
      comp: Int = 1, // 1 none, 8 deflate
      predictor: Int = 1,
      rowsPerStrip: Int = 0, // 0 → one strip of h rows
      tile: Option[(Int, Int)] = None,
      nodata: Option[String] = None,
      spp: Int = 1,
      planar: Int = 1,
      laneGen: (Double, Int) => Double = (v, lane) => v + lane): Array[Byte] = {
    val bytesPer = bits / 8
    val order = if (le) ByteOrder.LITTLE_ENDIAN else ByteOrder.BIG_ENDIAN

    def putSample(bb: ByteBuffer, v: Double): Unit = (fmt, bits) match {
      case (3, 32) => bb.putFloat(v.toFloat)
      case (3, 64) => bb.putDouble(v)
      case (_, 8)  => bb.put(v.toLong.toByte)
      case (_, 16) => bb.putShort(v.toLong.toShort)
      case (_, 32) => bb.putInt(v.toLong.toInt)
      case (_, 64) => // two's-complement wrap so 2^63.. unsigned values encode
        bb.putLong(new java.math.BigDecimal(v).toBigInteger.longValue)
      case x => throw new IllegalArgumentException(s"unsupported builder shape $x")
    }

    // rows of SAMPLES (already interleaved for chunky) → block bytes,
    // predictor applied with the given lane stride
    def encodeBlock(rows: Array[Array[Double]], lanes: Int): Array[Byte] = {
      val cols = rows.head.length
      val bb = ByteBuffer.allocate(rows.length * cols * bytesPer).order(order)
      if (predictor == 3) {
        // serialize each row to BIG-endian value bytes, split into
        // byte-significance planes, then horizontal byte differencing
        for (row <- rows) {
          val rb = ByteBuffer.allocate(cols * bytesPer).order(ByteOrder.BIG_ENDIAN)
          row.foreach(v => putSample(rb, v))
          val raw = rb.array()
          val planes = new Array[Byte](raw.length)
          for (i <- raw.indices)
            planes((i % bytesPer) * cols + i / bytesPer) = raw(i)
          for (i <- planes.length - 1 until 0 by -1)
            planes(i) = (planes(i) - planes(i - 1)).toByte
          bb.put(planes)
        }
      } else {
        for (row <- rows) {
          val vals =
            if (predictor == 2)
              row.indices.map(x =>
                if (x < lanes) row(x) else diffMod(row(x), row(x - lanes))).toArray
            else row
          vals.foreach(v => putSample(bb, v))
        }
      }
      val raw = bb.array()
      if (comp == 8) deflate(raw) else raw
    }
    def diffMod(a: Double, b: Double): Double = bits match {
      case 8  => (a.toLong.toByte - b.toLong.toByte).toByte.toDouble
      case 16 => (a.toLong.toShort - b.toLong.toShort).toShort.toDouble
      case 32 => (a.toLong.toInt - b.toLong.toInt).toDouble
      case 64 => (a.toLong - b.toLong).toDouble
    }

    // assemble blocks
    val (blockW, blockH, tiled) = tile match {
      case Some((tw, th)) => (tw, th, true)
      case None           => (w, if (rowsPerStrip > 0) rowsPerStrip else h, false)
    }
    def sampleAt(y: Int, x: Int, lane: Int): Double =
      if (y < h && x < w) { // edge padding = 0
        if (lane == 0) pix(y * w + x) else laneGen(pix(y * w + x), lane)
      } else 0.0
    // one plane's (or the chunky-interleaved) sample row for a block
    def blockRows(x0: Int, y0: Int, rows: Int, plane: Int): Array[Array[Double]] =
      Array.tabulate(rows) { ry =>
        if (planar == 2) Array.tabulate(blockW)(rx => sampleAt(y0 + ry, x0 + rx, plane))
        else Array.tabulate(blockW * spp)(i => sampleAt(y0 + ry, x0 + i / spp, i % spp))
      }
    val chunkyLanes = if (planar == 2) 1 else spp
    val blocks = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
    // planar=2: the full block grid of plane 0 first, then plane 1, ...
    for (plane <- 0 until (if (planar == 2) spp else 1)) {
      if (tiled) {
        for {
          ty <- 0 until (h + blockH - 1) / blockH
          tx <- 0 until (w + blockW - 1) / blockW
        } blocks += encodeBlock(
          blockRows(tx * blockW, ty * blockH, blockH, plane), chunkyLanes)
      } else {
        for (sy <- 0 until (h + blockH - 1) / blockH) {
          val rows = math.min(blockH, h - sy * blockH)
          blocks += encodeBlock(blockRows(0, sy * blockH, rows, plane), chunkyLanes)
        }
      }
    }

    // serialize container
    val out = new ByteArrayOutputStream()
    def wr16(v: Int): Unit = {
      val b = ByteBuffer.allocate(2).order(order); b.putShort(v.toShort); out.write(b.array())
    }
    def wr32(v: Long): Unit = {
      val b = ByteBuffer.allocate(4).order(order); b.putInt(v.toInt); out.write(b.array())
    }
    def wr64(v: Long): Unit = {
      val b = ByteBuffer.allocate(8).order(order); b.putLong(v); out.write(b.array())
    }
    // header
    out.write((if (le) "II" else "MM").getBytes)
    if (big) { wr16(43); wr16(8); wr16(0); wr64(0L) } // IFD offset patched later
    else { wr16(42); wr32(0L) }
    val headerLen = out.size()
    // pixel blocks
    val offsets = blocks.map { b => val o = out.size().toLong; out.write(b); o }
    val counts = blocks.map(_.length.toLong)
    // external value areas (classic TIFF: arrays > 4 bytes)
    val inlineMax = if (big) 8 else 4
    def externLongs(vs: Seq[Long], width: Int): Long = {
      val o = out.size().toLong
      vs.foreach(v => if (width == 8) wr64(v) else wr32(v))
      o
    }
    val offW = if (big) 8 else 4
    val (offType, offTypeW) = if (big) (16, 8) else (4, 4)
    val offsetsPos =
      if (offsets.length * offTypeW > inlineMax) Some(externLongs(offsets.toSeq, offTypeW)) else None
    val countsPos =
      if (counts.length * offTypeW > inlineMax) Some(externLongs(counts.toSeq, offTypeW)) else None
    val nodataBytes = nodata.map(s => (s + "\u0000").getBytes("US-ASCII"))
    val nodataPos = nodataBytes.flatMap { b =>
      if (b.length > inlineMax) { val o = out.size().toLong; out.write(b); Some(o) } else None
    }
    // BitsPerSample: SHORT[spp] — external when it outgrows the inline slot
    val bpsPos: Option[Long] =
      if (spp * 2 > inlineMax) {
        val o = out.size().toLong
        (0 until spp).foreach(_ => wr16(bits))
        Some(o)
      } else None
    // IFD
    val ifdOffset = out.size().toLong
    final case class E(tag: Int, typ: Int, count: Long, writeValue: () => Unit)
    def scalarE(tag: Int, typ: Int, v: Long) = E(tag, typ, 1L, () => {
      typ match {
        case 3 => wr16(v.toInt); if (big) { wr16(0); wr32(0) } else wr16(0)
        case 4 => wr32(v); if (big) wr32(0)
        case 16 => wr64(v)
      }
    })
    def arrE(tag: Int, vs: Seq[Long], pos: Option[Long]) = E(tag, offType, vs.length.toLong, () =>
      pos match {
        case Some(p) => if (big) wr64(p) else wr32(p)
        case None => // inline
          vs.foreach(v => if (big) wr64(v) else wr32(v))
          val used = vs.length * offTypeW
          (used until inlineMax by (if (big) 8 else 4)).foreach(_ => if (big) wr64(0) else wr32(0))
          if (!big && used < 4 && vs.isEmpty) wr32(0)
      })
    val bpsE = E(258, 3, spp.toLong, () =>
      bpsPos match {
        case Some(p) => if (big) wr64(p) else wr32(p)
        case None =>
          (0 until spp).foreach(_ => wr16(bits))
          (spp * 2 until inlineMax by 2).foreach(_ => wr16(0))
      })
    val entries = scala.collection.mutable.ArrayBuffer[E](
      scalarE(256, if (big) 16 else 4, w.toLong),
      scalarE(257, if (big) 16 else 4, h.toLong),
      bpsE,
      scalarE(259, 3, comp.toLong),
      scalarE(262, 3, 1L), // BlackIsZero
      scalarE(277, 3, spp.toLong),
      scalarE(284, 3, planar.toLong),
      scalarE(317, 3, predictor.toLong),
      scalarE(339, 3, fmt.toLong))
    if (tiled) {
      entries += scalarE(322, 3, blockW.toLong)
      entries += scalarE(323, 3, blockH.toLong)
      entries += arrE(324, offsets.toSeq, offsetsPos)
      entries += arrE(325, counts.toSeq, countsPos)
    } else {
      entries += arrE(273, offsets.toSeq, offsetsPos)
      entries += scalarE(278, if (big) 16 else 4, blockH.toLong)
      entries += arrE(279, counts.toSeq, countsPos)
    }
    nodataBytes.foreach { b =>
      entries += E(42113, 2, b.length.toLong, () =>
        nodataPos match {
          case Some(p) => if (big) wr64(p) else wr32(p)
          case None =>
            out.write(b)
            (b.length until inlineMax).foreach(_ => out.write(0))
        })
    }
    val sorted = entries.sortBy(_.tag)
    if (big) wr64(sorted.length.toLong) else wr16(sorted.length)
    sorted.foreach { e =>
      wr16(e.tag); wr16(e.typ)
      if (big) wr64(e.count) else wr32(e.count)
      e.writeValue()
    }
    if (big) wr64(0L) else wr32(0L) // next IFD
    // patch header's IFD pointer
    val bytes = out.toByteArray
    val patch = ByteBuffer.wrap(bytes).order(order)
    if (big) patch.putLong(8, ifdOffset) else patch.putInt(4, ifdOffset.toInt)
    require(headerLen == (if (big) 16 else 8))
    bytes
  }
}
