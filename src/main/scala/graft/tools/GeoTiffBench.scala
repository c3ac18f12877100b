package graft.tools

import graft.sources.raster.GeoTiff

/** Single-core decode throughput of the pure-JVM GeoTIFF reader, per
  * compression, on a synthetic 2048×2048 band (ImageIO-encoded uint8;
  * builder-encoded float32 deflate). The raster scan parallelizes by
  * tile, so per-core decode rate × cores is the scan bound.
  * Usage: runMain graft.tools.GeoTiffBench
  *
  * `runMain graft.tools.GeoTiffBench ref248` instead runs the round-9
  * full-reference-shape benchmark: the pushed histogram pipeline over
  * 248 locally-synthesized tiles (the reference's own tile-list length,
  * csv/bio_intact_list.txt:1-248) at 4096×4096 = 16.8 Mpx each, mixed
  * uint8 LZW tiled / uint8 Deflate strips / float32 Deflate predictor-3
  * tiled with GDAL_NODATA — the format mix GDAL emits for such lists.
  */
object GeoTiffBench {

  /** Minimal classic-TIFF LE encoder for the one shape ImageIO cannot
    * write: single-band float32, 512×512 tiles, Deflate, predictor 3
    * (floating-point byte-plane differencing), GDAL_NODATA=-9999. The
    * predictor-3 layout mirrors the TIFF Technical Note 3 algorithm the
    * decoder implements.
    */
  private def float32Tiff(pix: Array[Float], w: Int, h: Int): Array[Byte] = {
    import java.nio.{ByteBuffer, ByteOrder}
    val tw = 512; val th = 512
    val tilesX = (w + tw - 1) / tw; val tilesY = (h + th - 1) / th
    def deflate(b: Array[Byte]): Array[Byte] = {
      val d = new java.util.zip.Deflater()
      d.setInput(b); d.finish()
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](65536)
      while (!d.finished()) out.write(buf, 0, d.deflate(buf))
      d.end(); out.toByteArray
    }
    val blocks = for { ty <- 0 until tilesY; tx <- 0 until tilesX } yield {
      val raw = new Array[Byte](tw * th * 4)
      val rowBe = ByteBuffer.allocate(tw * 4).order(ByteOrder.BIG_ENDIAN)
      var o = 0
      for (ry <- 0 until th) {
        rowBe.clear()
        for (rx <- 0 until tw) {
          val y = ty * th + ry; val x = tx * tw + rx
          rowBe.putFloat(if (y < h && x < w) pix(y * w + x) else 0f)
        }
        val rb = rowBe.array()
        // byte-significance planes, then horizontal differencing
        val planes = new Array[Byte](rb.length)
        var i = 0
        while (i < rb.length) { planes((i % 4) * tw + i / 4) = rb(i); i += 1 }
        i = planes.length - 1
        while (i > 0) { planes(i) = (planes(i) - planes(i - 1)).toByte; i -= 1 }
        System.arraycopy(planes, 0, raw, o, planes.length)
        o += planes.length
      }
      deflate(raw)
    }
    val nodata = "-9999".getBytes("US-ASCII") :+ 0.toByte
    val out = new java.io.ByteArrayOutputStream()
    def wr16(v: Int): Unit = { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
    def wr32(v: Long): Unit = { var i = 0; while (i < 4) { out.write(((v >> (8 * i)) & 0xff).toInt); i += 1 } }
    out.write('I'); out.write('I'); wr16(42)
    val dataStart = 8L
    val offsets = blocks.scanLeft(dataStart)(_ + _.length)
    val ifdOff = offsets.last
    wr32(ifdOff)
    blocks.foreach(b => out.write(b))
    // IFD: 13 entries; external arrays (offsets/counts/nodata) follow it
    val n = blocks.size
    val entries = 13
    val afterIfd = ifdOff + 2 + entries * 12 + 4
    val tileOffPos = afterIfd
    val tileCntPos = tileOffPos + 4L * n
    val nodataPos = tileCntPos + 4L * n
    wr16(entries)
    def entry(tag: Int, typ: Int, count: Long, value: Long): Unit = {
      wr16(tag); wr16(typ); wr32(count); wr32(value)
    }
    entry(256, 4, 1, w)            // ImageWidth
    entry(257, 4, 1, h)            // ImageLength
    entry(258, 3, 1, 32)           // BitsPerSample
    entry(259, 3, 1, 8)            // Compression = Deflate
    entry(262, 3, 1, 1)            // Photometric
    entry(277, 3, 1, 1)            // SamplesPerPixel
    entry(317, 3, 1, 3)            // Predictor = floating point
    entry(322, 4, 1, tw)           // TileWidth
    entry(323, 4, 1, th)           // TileLength
    entry(324, 4, n, if (n == 1) offsets.head else tileOffPos)  // TileOffsets
    entry(325, 4, n, if (n == 1) blocks.head.length else tileCntPos) // TileByteCounts
    entry(339, 3, 1, 3)            // SampleFormat = float
    entry(42113, 2, nodata.length, nodataPos) // GDAL_NODATA
    wr32(0L)                       // next IFD
    if (n > 1) { offsets.init.foreach(wr32); blocks.foreach(b => wr32(b.length)) }
    out.write(nodata)
    out.toByteArray
  }

  /** The reference-shape benchmark: 248 tiles, 16.8 Mpx each, mixed
    * compressions, two-pass pushed pipeline at local[cpus].
    */
  private def ref248(): Unit = {
    val w = 4096; val h = 4096
    val distinct = 4 // distinct pixel bases per variant (12 encodes total)
    println("synthesizing tiles...")
    def gradient(seed: Int): Array[Int] = {
      val r = new scala.util.Random(seed)
      Array.tabulate(w * h) { i =>
        val x = i % w; val y = i / w
        ((x + y) / 32 + r.nextInt(8)) & 0xff
      }
    }
    def imageIoBytes(pix: Array[Int], compression: String, tiled: Boolean): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
      img.getRaster.setPixels(0, 0, w, h, pix)
      val writer = javax.imageio.ImageIO.getImageWritersByFormatName("tiff").next()
      val param = writer.getDefaultWriteParam
      param.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
      param.setCompressionType(compression)
      if (tiled) {
        param.setTilingMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
        param.setTiling(512, 512, 0, 0)
      }
      val bos = new java.io.ByteArrayOutputStream()
      val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
      writer.setOutput(ios)
      writer.write(null, new javax.imageio.IIOImage(img, null, null), param)
      ios.flush(); writer.dispose()
      bos.toByteArray
    }
    def floatPix(seed: Int): Array[Float] = {
      val r = new scala.util.Random(seed)
      Array.tabulate(w * h) { i =>
        val x = i % w; val y = i / w
        if (r.nextInt(10) == 0) -9999f
        else ((x * 0.37 + y * 0.11) % 1000.0 + r.nextInt(100) / 100.0).toFloat
      }
    }
    // 124 LZW tiled uint8 + 62 Deflate-strips uint8 + 62 predictor-3
    // float32 = 248, cycling over `distinct` bases per variant
    val lzw = (0 until distinct).map(s => imageIoBytes(gradient(s), "LZW", tiled = true))
    val zlib = (0 until distinct).map(s => imageIoBytes(gradient(100 + s), "ZLib", tiled = false))
    val flt = (0 until distinct).map(s => float32Tiff(floatPix(200 + s), w, h))
    val dir = java.nio.file.Files.createTempDirectory("graft-ref248")
    val uris = (0 until 248).map { i =>
      val bytes =
        if (i < 124) lzw(i % distinct)
        else if (i < 186) zlib(i % distinct)
        else flt(i % distinct)
      val f = dir.resolve(f"tile_$i%03d.tif")
      java.nio.file.Files.write(f, bytes)
      "file://" + f.toAbsolutePath
    }
    val bytesTotal = (lzw.map(_.length.toLong).sum / distinct * 124 +
      zlib.map(_.length.toLong).sum / distinct * 62 +
      flt.map(_.length.toLong).sum / distinct * 62)
    val listFile = dir.resolve("tiles.txt")
    java.nio.file.Files.write(listFile, uris.mkString("\n").getBytes("UTF-8"))
    println(f"248 tiles on disk (${bytesTotal / 1024 / 1024} MiB, ${248L * w * h / 1000000} Mpx)")

    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val cfg = graft.HistogramConfig(valueCol = "value")
    val times = (0 until 3).map { rep =>
      val t0 = System.nanoTime()
      val bins = graft.HistogramRunner
        .runPushed(spark, listFile.toString, cfg)
        .count()
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"rep$rep: $dt%.2f s ($bins bins)")
      dt
    }
    val totalPx = 248L * w * h
    val best = times.min
    val med = times.sorted.apply(1)
    println(f"REF248 two-pass pushed pipeline: $best%.2f s best / $med%.2f s median wall, " +
      f"${totalPx * 2 / best / 1e6}%.0f Mpx/s aggregate decode (both passes), " +
      f"${totalPx / 1e6}%.0f Mpx corpus, 124 LZW-tiled uint8 / 62 Deflate-strip uint8 / " +
      "62 predictor-3 float32 (10% nodata)")
    spark.stop()
    // clean the ~GBs of temp tiles
    uris.foreach(u => java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(new java.net.URI(u))))
    java.nio.file.Files.deleteIfExists(listFile)
    java.nio.file.Files.deleteIfExists(dir)
  }

  def main(args: Array[String]): Unit = {
    if (args.contains("ref248")) { ref248(); return }
    val w = 2048
    val h = 2048
    val rnd = new scala.util.Random(1)
    val pix = Array.fill(w * h)(rnd.nextInt(256))

    def imageIo(compression: String, tiled: Boolean): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
      img.getRaster.setPixels(0, 0, w, h, pix)
      val writer = javax.imageio.ImageIO.getImageWritersByFormatName("tiff").next()
      val param = writer.getDefaultWriteParam
      param.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
      param.setCompressionType(compression)
      if (tiled) { // NOTE: the JDK writer corrupts ZLib+tiled output (its own
        // reader cannot read it back) — only LZW benches tiled
        param.setTilingMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
        param.setTiling(256, 256, 0, 0)
      }
      val bos = new java.io.ByteArrayOutputStream()
      val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
      writer.setOutput(ios)
      writer.write(null, new javax.imageio.IIOImage(img, null, null), param)
      ios.flush(); writer.dispose()
      bos.toByteArray
    }

    def time(label: String, bytes: Array[Byte]): Unit = {
      // warm-up + 3 timed reps, report best
      var best = Double.MaxValue
      var n = 0L
      for (rep <- 0 until 4) {
        val t0 = System.nanoTime()
        val cur = new GeoTiff.PixelCursor(new GeoTiff.ByteArraySeekable(bytes))
        n = 0L
        var s = 0.0
        while (cur.next()) { s += cur.value(); n += 1 }
        val dt = (System.nanoTime() - t0) / 1e9
        if (rep > 0) best = math.min(best, dt)
      }
      println(f"$label: ${n / best / 1e6}%.1f Mpx/s (${bytes.length / 1024} KiB file, $n px)")
    }

    time("uint8 LZW tiled      ", imageIo("LZW", tiled = true))
    time("uint8 Deflate strips ", imageIo("ZLib", tiled = false))
    time("uint8 PackBits strips", imageIo("PackBits", tiled = false))

    // end-to-end: the reference's two-pass pipeline over a REAL tile list
    // through the DSv2 pushed scan (stats + hist modes decode in-reader),
    // partition-per-tile across local[32]
    val nTiles = 32
    val dir = java.nio.file.Files.createTempDirectory("graft-bench-tiles")
    dir.toFile.deleteOnExit()
    val tileBytes = imageIo("LZW", tiled = true)
    val uris = (0 until nTiles).map { i =>
      val f = dir.resolve(f"tile_$i%02d.tif")
      java.nio.file.Files.write(f, tileBytes)
      "file://" + f.toAbsolutePath
    }
    val listFile = dir.resolve("tiles.txt")
    java.nio.file.Files.write(listFile, uris.mkString("\n").getBytes("UTF-8"))
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions", sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val cfg = graft.HistogramConfig(valueCol = "value")
    var best = Double.MaxValue
    for (rep <- 0 until 3) {
      val t0 = System.nanoTime()
      val n = graft.HistogramRunner
        .runPushed(spark, listFile.toString, cfg)
        .count()
      val dt = (System.nanoTime() - t0) / 1e9
      if (rep > 0) best = math.min(best, dt)
      if (rep == 0) println(s"  pipeline bins: $n")
    }
    val totalPx = nTiles.toLong * w * h
    println(f"2-pass pushed pipeline, $nTiles real LZW tiles: ${totalPx * 2 / best / 1e6}%.0f Mpx/s aggregate (both passes), $best%.2f s wall")
    spark.stop()
  }
}
