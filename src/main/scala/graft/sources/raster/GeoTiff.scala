package graft.sources.raster

import java.nio.{ByteBuffer, ByteOrder}

/** Minimal pure-JVM GeoTIFF band-1 decoder, the raster source's one
  * decode path (GDAL/rasterio are unavailable offline, and a histogram
  * engine needs only the sample values, not warping/CRS — so the TIFF
  * container is decoded directly from its public specification).
  *
  * Derived entirely from the published TIFF 6.0 specification plus the
  * BigTIFF and GDAL metadata conventions (all public). Supported, chosen
  * to cover what GDAL writes for the reference's cloud-optimized GeoTIFF
  * tiles (reference reads band 1 via rasterio — compute_histogram/
  * main.py:237-241):
  *
  *  - classic TIFF (magic 42) and BigTIFF (magic 43), either byte order;
  *  - stripped and tiled layouts (tile edge padding clipped on emit);
  *  - chunky (PlanarConfiguration=1, band 1 = sample 0) and planar (=2,
  *    band 1 = plane 0) interleave;
  *  - Compression: 1 none, 5 LZW (with the TIFF "early change"
  *    convention), 8/32946 Deflate, 32773 PackBits;
  *  - Predictor: 1 none, 2 horizontal differencing (8/16/32-bit), 3
  *    floating-point (byte-split) for float32/float64;
  *  - SampleFormat uint/int/float at 8/16/32/64 bits;
  *  - GDAL_NODATA (tag 42113): matching samples emit NaN, the engine's
  *    nodata convention (F1 filters NaN downstream, never the scan).
  *
  * Only the FIRST image directory is read — in a cloud-optimized GeoTIFF
  * the first IFD is the full-resolution image; overview IFDs are reduced
  * copies a histogram must not double-count.
  *
  * Scale shape: [[TiffBlocks]] decodes one block (strip or tile) at a
  * time into reusable buffers and hands band 1 out in runs of whole rows
  * of that block, as primitive samples with the edge clipped and nodata
  * applied — a 40000×40000 float32 tile streams through ~tile-sized
  * buffers, never the whole band (unlike the reference's full-band
  * ndarray). The scan's aggregating readers fold those runs directly;
  * [[PixelCursor]] is the per-pixel view of the same decoder.
  */
object GeoTiff {

  /** Random-access byte source (the TIFF structure is offset-based). */
  trait SeekableBytes extends AutoCloseable {
    def readFully(pos: Long, dst: Array[Byte], off: Int, len: Int): Unit
    override def close(): Unit = ()
  }

  final class ByteArraySeekable(bytes: Array[Byte]) extends SeekableBytes {
    def readFully(pos: Long, dst: Array[Byte], off: Int, len: Int): Unit =
      System.arraycopy(bytes, pos.toInt, dst, off, len)
  }

  /** Hadoop-filesystem source: any scheme the cluster knows (file://,
    * hdfs://, s3a:// where reachable). Opened per partition on the
    * executor with the scan's Hadoop configuration (the session's, shipped
    * once per scan — see `RasterScan.createReaderFactory`), so filesystem
    * credentials and endpoints set on the session reach every tile without
    * a configuration being built per tile.
    *
    * Reads are `seek` + `readFully`: the blocks are read in file order, and
    * a positional read reopens the file on every call on the local
    * checksummed filesystem.
    */
  final class HadoopSeekable(uri: String, conf: org.apache.hadoop.conf.Configuration)
      extends SeekableBytes {
    private val path = new org.apache.hadoop.fs.Path(uri)
    private val in = path.getFileSystem(conf).open(path)
    def readFully(pos: Long, dst: Array[Byte], off: Int, len: Int): Unit = {
      in.seek(pos)
      in.readFully(dst, off, len)
    }
    override def close(): Unit = in.close()
  }

  // TIFF field type byte widths (type codes from the TIFF 6.0 / BigTIFF
  // specs; RATIONALs appear only in tags this decoder ignores)
  private val TypeSize: Map[Int, Int] = Map(
    1 -> 1, 2 -> 1, 3 -> 2, 4 -> 4, 5 -> 8, 6 -> 1, 7 -> 1, 8 -> 2,
    9 -> 4, 10 -> 8, 11 -> 4, 12 -> 8, 16 -> 8, 17 -> 8, 18 -> 8)

  final case class Layout(
      width: Int,
      height: Int,
      bitsPerSample: Int,
      sampleFormat: Int, // 1 uint, 2 int, 3 float
      samplesPerPixel: Int,
      planar: Int, // 1 chunky, 2 separate planes
      compression: Int,
      predictor: Int,
      tiled: Boolean,
      blockWidth: Int, // strips: width
      blockHeight: Int, // strips: RowsPerStrip
      offsets: Array[Long], // plane-0 blocks only
      byteCounts: Array[Long],
      nodata: Option[Double],
      littleEndian: Boolean)

  /** Parse the header + the `ifdIndex`-th image directory into a
    * normalized block layout. Index 0 is the full-resolution image; in a
    * cloud-optimized GeoTIFF indices 1.. are the overview pyramid
    * (2×/4×/... downsamples) — the fast-approximate scan path: a
    * histogram of overview n touches 4^-n of the pixels.
    */
  def readLayout(in: SeekableBytes, ifdIndex: Int = 0): Layout = {
    val hdr = new Array[Byte](16)
    in.readFully(0, hdr, 0, 16)
    val le = (hdr(0), hdr(1)) match {
      case ('I', 'I') => true
      case ('M', 'M') => false
      case _          => throw new IllegalArgumentException("not a TIFF: bad byte-order mark")
    }
    def u16(b: Array[Byte], o: Int): Int =
      if (le) (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8)
      else ((b(o) & 0xff) << 8) | (b(o + 1) & 0xff)
    def u32(b: Array[Byte], o: Int): Long = {
      val (b0, b1, b2, b3) =
        (b(o) & 0xffL, b(o + 1) & 0xffL, b(o + 2) & 0xffL, b(o + 3) & 0xffL)
      if (le) b0 | (b1 << 8) | (b2 << 16) | (b3 << 24)
      else (b0 << 24) | (b1 << 16) | (b2 << 8) | b3
    }
    def u64(b: Array[Byte], o: Int): Long =
      if (le) java.lang.Long.reverseBytes(beLong(b, o)) else beLong(b, o)
    def beLong(b: Array[Byte], o: Int): Long = {
      var v = 0L; var i = 0
      while (i < 8) { v = (v << 8) | (b(o + i) & 0xffL); i += 1 }
      v
    }

    val magic = u16(hdr, 2)
    val big = magic match {
      case 42 => false
      case 43 =>
        require(u16(hdr, 4) == 8, "BigTIFF offset size must be 8")
        true
      case m => throw new IllegalArgumentException(s"not a TIFF: magic $m")
    }
    // walk the IFD chain to the requested directory (each IFD ends with a
    // pointer to the next; 0 terminates)
    var ifdOff = if (big) u64(hdr, 8) else u32(hdr, 4)
    val entrySize = if (big) 20 else 12
    def entryCountAt(off: Long): Int = {
      val cb = new Array[Byte](8)
      if (big) { in.readFully(off, cb, 0, 8); u64(cb, 0).toInt }
      else { in.readFully(off, cb, 0, 2); u16(cb, 0) }
    }
    var skip = ifdIndex
    while (skip > 0) {
      val n = entryCountAt(ifdOff)
      val nextPos = ifdOff + (if (big) 8 else 2) + n.toLong * entrySize
      val nb = new Array[Byte](8)
      in.readFully(nextPos, nb, 0, if (big) 8 else 4)
      val nextOff = if (big) u64(nb, 0) else u32(nb, 0)
      require(nextOff != 0, s"TIFF has no IFD $ifdIndex (chain ends at ${ifdIndex - skip})")
      ifdOff = nextOff
      skip -= 1
    }

    // entry: tag(2) type(2) count(4|8) value(4|8)
    val nEntries = entryCountAt(ifdOff)
    val entriesOff = ifdOff + (if (big) 8 else 2)
    val entries = new Array[Byte](nEntries * entrySize)
    in.readFully(entriesOff, entries, 0, entries.length)

    // tag -> (type, count, value-or-offset bytes position in `entries`)
    final case class Entry(typ: Int, count: Long, valPos: Int)
    val tags = (0 until nEntries).map { i =>
      val o = i * entrySize
      val tag = u16(entries, o)
      val typ = u16(entries, o + 2)
      val count = if (big) u64(entries, o + 4) else u32(entries, o + 4)
      tag -> Entry(typ, count, o + (if (big) 12 else 8))
    }.toMap

    def valueBytes(e: Entry): Array[Byte] = {
      val size = TypeSize.getOrElse(e.typ, 1) * e.count
      val inlineMax = if (big) 8 else 4
      if (size <= inlineMax) {
        val b = new Array[Byte](size.toInt)
        System.arraycopy(entries, e.valPos, b, 0, size.toInt)
        b
      } else {
        val off =
          if (big) u64(entries, e.valPos)
          else u32(entries, e.valPos)
        val b = new Array[Byte](size.toInt)
        in.readFully(off, b, 0, size.toInt)
        b
      }
    }
    def longs(tag: Int): Option[Array[Long]] = tags.get(tag).map { e =>
      val b = valueBytes(e)
      val w = TypeSize(e.typ)
      Array.tabulate(e.count.toInt) { i =>
        w match {
          case 2 => u16(b, i * 2).toLong
          case 4 => u32(b, i * 4)
          case 8 => u64(b, i * 8)
          case 1 => (b(i) & 0xff).toLong
        }
      }
    }
    def scalar(tag: Int, default: Long): Long =
      longs(tag).flatMap(_.headOption).getOrElse(default)
    def ascii(tag: Int): Option[String] = tags.get(tag).map { e =>
      new String(valueBytes(e), java.nio.charset.StandardCharsets.US_ASCII)
        .takeWhile(_ != '\u0000').trim
    }

    val width = scalar(256, -1).toInt
    val height = scalar(257, -1).toInt
    require(width > 0 && height > 0, "TIFF missing ImageWidth/ImageLength")
    val spp = scalar(277, 1).toInt
    val bits = longs(258).map(_.head.toInt).getOrElse(1)
    require(
      Set(8, 16, 32, 64).contains(bits),
      s"unsupported BitsPerSample $bits (8/16/32/64 only)")
    val fmt = scalar(339, 1).toInt
    require(fmt >= 1 && fmt <= 3, s"unsupported SampleFormat $fmt")
    val planar = scalar(284, 1).toInt
    val compression = scalar(259, 1).toInt
    require(
      Set(1, 5, 8, 32773, 32946).contains(compression),
      s"unsupported Compression $compression (none/LZW/Deflate/PackBits only)")
    val predictor = scalar(317, 1).toInt
    require(predictor >= 1 && predictor <= 3, s"unsupported Predictor $predictor")
    val nodata = ascii(42113).flatMap { s =>
      try Some(if (s.equalsIgnoreCase("nan")) Double.NaN else s.toDouble)
      catch { case _: NumberFormatException => None }
    }

    val tiled = tags.contains(322)
    val (bw, bh, offs, counts) =
      if (tiled) {
        val tw = scalar(322, -1).toInt
        val th = scalar(323, -1).toInt
        (tw, th, longs(324).get, longs(325).get)
      } else {
        val rps = math.min(scalar(278, Long.MaxValue), height.toLong).toInt
        (width, rps, longs(273).get, longs(279).get)
      }
    // planar=2: the offsets array holds plane 0's blocks first, then plane
    // 1's, ... — band 1 is exactly the first blocksPerPlane entries
    val across = (width + bw - 1) / bw
    val down = (height + bh - 1) / bh
    val perPlane = across * down
    val nPlanes = if (planar == 2) spp else 1
    require(
      offs.length == perPlane * nPlanes && counts.length == offs.length,
      s"block count mismatch: ${offs.length} offsets for $perPlane×$nPlanes blocks")
    Layout(
      width, height, bits, fmt, spp, planar, compression, predictor, tiled,
      bw, bh, offs.take(perPlane), counts.take(perPlane), nodata, le)
  }


  // ---- block decompression ------------------------------------------
  //
  // Each decoder fills dst[0, dstLen) of a buffer reused across blocks; a
  // stream that ends early leaves the rest of the block zero.

  /** Deflate with the tile's one `Inflater`, reset per block. */
  def inflateInto(
      inf: java.util.zip.Inflater,
      src: Array[Byte],
      srcLen: Int,
      dst: Array[Byte],
      dstLen: Int): Unit = {
    inf.reset()
    inf.setInput(src, 0, srcLen)
    var at = 0
    while (at < dstLen && !inf.finished()) {
      val n = inf.inflate(dst, at, dstLen - at)
      if (n == 0 && inf.needsInput()) throw new java.io.EOFException("truncated deflate block")
      if (n == 0 && inf.needsDictionary())
        throw new IllegalArgumentException("deflate block needs a preset dictionary")
      at += n
    }
    java.util.Arrays.fill(dst, at, dstLen, 0.toByte)
  }

  def unpackBitsInto(src: Array[Byte], srcLen: Int, dst: Array[Byte], dstLen: Int): Unit = {
    def overrun() = throw new IllegalArgumentException("PackBits run overruns the block")
    var i = 0
    var o = 0
    while (o < dstLen && i < srcLen) {
      val n = src(i); i += 1
      if (n >= 0) { // n+1 literal bytes
        if (o + n + 1 > dstLen || i + n + 1 > srcLen) overrun()
        System.arraycopy(src, i, dst, o, n + 1); i += n + 1; o += n + 1
      } else if (n != -128) { // next byte repeats 1-n times
        if (o + 1 - n > dstLen || i >= srcLen) overrun()
        val b = src(i); i += 1
        var k = 1 - n
        while (k > 0) { dst(o) = b; o += 1; k -= 1 }
      }
    }
    java.util.Arrays.fill(dst, o, dstLen, 0.toByte)
  }

  /** One LZW block into a new array of `dstLen` bytes. */
  def lzwDecode(src: Array[Byte], dstLen: Int): Array[Byte] = {
    val dst = new Array[Byte](dstLen)
    lzwDecodeInto(src, src.length, dst, dstLen, new LzwTable)
    dst
  }

  /** Code table of [[lzwDecodeInto]], kept per tile. */
  final class LzwTable {
    val pos = new Array[Int](4096)
    val len = new Array[Int](4096)
  }

  /** TIFF-variant LZW: MSB-first codes starting at 9 bits, Clear=256,
    * EOI=257, code width grows at 511/1023/2047 minus one (the spec's
    * "early change"). Table entries as prefix/suffix arrays; strings are
    * written back-to-front into the output.
    */
  def lzwDecodeInto(
      src: Array[Byte],
      srcLen: Int,
      dst: Array[Byte],
      dstLen: Int,
      table: LzwTable): Unit = {
    // Contiguous-copy decode: consecutive emissions are back-to-back in
    // dst, so the entry built after emitting `old` then `code` — old's
    // string plus the first char of code's — is exactly the already-written
    // region [start(old), start(old) + len(old) + 1). Entries are therefore
    // (pos, len) slices of dst and emission is one forward arraycopy, not a
    // reversed prefix-chain walk — parity on incompressible data (entries
    // stay ~1 byte), increasingly ahead the longer the matches on real
    // (smooth) raster bands.
    val pos = table.pos
    val len = table.len
    var next = 258
    var bits = 9
    // MSB-first bit reader over a byte accumulator (the per-bit loop was
    // an earlier hot spot: 38 → 67 Mpx/s single-core)
    var acc = 0L
    var accBits = 0
    var srcPos = 0

    def read(): Int = {
      while (accBits < bits && srcPos < srcLen) {
        acc = (acc << 8) | (src(srcPos) & 0xffL)
        srcPos += 1
        accBits += 8
      }
      if (accBits < bits) return 257 // implicit EOI at stream end
      accBits -= bits
      ((acc >>> accBits) & ((1L << bits) - 1)).toInt
    }

    var out = 0
    var prevStart = -1 // where the previous emission (old's string) starts
    var old = -1
    var code = read()
    while (code != 257 && out < dstLen) {
      if (code == 256) { next = 258; bits = 9; old = -1; prevStart = -1 }
      else if (old < 0) {
        require(code < 256, s"LZW: first code after clear must be literal, got $code")
        require(out < dstLen, "LZW output overruns the block")
        prevStart = out
        dst(out) = code.toByte
        out += 1
        old = code
      } else {
        require(code <= next && next < 4096, s"LZW: code $code out of range (next=$next)")
        val oldLen = if (old < 256) 1 else len(old)
        val start = out
        if (code == next) {
          // KwKwK: emit old's string + its first char; source region ends
          // exactly at `out`, so the copy does not overlap its destination
          require(out + oldLen + 1 <= dstLen, "LZW output overruns the block")
          System.arraycopy(dst, prevStart, dst, out, oldLen)
          dst(out + oldLen) = dst(prevStart)
          out += oldLen + 1
        } else if (code < 256) {
          require(out < dstLen, "LZW output overruns the block")
          dst(out) = code.toByte
          out += 1
        } else {
          val n = len(code)
          require(out + n <= dstLen, "LZW output overruns the block")
          System.arraycopy(dst, pos(code), dst, out, n)
          out += n
        }
        // the new entry = old.str + first char of this emission — the
        // contiguous region starting at old's emission
        pos(next) = prevStart
        len(next) = oldLen + 1
        next += 1
        prevStart = start
        old = code
      }
      if (old >= 0 && next == (1 << bits) - 1 && bits < 12) bits += 1
      code = read()
    }
    java.util.Arrays.fill(dst, out, dstLen, 0.toByte)
  }

  // ---- predictors, one row at a time ---------------------------------

  /** Predictor 2: horizontal differencing over same-sample lanes, integer
    * add modulo the sample width, in place on the row at `base`.
    */
  private def undoHorizontal(
      b: Array[Byte], base: Int, cols: Int, lanes: Int, bytes: Int, le: Boolean): Unit = {
    val order = if (le) ByteOrder.LITTLE_ENDIAN else ByteOrder.BIG_ENDIAN
    val rowBytes = cols * lanes * bytes
    bytes match {
      case 1 =>
        var i = lanes
        while (i < rowBytes) { b(base + i) = (b(base + i) + b(base + i - lanes)).toByte; i += 1 }
      case 2 =>
        val sb = ByteBuffer.wrap(b, base, rowBytes).order(order).asShortBuffer()
        var i = lanes
        while (i < cols * lanes) { sb.put(i, (sb.get(i) + sb.get(i - lanes)).toShort); i += 1 }
      case 4 =>
        val ib = ByteBuffer.wrap(b, base, rowBytes).order(order).asIntBuffer()
        var i = lanes
        while (i < cols * lanes) { ib.put(i, ib.get(i) + ib.get(i - lanes)); i += 1 }
      case 8 =>
        val lb = ByteBuffer.wrap(b, base, rowBytes).order(order).asLongBuffer()
        var i = lanes
        while (i < cols * lanes) { lb.put(i, lb.get(i) + lb.get(i - lanes)); i += 1 }
    }
  }

  /** Predictor 3 (floating point), first half: the row's bytes were split
    * into byte-significance planes (most significant plane first, whatever
    * the file's byte order) and then byte-wise differenced; this undoes the
    * differencing in place. The samples are then read straight from their
    * planes (see `TiffBlocks.readRow`).
    */
  private def accumulateRow(b: Array[Byte], base: Int, rowBytes: Int): Unit = {
    // the running sum stays in a register: reading back the byte just
    // stored would chain every step through store-to-load forwarding
    var acc = b(base)
    var i = base + 1
    while (i < base + rowBytes) { acc = (acc + b(i)).toByte; b(i) = acc; i += 1 }
  }

  // A sample's bytes lie `s` apart from `p` on: 1 in interleaved rows, one
  // plane's width under predictor 3. `be`: the first byte is the most
  // significant.
  @inline private def word16(b: Array[Byte], p: Int, s: Int, be: Boolean): Int =
    if (be) ((b(p) & 0xff) << 8) | (b(p + s) & 0xff)
    else (b(p) & 0xff) | ((b(p + s) & 0xff) << 8)

  @inline private def word32(b: Array[Byte], p: Int, s: Int, be: Boolean): Int =
    if (be) (b(p) << 24) | ((b(p + s) & 0xff) << 16) | ((b(p + 2 * s) & 0xff) << 8) | (b(p + 3 * s) & 0xff)
    else (b(p) & 0xff) | ((b(p + s) & 0xff) << 8) | ((b(p + 2 * s) & 0xff) << 16) | (b(p + 3 * s) << 24)

  @inline private def word64(b: Array[Byte], p: Int, s: Int, be: Boolean): Long =
    if (be) (word32(b, p, s, be).toLong << 32) | (word32(b, p + 4 * s, s, be) & 0xffffffffL)
    else (word32(b, p, s, be) & 0xffffffffL) | (word32(b, p + 4 * s, s, be).toLong << 32)

  // ---- band-1 sample runs -------------------------------------------

  /** Most samples handed out per run: 256 KiB of ints or 512 KiB of
    * doubles, so a run stays in cache while it is folded.
    */
  val RunSamples: Int = 1 << 16

  /** Band-1 samples of one tile, a run at a time. A run is whole rows of
    * one block, at most [[RunSamples]] samples (at least one row), in
    * row-major order over the block's window clipped to the image; blocks
    * come in file order. Integer bands of ≤ 16 bits hand out `ints`, with
    * nodata as [[noDataInt]] (one past the largest sample, so a value table
    * of `intRange + 1` counters needs no test per sample); all other bands
    * hand out `doubles`, with nodata as NaN.
    */
  abstract class SampleBlocks extends AutoCloseable {

    /** Value-table size of an integer band of ≤ 16 bits (256 or 65,536),
      * 0 for a band handed out as doubles.
      */
    val intRange: Int

    /** Smallest sample of an integer band (0, −128 or −32,768): the value
      * table index of sample `v` is `v − intMin`.
      */
    val intMin: Int

    final def integral: Boolean = intRange > 0
    final def noDataInt: Int = intMin + intRange

    /** The current run: `count` samples in `ints` (integral) or `doubles`. */
    def ints: Array[Int]
    def doubles: Array[Double]
    def count: Int

    /** Decode the next run; false once the tile is exhausted. */
    def nextBlock(): Boolean

    override def close(): Unit = ()
  }

  private final val U8 = 0
  private final val I8 = 1
  private final val U16 = 2
  private final val I16 = 3
  private final val U32 = 4
  private final val I32 = 5
  private final val U64 = 6
  private final val I64 = 7
  private final val F32 = 8
  private final val F64 = 9

  /** The TIFF decoder: band 1 of directory `ifdIndex` of `in`, one
    * decompressed block live at a time, buffers reused from block to
    * block. Closing it ends the tile's `Inflater` and closes `in`.
    */
  final class TiffBlocks(in: SeekableBytes, ifdIndex: Int = 0) extends SampleBlocks {
    val layout: Layout = readLayout(in, ifdIndex)

    private val bytesPer = layout.bitsPerSample / 8
    private val lanes = if (layout.planar == 2) 1 else layout.samplesPerPixel
    private val across = (layout.width + layout.blockWidth - 1) / layout.blockWidth
    private val rowBytes = layout.blockWidth * lanes * bytesPer
    private val kind = (layout.sampleFormat, layout.bitsPerSample) match {
      case (1, 8)  => U8
      case (2, 8)  => I8
      case (1, 16) => U16
      case (2, 16) => I16
      case (1, 32) => U32
      case (2, 32) => I32
      case (1, 64) => U64
      case (2, 64) => I64
      case (3, 32) => F32
      case (3, 64) => F64
      case (f, b)  => throw new IllegalArgumentException(s"unsupported sample format $f bits $b")
    }
    val intRange: Int = kind match {
      case U8 | I8   => 256
      case U16 | I16 => 65536
      case _         => 0
    }
    val intMin: Int = kind match {
      case I8  => -128
      case I16 => -32768
      case _   => 0
    }

    // GDAL_NODATA: a double sample equal to it becomes NaN ("nan" nodata
    // never compares equal, and NaN samples stay NaN); an integer sample
    // equal to it becomes noDataInt. No integer sample can equal noDataInt
    // itself, the marker used when the band has no reachable nodata.
    private val ndDouble = layout.nodata.getOrElse(Double.NaN)
    private val ndMark = noDataInt
    private val ndInt =
      if (integral && ndDouble == math.rint(ndDouble) && ndDouble >= intMin && ndDouble < ndMark)
        ndDouble.toInt
      else ndMark

    private val runRows = math.max(1, RunSamples / layout.blockWidth)
    val ints: Array[Int] = if (integral) new Array[Int](runRows * layout.blockWidth) else null
    val doubles: Array[Double] =
      if (integral) null else new Array[Double](runRows * layout.blockWidth)

    private var raw = new Array[Byte](0) // compressed block
    private var blk = new Array[Byte](0) // decompressed block
    private var inflater: java.util.zip.Inflater = _
    private var lzw: LzwTable = _
    private var block = -1
    private var blockRows = 0 // rows and columns of the block inside the image
    private var blockCols = 0
    private var row = 0 // next row of the block to hand out
    private var n = 0

    def count: Int = n

    def nextBlock(): Boolean = {
      while (row >= blockRows) {
        block += 1
        if (block >= layout.offsets.length) {
          n = 0
          release()
          return false
        }
        decode(block)
      }
      val rows = math.min(runRows, blockRows - row)
      var k = 0
      var r = row
      while (r < row + rows) {
        k = readRow(r * rowBytes, k)
        r += 1
      }
      row += rows
      n = k
      true
    }

    private def decode(i: Int): Unit = {
      val len = layout.byteCounts(i).toInt
      if (raw.length < len) raw = new Array[Byte](len)
      in.readFully(layout.offsets(i), raw, 0, len)
      val y0 = (i / across) * layout.blockHeight
      val x0 = (i % across) * layout.blockWidth
      // a tile decompresses to the FULL padded tile; only the final strip
      // is short
      val rows =
        if (layout.tiled) layout.blockHeight
        else math.min(layout.blockHeight, layout.height - y0)
      val dstLen = rows * rowBytes
      if (blk.length < dstLen) blk = new Array[Byte](dstLen)
      layout.compression match {
        case 1 =>
          System.arraycopy(raw, 0, blk, 0, math.min(len, dstLen))
          java.util.Arrays.fill(blk, math.min(len, dstLen), dstLen, 0.toByte)
        case 5 =>
          if (lzw == null) lzw = new LzwTable
          lzwDecodeInto(raw, len, blk, dstLen, lzw)
        case 32773 => unpackBitsInto(raw, len, blk, dstLen)
        case _ =>
          if (inflater == null) inflater = new java.util.zip.Inflater()
          inflateInto(inflater, raw, len, blk, dstLen)
      }
      // clip the block to the image edge
      blockRows = math.min(rows, layout.height - y0)
      blockCols = math.min(layout.blockWidth, layout.width - x0)
      row = 0
    }

    /** Undo the predictor on the block row at `base` and write its band-1
      * samples to the run from index `k0`; returns the next index.
      */
    private def readRow(base: Int, k0: Int): Int = {
      val b = blk
      val p3 = layout.predictor == 3
      layout.predictor match {
        case 2 => undoHorizontal(b, base, layout.blockWidth, lanes, bytesPer, layout.littleEndian)
        case 3 => accumulateRow(b, base, rowBytes)
        case _ => ()
      }
      // under predictor 3 a sample's bytes sit one plane apart, most
      // significant first; otherwise they are adjacent in file byte order
      val step = if (p3) lanes else lanes * bytesPer // to the next band-1 sample
      val s = if (p3) layout.blockWidth * lanes else 1 // to the sample's next byte
      val be = p3 || !layout.littleEndian
      val end = k0 + blockCols
      var p = base
      var k = k0
      kind match {
        case U8 =>
          while (k < end) { ints(k) = nd(b(p) & 0xff); p += step; k += 1 }
        case I8 =>
          while (k < end) { ints(k) = nd(b(p).toInt); p += step; k += 1 }
        case U16 =>
          while (k < end) { ints(k) = nd(word16(b, p, s, be)); p += step; k += 1 }
        case I16 =>
          while (k < end) { ints(k) = nd(word16(b, p, s, be).toShort.toInt); p += step; k += 1 }
        case U32 =>
          while (k < end) { doubles(k) = nd((word32(b, p, s, be) & 0xffffffffL).toDouble); p += step; k += 1 }
        case I32 =>
          while (k < end) { doubles(k) = nd(word32(b, p, s, be).toDouble); p += step; k += 1 }
        case U64 =>
          while (k < end) {
            val l = word64(b, p, s, be) // unsigned 64 → double
            doubles(k) = nd(if (l >= 0) l.toDouble else (l >>> 1).toDouble * 2.0 + (l & 1L).toDouble)
            p += step; k += 1
          }
        case I64 =>
          while (k < end) { doubles(k) = nd(word64(b, p, s, be).toDouble); p += step; k += 1 }
        case F32 =>
          while (k < end) {
            doubles(k) = nd(java.lang.Float.intBitsToFloat(word32(b, p, s, be)).toDouble)
            p += step; k += 1
          }
        case F64 =>
          while (k < end) {
            doubles(k) = nd(java.lang.Double.longBitsToDouble(word64(b, p, s, be)))
            p += step; k += 1
          }
      }
      end
    }

    @inline private def nd(v: Int): Int = if (v == ndInt) ndMark else v
    @inline private def nd(v: Double): Double = if (v == ndDouble) Double.NaN else v

    private def release(): Unit =
      if (inflater != null) { inflater.end(); inflater = null }

    override def close(): Unit = try release() finally in.close()
  }

  // ---- pixel cursor --------------------------------------------------

  /** Per-pixel view of a [[SampleBlocks]]: `next()` steps through the
    * runs, `value()` is the current sample as a double, nodata as NaN.
    * Closing it closes the blocks.
    */
  class BlockCursor[B <: SampleBlocks](protected val blocks: B) extends AutoCloseable {
    private val mark = blocks.noDataInt
    private var ints: Array[Int] = _
    private var doubles: Array[Double] = _
    private var i = 0
    private var n = 0
    private var cur = 0.0

    final def next(): Boolean = {
      while (i >= n) {
        if (!blocks.nextBlock()) return false
        ints = blocks.ints
        doubles = blocks.doubles
        n = blocks.count
        i = 0
      }
      cur =
        if (ints != null) { val v = ints(i); if (v == mark) Double.NaN else v.toDouble }
        else doubles(i)
      i += 1
      true
    }

    final def value(): Double = cur

    override def close(): Unit = blocks.close()
  }

  /** Streams band-1 samples of every block in order, tile padding clipped,
    * nodata mapped to NaN. One decompressed block lives at a time.
    */
  final class PixelCursor(in: SeekableBytes, ifdIndex: Int = 0)
      extends BlockCursor[TiffBlocks](new TiffBlocks(in, ifdIndex)) {
    val width: Int = blocks.layout.width
    val height: Int = blocks.layout.height
    val totalPixels: Long = width.toLong * height
  }
}
