package graft.sources.raster

import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.{FileStatus, Path => HPath, RawLocalFileSystem}
import org.apache.spark.ListenerBusDrain
import org.apache.spark.paths.SparkPath
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.{FilePartition, PartitionDirectory, PartitionedFile}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.{HistogramConfig, HistogramRunner}
import graft.core.{BinMethod, RouteLog}

/** The one-scan pushed histogram (`mode=codes` over packed partitions)
  * against the `mode=values` path, on builder tiles over `file://`: the
  * same `histogram.csv` bytes for every bin spec, one raster scan (two for
  * log with a min ≤ 0), and Spark's own file packing.
  */
class PushedHistogramSpec extends graft.SparkSpec {
  import GeoTiffSpec.buildTiff

  private lazy val dir = Files.createTempDirectory("graft-pushed")

  private def write(name: String, bytes: Array[Byte]): String = {
    val f = dir.resolve(name)
    Files.write(f, bytes)
    f.toUri.toString
  }

  private def list(name: String, uris: Seq[String]): String = {
    val f = dir.resolve(name)
    Files.write(f, uris.mkString("\n").getBytes("UTF-8"))
    f.toString
  }

  private def draw(seed: Int, n: Int)(f: scala.util.Random => Double): Array[Double] = {
    val r = new scala.util.Random(seed)
    Array.fill(n)(f(r))
  }

  // u8 in 1..250; int16 in −300..1199, so below −100 too; float32 in
  // 0.01..500.00 or −100.00..499.99, each with 10 % GDAL_NODATA
  private lazy val u8Pix = draw(1, 48 * 40)(r => 1 + r.nextInt(250))
  private lazy val i16Pix = draw(2, 40 * 30)(r => r.nextInt(1500) - 300)
  private def f32(seed: Int, lo: Int) =
    draw(seed, 36 * 28)(r => if (r.nextInt(10) == 0) -9999.0 else (lo + r.nextInt(50000)) / 100.0)
  private lazy val u8 = write("u8.tif", buildTiff(u8Pix, 48, 40, 8, 1, comp = 8))
  private lazy val i16 = write("i16.tif", buildTiff(i16Pix, 40, 30, 16, 2, comp = 8, predictor = 2))
  private lazy val f32Pos = write("f32pos.tif", buildTiff(f32(3, 1), 36, 28, 32, 3, comp = 8,
    predictor = 3, tile = Some((16, 16)), nodata = Some("-9999")))
  private lazy val f32Neg = write("f32neg.tif", buildTiff(f32(4, -10000), 36, 28, 32, 3, comp = 8,
    predictor = 3, tile = Some((16, 16)), nodata = Some("-9999")))
  private lazy val positive = list("positive.txt", Seq(u8, f32Pos))
  private lazy val mixed = list("mixed.txt", Seq(u8, i16, f32Neg))

  private val scans = new AtomicInteger
  private val scanCounter = new SparkListener {
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      if (e.stageInfo.rddInfos.exists(_.name == "DataSourceRDD")) scans.incrementAndGet()
  }

  private var outs = 0

  /** `f`'s result and the rows the scans it ran read. */
  private def rowsRead[T](f: => T): (T, Long) = {
    val read = new java.util.concurrent.atomic.AtomicLong
    val rowCounter = new SparkListener {
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null) read.addAndGet(e.taskMetrics.inputMetrics.recordsRead)
    }
    ListenerBusDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(rowCounter)
    try {
      val out = f
      ListenerBusDrain(spark.sparkContext)
      (out, read.get)
    } finally spark.sparkContext.removeSparkListener(rowCounter)
  }

  /** `runCli` over `tileList`: its `histogram.csv` (empty for
    * `--minmax_only`), the returned rows and the raster scans it ran,
    * collecting the returned relation included.
    */
  private def cli(tileList: String, cfg: HistogramConfig, pushed: Boolean): (String, Seq[Row], Int) = {
    outs += 1
    val out = dir.resolve(s"out$outs")
    ListenerBusDrain(spark.sparkContext)
    scans.set(0)
    val written = HistogramRunner.runCli(spark, HistogramRunner.CliArgs(tileList, out.toString, 4, cfg), pushed)
    val rows = written.collect().toSeq
    ListenerBusDrain(spark.sparkContext)
    val n = scans.get
    val csv =
      if (cfg.minmaxOnly) ""
      else new String(Files.readAllBytes(out.resolve("histogram.csv")), "UTF-8")
    (csv, rows, n)
  }

  test("one scan: runCli pushed writes the values path's histogram.csv for every spec") {
    import BinMethod.{Linear, Log}
    def cfg(method: BinMethod) = HistogramConfig("value", method)
    val cases = Seq(
      ("linear", mixed, cfg(Linear), 1),
      ("log, min > 0", positive, cfg(Log), 1),
      ("log, min <= 0", mixed, cfg(Log), 2),
      ("legacy log", mixed, cfg(Log).copy(legacyLogOffset100 = true), 1),
      ("clampToZero linear", mixed, cfg(Linear).copy(clampToZero = true), 1),
      ("clampToZero log", positive, cfg(Log).copy(clampToZero = true), 2),
      ("both bounds, linear", mixed, cfg(Linear).copy(minValue = Some(-5.0), maxValue = Some(120.0)), 1),
      ("both bounds, log", mixed, cfg(Log).copy(minValue = Some(5.0), maxValue = Some(200.0)), 1),
      ("both bounds, log min <= 0", mixed, cfg(Log).copy(minValue = Some(-50.0), maxValue = Some(300.0)), 1),
      ("one bound, linear", mixed, cfg(Linear).copy(minValue = Some(10.0)), 1),
      ("one bound, log", mixed, cfg(Log).copy(maxValue = Some(100.0)), 2),
      ("--minmax_only", mixed, cfg(Linear).copy(minmaxOnly = true), 1),
      ("--minmax_only clampToZero", positive, cfg(Linear).copy(minmaxOnly = true, clampToZero = true), 1))
    spark.sparkContext.addSparkListener(scanCounter)
    try
      for ((name, tileList, c, wantScans) <- cases) {
        RouteLog.reset()
        val (csv, rows, n) = cli(tileList, c, pushed = true)
        val secondPass = RouteLog.fired("histogramSecondPass")
        val (valuesCsv, valuesRows, valuesScans) = cli(tileList, c, pushed = false)
        assert(csv == valuesCsv, s"$name: histogram.csv differs from the values path's")
        assert(rows == valuesRows, s"$name: returned rows differ from the values path's")
        assert(rows.nonEmpty, name)
        assert(n == wantScans, s"$name: $n raster scans")
        // the stats row comes back held: reading it scans no tile again
        if (c.minmaxOnly) assert(valuesScans == 1, s"$name: $valuesScans raster scans on the values path")
        assert(secondPass == (wantScans == 2), s"$name: ${RouteLog.recent()}")
      }
    finally spark.sparkContext.removeSparkListener(scanCounter)
  }

  test("legacy log: a pixel with v + 100 <= 0 has no code, as Spark's log is null there") {
    val tileList = list("i16.txt", Seq(i16))
    val cfg = HistogramConfig("value", BinMethod.Log, legacyLogOffset100 = true)
    val pushed = HistogramRunner.runPushed(spark, tileList, cfg).collect().toSeq
    val values = HistogramRunner.run(
      spark.read.format("graft.sources.raster.RasterSource").option("tileListPath", tileList).load(),
      cfg).collect().toSeq
    assert(pushed == values)
    assert(i16Pix.exists(_ + 100 < 0))
    // codes below the spec's lo = 0 drop too (v + 100 < 1)
    assert(pushed.map(_.getLong(1)).sum == i16Pix.count(_ + 100 >= 1).toLong)
  }

  test("both bounds: each codes scan partition returns at most bins + 1 code rows for data wider than them") {
    // ~1,700 distinct codes: the int16 tile's ~800 (a value table) and the
    // float32 tile's ~900 (runs of doubles), against 420 bins
    val tileList = list("wide.txt", Seq(i16, f32Pos))
    val cfg = HistogramConfig("value", BinMethod.Linear, minValue = Some(100.0), maxValue = Some(104.0))
    val bins = graft.core.BinSpec.derive(100.0, 104.0, BinMethod.Linear).bins
    val (pushed, read) = rowsRead(HistogramRunner.runPushed(spark, tileList, cfg).collect().toSeq)
    // each pack returns ≤ bins + 1 code rows and its one stats row
    val packs = plan("codes", Seq(i16, f32Pos)).length
    assert(read <= packs * (bins + 2L), s"$read rows read from $packs packs for $bins bins")
    val values = HistogramRunner.run(
      spark.read.format("graft.sources.raster.RasterSource").option("tileListPath", tileList).load(),
      cfg).collect().toSeq
    assert(pushed == values)
    assert(pushed.map(_.getLong(1)).sum > 0)
  }

  test("--minmax_only pushed reads one stats row per pack in one scan, no code row") {
    val tiles = Seq(u8, i16, f32Pos, f32Neg)
    val tileList = list("packed.txt", tiles)
    spark.conf.set("spark.sql.files.openCostInBytes", "1")
    spark.conf.set("spark.sql.files.minPartitionNum", "2")
    try {
      val packs = plan("codes", tiles)
      assert(packs.exists(_.size > 1) && packs.length < tiles.length, packs.toString)
      val cfg = HistogramConfig("value", BinMethod.Linear, minmaxOnly = true)
      spark.sparkContext.addSparkListener(scanCounter)
      val ((_, rows, n), read) =
        try rowsRead(cli(tileList, cfg, pushed = true))
        finally spark.sparkContext.removeSparkListener(scanCounter)
      assert(n == 1, s"$n raster scans")
      // every pack holds a valid value: one stats row each, and no code row
      assert(read == packs.length, s"$read rows read from ${packs.length} packs")
      assert(rows == cli(tileList, cfg, pushed = false)._2)
    } finally {
      spark.conf.unset("spark.sql.files.openCostInBytes")
      spark.conf.unset("spark.sql.files.minPartitionNum")
    }
  }

  test("--minmax_only with no valid value reports the (0.0, 0.0) fallback on every path") {
    val allNodata = write("nodata.tif", buildTiff(Array.fill(16 * 12)(-9999.0), 16, 12, 32, 3, comp = 8,
      predictor = 3, tile = Some((16, 16)), nodata = Some("-9999")))
    val tileList = list("nodata.txt", Seq(allNodata))
    val empty = dir.resolve("empty.parquet").toString
    import spark.implicits._
    Seq.empty[Double].toDF("value").write.parquet(empty)
    for (clamp <- Seq(false, true)) {
      val cfg = HistogramConfig("value", minmaxOnly = true, clampToZero = clamp)
      for ((name, source, pushed) <- Seq(
          ("pushed tile list", tileList, true), ("values tile list", tileList, false), ("empty parquet", empty, true))) {
        val (_, rows, _) = cli(source, cfg, pushed)
        assert(rows == Seq(Row(0.0, 0.0)), s"$name, clampToZero = $clamp")
      }
    }
  }

  private def plan(mode: String, tiles: Seq[String], listPath: String = ""): Seq[Seq[String]] =
    new RasterTable(tiles.mkString(","), listPath, mode, new java.util.HashMap[String, String]())
      .newScanBuilder(CaseInsensitiveStringMap.empty()).build().toBatch
      .planInputPartitions().toSeq.map(_.asInstanceOf[RasterInputPartition].tiles)

  /** Spark's own packing of `files` (path, length) into file partitions. */
  private def sparkPacks(files: Seq[(String, Long)]): Seq[Set[String]] = {
    val statuses = files.map { case (p, len) => new FileStatus(len, false, 1, 0L, 0L, new HPath(p)) }
    val split = FilePartition.maxSplitBytes(spark, Seq(PartitionDirectory(InternalRow.empty, statuses.toArray)))
    val parts = statuses.sortBy(-_.getLen).map(s =>
      PartitionedFile(InternalRow.empty, SparkPath.fromPath(s.getPath), 0L, s.getLen))
    FilePartition.getFilePartitions(spark, parts, split).map(_.files.map(_.filePath.toPath.toString).toSet)
  }

  test("packing: Spark's file rule over tile sizes; values mode keeps one tile per partition") {
    val sizes = Seq(70000, 5000, 123456, 40000, 40000, 1, 99999, 64000, 3000, 250000, 15000, 80000)
    val sub = Files.createDirectory(dir.resolve("sized"))
    val tiles = sizes.zipWithIndex.map { case (n, i) =>
      val f = sub.resolve(s"t$i.tif")
      Files.write(f, new Array[Byte](n))
      f.toUri.toString
    }
    spark.conf.set("spark.sql.files.maxPartitionBytes", "131072")
    spark.conf.set("spark.sql.files.openCostInBytes", "8192")
    try {
      val packs = plan("codes", tiles)
      assert(packs.flatten.sorted == tiles.sorted, "every tile in exactly one partition")
      val want = sparkPacks(tiles.zip(sizes.map(_.toLong)))
      assert(want.size > 1 && want.size < tiles.size)
      assert(packs.map(_.map(t => new HPath(t).toString).toSet) == want)
      val values = plan("values", tiles)
      assert(values == tiles.map(Seq(_)))
      // a tile on a scheme with no FileSystem weighs the open cost alone
      val unopenable = (0 until 9).map(i => s"s3://gfw-data/bio/t$i.tif")
      assert(plan("codes", unopenable).map(_.map(t => new HPath(t).toString).toSet) ==
        sparkPacks(unopenable.map(_ -> 0L)))
    } finally {
      spark.conf.unset("spark.sql.files.maxPartitionBytes")
      spark.conf.unset("spark.sql.files.openCostInBytes")
    }
  }

  test("the tile list is read with the session's Hadoop configuration") {
    val tileList = list("session.txt", Seq(u8, f32Pos))
    spark.conf.set("fs.sessiononly.impl", classOf[SessionOnlyFileSystem].getName)
    try {
      val planned = plan("codes", Nil, "sessiononly://" + tileList)
      assert(planned.flatten.toSet == Set(u8, f32Pos))
    } finally spark.conf.unset("fs.sessiononly.impl")
  }
}

/** The local filesystem under a scheme only a session conf names. */
class SessionOnlyFileSystem extends RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("sessiononly:///")
  override def getScheme: String = "sessiononly"
}
