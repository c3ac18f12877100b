package graft

import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll

import graft.core.BinMethod
import graft.operators.HistogramOps
import graft.sources.raster.LocalS3FileSystem

/** The aggregated raster scan (`mode=codes`) must be bit-identical to
  * the raw-pixel path composed with the engine operators — the pushdown changes WHERE the work runs, never the
  * answer. The tiles are the reference's `s3://gfw-data/bio/...` URIs,
  * served by [[LocalS3FileSystem]] from float32 tiles with every 97th
  * sample NaN.
  */
class RasterAggSpec extends SparkSpec with BeforeAndAfterAll {

  private lazy val (small, tiles) = {
    val (root, uris) = LocalS3FileSystem.bioTiles(5000, 100)
    (root, uris.mkString(","))
  }

  override def beforeAll(): Unit = LocalS3FileSystem.register(spark, small)
  override def afterAll(): Unit = {
    LocalS3FileSystem.unregister(spark)
    LocalS3FileSystem.delete(small)
  }

  private def load(mode: String, extra: Map[String, String] = Map.empty, only: String = tiles) = {
    val base = spark.read
      .format("graft.sources.raster.RasterSource")
      .option("tiles", only)
      .option("mode", mode)
    extra.foldLeft(base) { case (r, (k, v)) => r.option(k, v) }.load()
  }

  test("codes scan stats rows == raw scan min/max/count per tile") {
    // one tile per scan: its one stats row, with and without the codes
    val pushed = tiles.split(",").map { t =>
      val codes = load("codes", only = t)
      val withCodes = codes.collect().filter(_.isNullAt(0))
      val statsOnly = codes.filter(col("code").isNull).select("min_value", "max_value", "n_valid").collect()
      assert(withCodes.length == 1 && statsOnly.length == 1, t)
      val r = statsOnly.head
      assert(withCodes.head.getAs[Double]("min_value") == r.getDouble(0), t)
      assert(withCodes.head.getAs[Double]("max_value") == r.getDouble(1), t)
      assert(withCodes.head.getAs[Long]("n_valid") == r.getLong(2), t)
      t -> (r.getDouble(0), r.getDouble(1), r.getLong(2))
    }.toMap
    val raw = HistogramOps
      .validValues(load("values").withColumnRenamed("value", "v"), "v")
      .select(col("value"))
    // raw mode loses tile_uri in validValues — recompute per tile directly
    val rawPerTile = load("values")
      .filter(!isnan(col("value")))
      .groupBy("tile_uri")
      .agg(min("value"), max("value"), count(lit(1)))
      .collect()
      .map(r => (r.getString(0), (r.getDouble(1), r.getDouble(2), r.getLong(3))))
      .toMap
    assert(pushed == rawPerTile)
    assert(raw.count() == pushed.values.map(_._3).sum)
  }

  test("pushed two-pass pipeline == raw pipeline, linear and log, bit-exact") {
    val list = java.nio.file.Files.createTempFile("agg_tiles", ".txt")
    java.nio.file.Files.writeString(list, tiles.split(",").mkString("\n"))
    for (method <- Seq(BinMethod.Linear, BinMethod.Log)) {
      val cfg = HistogramConfig("value", method)
      val pushed = HistogramRunner
        .runPushed(spark, list.toString, cfg)
        .collect()
        .map(r => (r.getDouble(0), r.getLong(1)))
        .toSeq
      val raw = HistogramRunner
        .run(load("values"), cfg)
        .collect()
        .map(r => (r.getDouble(0), r.getLong(1)))
        .toSeq
      assert(pushed == raw, s"method $method")
      assert(pushed.map(_._2).sum > 0)
    }
  }

  test("codes mode ships codes, not pixels, across the scan boundary") {
    // 2M px/tile over ~100k 2-decimal codes: the scan emits ≤ codes + 1
    // rows per partition no matter how many pixels land in them (real
    // tiles are 40000² px → 4 orders of magnitude reduction)
    val pixels = 2000000
    val (big, _) = LocalS3FileSystem.bioTiles(pixels, 2000)
    LocalS3FileSystem.register(spark, big)
    try {
      val spec = graft.core.BinSpec.derive(0.0, 1000.0, BinMethod.Linear)
      val binned = load("codes", extra = Map("binMethod" -> "linear"))
      val rows = binned.count()
      // sparse codes per pack of tiles: at most bins × tiles rows regardless of pixels
      assert(rows <= spec.bins.toLong * 3)
      assert(rows < 3L * pixels / 10, "scan output must be bounded by bins, not pixels")
      // counts conserve the valid pixel total
      val totalCnt = binned.agg(sum("cnt")).head().getLong(0)
      val valid = load("values").filter(!isnan(col("value"))).count()
      assert(totalCnt == valid)
    } finally {
      LocalS3FileSystem.register(spark, small)
      LocalS3FileSystem.delete(big)
    }
  }
}
