package graft

import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll

import graft.core.BinMethod
import graft.operators.HistogramOps
import graft.sources.raster.LocalS3FileSystem

/** The raster scan over the reference's `s3://gfw-data/bio/...` tile URIs,
  * served by [[LocalS3FileSystem]] from three 5000-sample float32 tiles
  * with every 97th sample NaN.
  */
class RasterSourceSpec extends SparkSpec with BeforeAndAfterAll {

  private lazy val (root, uris) = LocalS3FileSystem.bioTiles(5000, 100)
  private lazy val tiles = uris.mkString(",")

  override def beforeAll(): Unit = LocalS3FileSystem.register(spark, root)
  override def afterAll(): Unit = {
    LocalS3FileSystem.unregister(spark)
    LocalS3FileSystem.delete(root)
  }

  private def load() =
    spark.read
      .format("graft.sources.raster.RasterSource")
      .option("tiles", tiles)
      .load()

  test("one input partition per tile, pixels × tiles rows") {
    val df = load()
    assert(df.rdd.getNumPartitions == 3)
    assert(df.count() == 3L * 5000)
  }

  test("deterministic: two scans produce identical data") {
    val a = load().groupBy("tile_uri").agg(sum(when(isnan(col("value")), 0.0).otherwise(col("value"))).as("s"))
    val b = load().groupBy("tile_uri").agg(sum(when(isnan(col("value")), 0.0).otherwise(col("value"))).as("s"))
    assert(a.collect().toSet == b.collect().toSet)
  }

  test("NaN nodata present and stripped by the F1 filter") {
    val df = load()
    val nan = df.filter(isnan(col("value"))).count()
    assert(nan == 3L * (5000 / 97)) // every 97th pixel
    val valid = HistogramOps.validValues(df, "value")
    assert(valid.count() == df.count() - nan)
  }

  test("tileListPath option: list file streams into partition planning") {
    val list = java.nio.file.Files.createTempFile("tiles", ".txt")
    java.nio.file.Files.writeString(
      list,
      tiles.split(",").mkString("\n") + "\n\n") // trailing blank line dropped
    val df = spark.read
      .format("graft.sources.raster.RasterSource")
      .option("tileListPath", list.toString)
      .load()
    assert(df.rdd.getNumPartitions == 3)
    assert(df.count() == 3L * 5000)
    // identical data to the inline-option form
    assert(
      df.groupBy("tile_uri").count().collect().toSet ==
        load().groupBy("tile_uri").count().collect().toSet)
  }

  test("column pruning reaches the reader (value-only scan)") {
    val df = load().select("value")
    assert(df.schema.fieldNames.toSeq == Seq("value"))
    assert(df.count() == 3L * 5000)
    // full reference pipeline over the DSv2 source
    val histo = HistogramRunner.run(load(), HistogramConfig("value", BinMethod.Linear))
    assert(histo.count() > 0)
    assert(
      histo.agg(sum("cnt")).head().getLong(0) ==
        3L * 5000 - 3L * (5000 / 97))
  }
}
