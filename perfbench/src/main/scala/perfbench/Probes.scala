package perfbench

import org.apache.spark.sql.SparkSession

import graft.sources.Tables
import graft.sources.raster.GeoTiff

/** Set-up probes of single layers, run only in traced mode. */
object Probes {

  /** Tables the engine's loaders read; every query draws on these. */
  val TableNames: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part", "orders", "lineitem",
    "events", "documents", "embeddings")

  final case class Load(table: String, ms: Double, jobs: Int)

  /** `Tables.load` wall time and the Spark jobs it starts, per table —
    * the schema-inference cost a query pays for each table it names.
    * Median of `reps` loads per table.
    */
  def sources(spark: SparkSession, tracer: Tracer, dataDir: String, reps: Int = 3): Seq[Load] =
    TableNames.map { t =>
      val samples = (0 until reps).map { _ =>
        val t0 = System.currentTimeMillis()
        val n0 = System.nanoTime()
        Tables.load(spark, dataDir, t)
        val ms = (System.nanoTime() - n0) / 1e6
        val t1 = System.currentTimeMillis()
        tracer.drain()
        (ms, tracer.window(t0, t1).jobCount)
      }
      Load(t, Stats.median(samples.map(_._1)), Stats.median(samples.map(_._2.toDouble)).round.toInt)
    }

  @volatile private var blackhole = 0.0

  /** [[decode]] on one tile of each encoding, encoded in memory by the
    * same generator as the workloads' tile sets, keyed by encoding name.
    */
  def decodeAll(seed: Long, edge: Int): Map[String, Double] =
    Tiles.Encodings.map { e =>
      val i = Tiles.layout.indexOf(e)
      e.name -> decode(Tiles.encode(new Tiles.Pixels(seed, i, e, edge), e, edge))
    }.toMap

  /** Single-threaded `GeoTiff.PixelCursor` throughput in Mpx/s over one
    * in-memory tile file: median of `reps` timed passes after a warm-up,
    * each pass repeating the tile until it has run for `minMs`.
    */
  def decode(bytes: Array[Byte], reps: Int = 5, minMs: Double = 150): Double = {
    def pass(): (Long, Double) = {
      val n0 = System.nanoTime()
      var px = 0L
      var sink = 0.0
      while ((System.nanoTime() - n0) / 1e6 < minMs) {
        val cur = new GeoTiff.PixelCursor(new GeoTiff.ByteArraySeekable(bytes))
        while (cur.next()) { sink += cur.value(); px += 1 }
      }
      blackhole = sink // a live result keeps the JIT from dropping the loop
      (px, (System.nanoTime() - n0) / 1e9)
    }
    pass()
    Stats.median((0 until reps).map { _ =>
      val (px, s) = pass()
      px / s / 1e6
    })
  }
}
