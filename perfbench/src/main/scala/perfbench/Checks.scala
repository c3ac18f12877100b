package perfbench

import java.util.Locale
import java.util.concurrent.{Executors, TimeUnit}

/** Output checks for the raster workloads, computed without Spark and
  * without the engine's decoder.
  *
  * The expected histogram comes straight from the tile generator: every
  * valid sample is quantized with the reference's `np.histogram`
  * semantics — code `trunc(v·100)`, range `[trunc(min·100) − 10,
  * trunc(max·100) + 10)`, width-1 bins, last bin closed — and rendered in
  * the reference's `"%1.2f, %d"` line format. The expected deciles follow
  * the reference's decile SQL over that histogram.
  */
object Checks {

  /** Dense bin counts; bin `i` has code `lo + i`. */
  final case class Histogram(lo: Int, counts: Array[Long]) {
    def value(i: Int): Double = (lo + i) / 100.0

    def csvBytes: Array[Byte] = {
      val sb = new java.lang.StringBuilder(counts.length * 12)
      var i = 0
      while (i < counts.length) {
        sb.append(String.format(Locale.ROOT, "%.2f, %d", Double.box(value(i)), Long.box(counts(i))))
        sb.append('\n')
        i += 1
      }
      sb.toString.getBytes("UTF-8")
    }
  }

  /** Above any code the generator produces (its samples stay below 251). */
  private val MaxCode = 30000

  /** The histogram of the given tiles (by default all of them). */
  def expectedHistogram(seed: Long, edge: Int, threads: Int,
      only: Seq[Int] = Tiles.layout.indices): Histogram = {
    val encs = Tiles.layout
    val pool = Executors.newFixedThreadPool(threads)
    val partials =
      try {
        // round robin, so the slower float32 tiles spread over the threads
        only.indices.groupBy(_ % threads).values.toVector.map(_.map(only)).map { tiles =>
          pool.submit(() => {
            val counts = new Array[Long](MaxCode)
            var mn = Double.PositiveInfinity
            var mx = Double.NegativeInfinity
            tiles.foreach { t =>
              val px = new Tiles.Pixels(seed, t, encs(t), edge)
              var y = 0
              while (y < edge) {
                var x = 0
                while (x < edge) {
                  val v = px.value(x, y)
                  if (!v.isNaN) {
                    val code = (v * 100).toInt
                    require(code >= 0 && code < MaxCode, s"generated value $v outside the checker's range")
                    counts(code) += 1
                    if (v < mn) mn = v
                    if (v > mx) mx = v
                  }
                  x += 1
                }
                y += 1
              }
            }
            (counts, mn, mx)
          })
        }.map(_.get())
      } finally {
        pool.shutdown()
        pool.awaitTermination(1, TimeUnit.MINUTES)
      }
    val counts = new Array[Long](MaxCode)
    partials.foreach { case (c, _, _) =>
      var i = 0
      while (i < MaxCode) { counts(i) += c(i); i += 1 }
    }
    val mn = partials.map(_._2).min
    val mx = partials.map(_._3).max
    val lo = (mn * 100).toInt - 10
    val hi = (mx * 100).toInt + 10
    val bins = new Array[Long](hi - lo)
    var code = 0
    while (code < MaxCode) {
      if (counts(code) > 0) {
        require(code >= lo && code <= hi, s"code $code outside [$lo, $hi]")
        bins(math.min(code, hi - 1) - lo) += counts(code)
      }
      code += 1
    }
    Histogram(lo, bins)
  }

  /** One row of the reference's decile SQL. */
  final case class Decile(percentile: Long, minValue: Double, maxValue: Double, cnt: Long)

  /** The reference's decile SQL in plain Scala: running share of the
    * count over bins ordered by value, `floor(share · 10)` groups, each
    * group's value range and count, ordered by the group's lowest value.
    * Values go through the CSV's two-decimal rendering, as they do in the
    * pipeline, which reads the deciles from `histogram.csv`.
    */
  def expectedDeciles(h: Histogram): Seq[Decile] = {
    val total = h.counts.sum.toDouble
    val groups = scala.collection.mutable.LinkedHashMap.empty[Long, Decile]
    var running = 0L
    h.counts.indices.foreach { i =>
      running += h.counts(i)
      val pct = math.floor(running.toDouble / total * 10).toLong
      val v = String.format(Locale.ROOT, "%.2f", Double.box(h.value(i))).toDouble
      groups.get(pct) match {
        case None => groups(pct) = Decile(pct * 10, v, v, h.counts(i))
        case Some(d) =>
          groups(pct) = d.copy(
            minValue = math.min(d.minValue, v),
            maxValue = math.max(d.maxValue, v),
            cnt = d.cnt + h.counts(i))
      }
    }
    groups.values.toSeq.sortBy(_.minValue)
  }
}
