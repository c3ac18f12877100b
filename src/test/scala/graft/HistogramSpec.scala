package graft

import org.apache.spark.sql.functions._

import org.apache.spark.sql.Row

import graft.core.{BinMethod, BinSpec, CodeFold}
import graft.operators.{HistogramOps, PercentileOps}

/** Golden fixtures ported verbatim from the reference unit tests
  * (reference: test/test_histogram.py:5-28) plus BinSpec derivation and
  * pipeline invariants.
  */
class HistogramSpec extends SparkSpec {
  import spark.implicits._

  // reference test/test_histogram.py:5 — 3×3 matrix flattened
  private val fixture = Seq(1, 2, 3, 2, 3, 4, 3, 4, 5)

  // the fold's dense step over counted codes: np.histogram(codes, hi - lo, (lo, hi))
  private def dense(codes: Seq[Int], lo: Int, hi: Int): Seq[Long] =
    BinSpec(lo, hi, 0.0, BinMethod.Linear).dense(codes.groupMapReduce(identity)(_ => 1L)(_ + _)).toSeq

  private def denseCounts(lo: Int, hi: Int): Seq[Long] = dense(fixture, lo, hi)

  test("golden: histogram range (0,6) == [0,1,2,3,2,1]") {
    assert(denseCounts(0, 6) == Seq(0L, 1L, 2L, 3L, 2L, 1L))
  }

  test("golden: histogram range (0,9) == [0,1,2,3,2,1,0,0,0]") {
    assert(denseCounts(0, 9) == Seq(0L, 1L, 2L, 3L, 2L, 1L, 0L, 0L, 0L))
  }

  test("golden: histogram merge is element-wise add") {
    // reference test/test_histogram.py:23-28
    val h1 = Seq(0L, 1L, 2L, 3L, 2L, 1L, 0L, 0L, 0L)
    val h2 = Seq(1L, 2L, 1L, 2L, 0L, 0L, 1L, 1L, 1L)
    // two code-row sets (CodeFold.Schema), one per histogram, code = bin
    def codeRows(h: Seq[Long]) = spark.createDataFrame(
      java.util.Arrays.asList(h.zipWithIndex.map { case (c, b) => Row(b, c, null, null, null, null) }: _*),
      CodeFold.Schema)
    val merged = HistogramOps
      .mergeCodes(codeRows(h1).union(codeRows(h2)))
      .counts
      .sortBy(_._1)
      .map(_._2)
      .toSeq
    assert(merged == Seq(1L, 3L, 3L, 5L, 2L, 1L, 1L, 1L, 1L))
  }

  test("np.histogram closed last bin: code == hi lands in bin hi-1") {
    val counts = dense(Seq(0, 1, 5, 6), 0, 6) // range (0,6): 6 == hi
    assert(counts == Seq(1L, 1L, 0L, 0L, 0L, 2L)) // 5 and 6 both in last bin
  }

  test("out-of-range codes are dropped (numpy range semantics)") {
    val total = dense(Seq(-1, 0, 3, 7, 100), 0, 6).sum
    assert(total == 2L) // only 0 and 3 in [0, 6]
  }

  test("BinSpec linear derivation matches get_range") {
    // main.py:161-165: (int(min*100) - 10, int(max*100) + 10)
    val s = BinSpec.derive(1.0, 50.0, BinMethod.Linear)
    assert(s == BinSpec(90, 5010, 0.0, BinMethod.Linear))
    // negative min truncates toward zero like Python int()
    val n = BinSpec.derive(-1.237, 2.5, BinMethod.Linear)
    assert(n.lo == -123 - 10 && n.hi == 250 + 10)
  }

  test("BinSpec log derivation: offset rule and truncation") {
    // min > 0 → offset 0 (main.py:166-168)
    val pos = BinSpec.derive(0.01, 490.02, BinMethod.Log)
    assert(pos.offset == 0.0)
    assert(pos.lo == (math.log(0.01) * 1000).toInt) // -4605 (toward zero)
    assert(pos.lo == -4605)
    // min ≤ 0 → offset = |min| + 1
    val neg = BinSpec.derive(-249.99, 240.02, BinMethod.Log)
    assert(neg.offset == 249.99 + 1)
    assert(neg.lo == (math.log(-249.99 + 250.99) * 1000).toInt)
  }

  test("BinSpec rejects a non-finite or Int-overflowing min/max by value and method") {
    // neither scan path filters ±Inf; the reference fails too (int(inf)).
    // ±Inf has no code, so no cast overflows whatever ANSI is set to
    val withInf = Seq(1.0, 2.5, Double.PositiveInfinity).toDF("value")
    val ansi = spark.conf.get("spark.sql.ansi.enabled")
    try
      for (a <- Seq("true", "false"); m <- Seq(BinMethod.Linear, BinMethod.Log)) {
        spark.conf.set("spark.sql.ansi.enabled", a)
        val e = intercept[IllegalArgumentException](
          HistogramRunner.run(withInf, HistogramConfig("value", m)).collect())
        assert(e.getMessage.contains("Infinity") && e.getMessage.contains(m.name), s"ansi $a: ${e.getMessage}")
      }
    finally spark.conf.set("spark.sql.ansi.enabled", ansi)
    // linear codes are v·100 ± 10: 3·10⁷ no longer fits an Int
    val big = intercept[IllegalArgumentException](BinSpec.derive(0.0, 3e7, BinMethod.Linear))
    assert(big.getMessage.contains("3.0E7"), big.getMessage)
    // both ends fit, but hi − lo = 4,000,000,020 bins do not
    val wide = intercept[IllegalArgumentException](BinSpec.derive(-2e7, 2e7, BinMethod.Linear))
    assert(wide.getMessage.contains("-2.0E7") && wide.getMessage.contains("linear"), wide.getMessage)
  }

  test("histogram counts sum to the number of in-range values") {
    val values = HistogramOps.validValues(
      spark.read.parquet(s"${TestSpark.sf0001}/lineitem.parquet"),
      "l_quantity")
    val n = values.count()
    val (mn, mx) = HistogramOps.minMax(values)
    val spec = BinSpec.derive(mn, mx, BinMethod.Linear)
    val histo = HistogramRunner.run(values, HistogramConfig("value", minValue = Some(mn), maxValue = Some(mx)))
    assert(histo.agg(sum("cnt")).head().getLong(0) == n) // linear pad → nothing dropped
    assert(histo.count() == spec.bins.toLong) // dense: one row per bin
  }

  test("quantize truncates toward zero, matching numpy astype") {
    val spec = BinSpec(-1000, 1000, 0.0, BinMethod.Linear)
    val got = Seq(1.237, -1.237, 0.999, -0.999)
      .toDF("value")
      .select(HistogramOps.quantize(col("value"), spec).as("code"))
      .collect()
      .map(_.getInt(0))
      .toSeq
    assert(got == Seq(123, -123, 99, -99))
  }

  // 1.3086551410464666 sits on a log code boundary: Math.log puts its
  // code at 268 and StrictMath.log (Spark's log) at 269
  private val logPair = Seq(1.0, 1.3086551410464666)

  test("log codes and log bin bounds use one log: no value at a code boundary drops") {
    val histo = HistogramRunner.run(logPair.toDF("value"), HistogramConfig("value", BinMethod.Log))
    assert(histo.agg(sum("cnt")).head().getLong(0) == 2L)
  }

  test("the streaming bin state under a derived log spec keeps every value") {
    val spec = BinSpec.derive(logPair.min, logPair.max, BinMethod.Log)
    val state = graft.streaming.StreamingQuantiles.binCounts(logPair.toDF("value"), spec)
    assert(state.agg(sum("cnt")).head().getLong(0) == 2L)
  }

  test("deciles DataFrame form == SQL-verbatim form") {
    val values = HistogramOps.validValues(
      spark.read.parquet(s"${TestSpark.sf0001}/lineitem.parquet"),
      "l_quantity")
    val (mn, mx) = HistogramOps.minMax(values)
    val histo = HistogramRunner.run(values, HistogramConfig("value", minValue = Some(mn), maxValue = Some(mx)))
    val a = PercentileOps.deciles(histo).collect().toSeq
    val b = PercentileOps.decilesSql(spark, histo).collect().toSeq
    assert(a == b)
    assert(a.nonEmpty)
    // last cumulative row: running == total → pct 10 → percentile 100
    assert(a.map(_.getLong(0)).max == 100L)
    // degenerate histograms, pinned to what DuckDB 1.0.0 returns for the
    // reference SQL; a 0/0 share is null on both engines
    import org.apache.spark.sql.Row
    val inf = Double.PositiveInfinity
    val degenerate = Seq(
      ("empty", Seq.empty[(Double, Long)], Seq.empty[Row]),
      // what an all-nodata tile list writes: the 20-row (0.0, 0.0) fallback
      ("all-zero counts", (-10 until 10).map(c => (c / 100.0, 0L)), Seq(Row(null, -0.1, 0.09, 0L))),
      ("one row", Seq((7.0, 192L)), Seq(Row(100L, 7.0, 7.0, 192L))),
      ("±Inf value", Seq((-inf, 3L), (1.0, 5L), (inf, 2L)),
        Seq(Row(30L, -inf, -inf, 3L), Row(80L, 1.0, 1.0, 5L), Row(100L, inf, inf, 2L))))
    for ((name, rows, want) <- degenerate) {
      val h = rows.toDF("value", "cnt")
      assert(PercentileOps.deciles(h).collect().toSeq == want, name)
      assert(PercentileOps.decilesSql(spark, h).collect().toSeq == want, name)
    }
  }
}
