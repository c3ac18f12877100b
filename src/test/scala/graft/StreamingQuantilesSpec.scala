package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.core.{BinMethod, BinSpec}
import graft.streaming.StreamingQuantiles

/** The streaming cut-key twin against the exact batch machinery:
  *
  *  1. the incremental bin-count STATE after N micro-batches equals the
  *     batch aggregation over the union (the A4 mergeability argument);
  *  2. cuts read from the streaming state equal cuts read from the batch
  *     state (same pure function of the same state);
  *  3. the bracket property — every streaming cut's `[err_lo, err_hi]`
  *     interval contains the EXACT batch ntile cut value, so the bin
  *     resolution is the only error term.
  */
class StreamingQuantilesSpec extends SparkSpec {
  import spark.implicits._

  private val spec = BinSpec(0, 1000, 0.0, BinMethod.Linear)

  // values in [0, 10): quantize ×100 → codes [0, 1000)
  private def sample(seed: Int, n: Int): Seq[Double] = {
    val r = new scala.util.Random(seed)
    Seq.fill(n)(r.nextInt(995) / 100.0 + r.nextInt(100) / 10000.0)
  }

  test("streaming bin-count state across micro-batches == batch state; cuts agree") {
    implicit val sqlCtx = spark.sqlContext
    val all = sample(1, 900)
    val input = MemoryStream[Double]
    val stream = StreamingQuantiles.binCounts(input.toDF().toDF("value"), spec)
    val query = stream.writeStream
      .format("memory")
      .queryName("sq_state")
      .outputMode("complete")
      .start()
    try {
      // three micro-batches: the later ones UPDATE existing bin rows —
      // the incremental merge path, not a single-batch aggregate
      input.addData(all.take(300))
      query.processAllAvailable()
      input.addData(all.slice(300, 600))
      query.processAllAvailable()
      input.addData(all.drop(600))
      query.processAllAvailable()
      val streamState = spark.table("sq_state")
      val batchState = StreamingQuantiles.binCounts(all.toDF("value"), spec)
      assert(
        streamState.except(batchState).isEmpty && batchState.except(streamState).isEmpty,
        "incremental state must equal the batch aggregation")

      val streamCuts = StreamingQuantiles.cutsFromState(streamState, spec, 4).collect()
      val batchCuts = StreamingQuantiles.cutsFromState(batchState, spec, 4).collect()
      assert(streamCuts.toSeq == batchCuts.toSeq)
    } finally query.stop()
  }

  test("grouped state across micro-batches == grouped batch state; per-group cuts agree") {
    implicit val sqlCtx = spark.sqlContext
    val r = new scala.util.Random(4)
    val all = Seq.fill(600)((if (r.nextBoolean()) "a" else "b", r.nextInt(990) / 100.0))
    val input = MemoryStream[(String, Double)]
    val stream = StreamingQuantiles.binCountsBy(
      input.toDF().toDF("grp", "value"), spec, Seq("grp"))
    val query = stream.writeStream
      .format("memory")
      .queryName("sq_grp_state")
      .outputMode("complete")
      .start()
    try {
      input.addData(all.take(200)); query.processAllAvailable()
      input.addData(all.drop(200)); query.processAllAvailable()
      val streamState = spark.table("sq_grp_state")
      val batchState = StreamingQuantiles.binCountsBy(all.toDF("grp", "value"), spec, Seq("grp"))
      assert(streamState.except(batchState).isEmpty && batchState.except(streamState).isEmpty)
      val sc = StreamingQuantiles.cutsFromStateBy(streamState, spec, 4, Seq("grp")).collect()
      val bc = StreamingQuantiles.cutsFromStateBy(batchState, spec, 4, Seq("grp")).collect()
      assert(sc.toSeq == bc.toSeq && sc.length == 6, "3 cuts per group, identical from either state")
    } finally query.stop()
  }

  test("streaming cut intervals bracket the exact batch ntile cuts, any k") {
    for (k <- Seq(2, 3, 5, 10); seed <- Seq(2, 3)) {
      val vals = sample(seed, 500 + seed * 37)
      val state = StreamingQuantiles.binCounts(vals.toDF("value"), spec)
      val cuts = StreamingQuantiles.cutsFromState(state, spec, k).collect()
      assert(cuts.length == k - 1, s"k=$k: one cut per boundary")
      // exact ntile boundary values by definition: the value at the
      // boundary rank in ascending order (quantized domain, like the state)
      val sorted = vals
        .map(v => math.floor(v * 100) / 100.0) // value at bin-code resolution
        .sorted
      val n = sorted.length
      cuts.foreach { r =>
        val j = r.getInt(0)
        val t = ((n / k) * j + math.min(j, n % k)).toInt
        val exact = sorted(t - 1)
        val (lo, hi) = (r.getDouble(3), r.getDouble(4))
        assert(
          exact >= lo - 1e-9 && exact <= hi + 1e-9,
          s"k=$k j=$j: exact cut $exact outside streaming interval [$lo, $hi]")
        assert(r.getLong(1) == t, s"boundary rank must be the ntile rank")
      }
    }
  }

  test("cut readouts on degenerate inputs: hist_cut_bounds and group_cut_bounds pinned to DuckDB") {
    import org.apache.spark.sql.Row
    val inf = Double.PositiveInfinity
    // (j, boundary_rank, bin, err_lo, err_hi) as DuckDB 1.0.0 returns them
    // for each query's oracle SQL over the same rows
    def cuts(ranks: Seq[Long], bin: Int): Seq[Row] =
      ranks.zipWithIndex.map { case (t, i) => Row(i + 1, t, bin, bin / 100.0, (bin + 1) / 100.0) }
    val values: Seq[(String, Seq[java.lang.Double], Seq[Row])] = Seq(
      ("empty", Seq.empty, Seq.empty),
      ("all-null", Seq(null, Double.NaN, null), Seq.empty),
      ("one row", Seq(7.0), cuts(Seq.fill(9)(1L), 700)),
      ("all-equal", Seq.fill(5)(2.5), cuts(Seq(1L, 2L, 3L, 4L, 5L, 5L, 5L, 5L, 5L), 250)))
    for ((name, vs, want) <- values) {
      val df = vs.map(v => Tuple1(Option(v).map(_.doubleValue))).toDF("q")
      assert(CoreQueries.cutBounds(df, "q").collect().toSeq == want, s"hist_cut_bounds, $name")
    }
    val events: Seq[(String, Seq[(String, java.lang.Double)], Seq[Row])] = Seq(
      ("empty", Seq.empty, Seq.empty),
      ("all-null", Seq(("a", null), ("b", Double.NaN)), Seq.empty),
      ("one row", Seq(("a", 7.0)), cuts(Seq(1L, 1L, 1L), 700).map(r => Row.fromSeq("a" +: r.toSeq))),
      ("all-equal", Seq.fill(3)(("a", 2.5: java.lang.Double)) ++ Seq.fill(2)(("b", 2.5: java.lang.Double)),
        cuts(Seq(1L, 2L, 3L), 250).map(r => Row.fromSeq("a" +: r.toSeq)) ++
          cuts(Seq(1L, 2L, 2L), 250).map(r => Row.fromSeq("b" +: r.toSeq))))
    for ((name, es, want) <- events) {
      val df = es.map { case (t, v) => (t, Option(v).map(_.doubleValue)) }.toDF("event_type", "value")
      assert(ProfileQueries.groupCutBounds(df).collect().toSeq == want, s"group_cut_bounds, $name")
    }
    // ±Inf has no bin code: derive names it, where DuckDB's cast fails
    for (v <- Seq(inf, -inf)) {
      val e = intercept[IllegalArgumentException](
        CoreQueries.cutBounds(Seq(1.0, v).toDF("q"), "q").collect())
      assert(e.getMessage.contains("Infinity"), e.getMessage)
      val g = intercept[IllegalArgumentException](
        ProfileQueries.groupCutBounds(Seq(("a", 1.0), ("b", v)).toDF("event_type", "value")).collect())
      assert(g.getMessage.contains("Infinity"), g.getMessage)
    }
  }
}
