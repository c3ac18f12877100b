package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Time-series smoothing over keyed event streams.
  *
  * EWMA is inherently a sequential recurrence; distributed engines express
  * it as a FINITE-lookback weighted window instead, which converges to the
  * infinite recurrence geometrically (with α = 1/2 the truncation error
  * after K lags is 2^-K of the oldest contribution — at K = 8 under 0.4 %,
  * and exactly zero for series shorter than K).
  *
  * Determinism contract: α is fixed at 1/2 so the lag-j weight is the
  * dyadic 2^-j. Values enter as integer cents (`trunc(value·100)`, the
  * same quantization `ab_test` uses) and each weighted term is scaled by
  * 2^(K-1-j), making numerator and denominator exact BIGINTs; the one
  * float in the whole pipeline is the final division, which IEEE rounds
  * identically in Spark and DuckDB.
  *
  * Scale shape: one window partitioned by `user_id` — millions of small
  * partitions, no global sort, no driver state. The K-lag frame is O(1)
  * state per row regardless of series length, so the plan survives any
  * corpus size; the only shuffle is the hash partition on the key.
  */
object TimeSeriesOps {

  /** Per-user truncated-EWMA readout: each user's latest smoothed value
    * (cents) next to the raw latest value, with the user's event count.
    *
    * Output: `(user_id, n_events, last_cents, ewma_cents)` ordered by
    * `user_id`; `ewma_cents = round(num/den, 6)` where
    * `num = Σ_j lag_j(cents)·2^(K-1-j)`, `den = Σ_j present(j)·2^(K-1-j)`.
    */
  def ewmaLast(events: DataFrame, lookback: Int = 8): DataFrame = {
    require(lookback >= 1 && lookback <= 62, "lookback must fit a Long shift")
    val base = events
      .filter(col("value").isNotNull && !isnan(col("value")))
      .select(
        col("user_id"),
        col("event_id"),
        col("ts_us"),
        expr("CAST(value * 100.0 AS BIGINT)").as("cents"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
    val weightOf = (j: Int) => lit(1L << (lookback - 1 - j))
    val lags = (0 until lookback).map(j => lag(col("cents"), j).over(w).as(s"_l$j"))
    val withLags = base.select(col("user_id") +: col("ts_us") +: col("event_id") +: lags: _*)
    val num = (0 until lookback)
      .map(j => when(col(s"_l$j").isNotNull, col(s"_l$j") * weightOf(j)).otherwise(lit(0L)))
      .reduceLeft(_ + _)
    val den = (0 until lookback)
      .map(j => when(col(s"_l$j").isNotNull, weightOf(j)).otherwise(lit(0L)))
      .reduceLeft(_ + _)
    val wLast = Window
      .partitionBy(col("user_id"))
      .orderBy(col("ts_us").desc, col("event_id").desc)
    withLags
      .withColumn("_num", num)
      .withColumn("_den", den)
      .withColumn("_rn", row_number().over(wLast))
      .withColumn("_n", count(lit(1)).over(Window.partitionBy(col("user_id"))))
      .filter(col("_rn") === 1)
      .select(
        col("user_id"),
        col("_n").as("n_events"),
        col("_l0").as("last_cents"),
        round(col("_num").cast("double") / col("_den").cast("double"), 6)
          .as("ewma_cents"))
      .orderBy(col("user_id"))
  }

  /** Holt-style linear forecast off the daily revenue series: LEVEL is
    * the truncated EWMA of the last `lookback` daily totals, TREND the
    * truncated EWMA of the last `lookback` day-over-day differences, and
    * the h-step forecast is `level + (c + h)·trend` for h = 1..`horizon`
    * — the double-exponential-smoothing readout re-expressed as two
    * finite dyadic windows. `c = Σ_j w_j·j / Σ_j w_j` (an exact dyadic
    * rational, [[centerOffset]]) is the window's center of mass: the
    * weighted average of lagged values sits `c` days behind the series
    * head, so the drift correction makes the forecast EXACT on any
    * linear series (pinned in TimeSeriesSpec) instead of lagging it by
    * ~2 slopes.
    *
    * Exactness contract as [[ewmaLast]]: all numerators/denominators
    * are BIGINT; floats appear only in the final projection, evaluated
    * in one fixed order. Scale shape: one keyed aggregation reduces the
    * corpus to the bounded day grid; every window runs over that grid;
    * the horizon explode emits `horizon` rows. Output:
    * `(h, level_c, trend_c, forecast_c)` ordered by `h`.
    */
  /** Center of mass of the dyadic lag window `startJ .. startJ+K−1`
    * with weights `2^(K−1−(j−startJ))`: `(num, den)` exact integers —
    * e.g. lags 0..7 → (247, 255), lags 1..8 → (502, 255).
    */
  def centerOffset(lookback: Int, startJ: Int): (Long, Long) = {
    val terms = (0 until lookback).map(i => (1L << (lookback - 1 - i)) * (startJ + i))
    (terms.sum, (1L << lookback) - 1L)
  }

  def holtForecast(events: DataFrame, lookback: Int = 8, horizon: Int = 7): DataFrame = {
    require(lookback >= 1 && lookback <= 62, "lookback must fit a Long shift")
    val (cNum, cDen) = centerOffset(lookback, startJ = 0)
    val daily = events
      .filter(col("value").isNotNull && !isnan(col("value")))
      .groupBy(date_trunc("day", col("ts")).as("day"))
      .agg(sum(expr("CAST(value * 100.0 AS BIGINT)")).as("rev_c"))
    val w = Window.orderBy(col("day")) // bounded day grid — decile pattern
    val weightOf = (j: Int) => lit(1L << (lookback - 1 - j))
    val withDiff = daily.withColumn("diff_c", col("rev_c") - lag(col("rev_c"), 1).over(w))
    val lagsL = (0 until lookback).map(j => lag(col("rev_c"), j).over(w).as(s"_lv$j"))
    val lagsT = (0 until lookback).map(j => lag(col("diff_c"), j).over(w).as(s"_tr$j"))
    val lagged = withDiff.select(col("day") +: (lagsL ++ lagsT): _*)
    def pair(prefix: String) = {
      val num = (0 until lookback)
        .map(j => when(col(s"$prefix$j").isNotNull, col(s"$prefix$j") * weightOf(j)).otherwise(lit(0L)))
        .reduceLeft(_ + _)
      val den = (0 until lookback)
        .map(j => when(col(s"$prefix$j").isNotNull, weightOf(j)).otherwise(lit(0L)))
        .reduceLeft(_ + _)
      (num, den)
    }
    val (numL, denL) = pair("_lv")
    val (numT, denT) = pair("_tr")
    val wLast = Window.orderBy(col("day").desc)
    val last = lagged
      .withColumn("_rn", row_number().over(wLast))
      .filter(col("_rn") === 1)
      .select(
        numL.cast("double").as("num_l"), denL.cast("double").as("den_l"),
        numT.cast("double").as("num_t"), denT.cast("double").as("den_t"))
    last
      .select(
        explode(sequence(lit(1), lit(horizon))).as("h"),
        col("num_l"), col("den_l"), col("num_t"), col("den_t"))
      .select(
        col("h"),
        round(col("num_l") / col("den_l"), 6).as("level_c"),
        when(col("den_t") > 0.0, round(col("num_t") / col("den_t"), 6)).as("trend_c"),
        round(
          col("num_l") / col("den_l") +
            (lit(cNum.toDouble) / lit(cDen.toDouble) + col("h").cast("double")) *
              when(col("den_t") > 0.0, col("num_t") / col("den_t")).otherwise(lit(0.0)),
          6).as("forecast_c"))
      .orderBy(col("h"))
  }

  /** Holt forecast with an additive weekday seasonal (the Holt–Winters
    * shape on the bounded day grid): the [[holtForecast]] level+trend
    * line plus the MA7-detrended mean weekday deviation (the
    * `seasonal_decompose` index, kept in cents) for each target day's
    * ISO weekday. Horizon days whose weekday never completed a centered
    * 7-day window fall back to the unadjusted line (index 0).
    *
    * Same exactness/scale contract as the parts: integer cents
    * everywhere, one keyed reduction to the day grid, windows over it,
    * a 7-row broadcast index join. Output:
    * `(h, iso_dow, forecast_c, seasonal_c, forecast_seasonal_c)`.
    */
  def holtSeasonalForecast(
      events: DataFrame,
      lookback: Int = 8,
      horizon: Int = 7): DataFrame = {
    require(lookback >= 1 && lookback <= 62, "lookback must fit a Long shift")
    val (cNum, cDen) = centerOffset(lookback, startJ = 0)
    val daily = events
      .filter(col("value").isNotNull && !isnan(col("value")))
      .groupBy(col("ts").cast("date").as("day"))
      .agg(sum(expr("CAST(value * 100.0 AS BIGINT)")).as("rev_c"))
    val w = Window.orderBy(col("day")) // bounded day grid
    val weightOf = (j: Int) => lit(1L << (lookback - 1 - j))
    val withDiff = daily.withColumn("diff_c", col("rev_c") - lag(col("rev_c"), 1).over(w))
    val lagsL = (0 until lookback).map(j => lag(col("rev_c"), j).over(w).as(s"_lv$j"))
    val lagsT = (0 until lookback).map(j => lag(col("diff_c"), j).over(w).as(s"_tr$j"))
    val lagged = withDiff.select(col("day") +: (lagsL ++ lagsT): _*)
    def pair(prefix: String) = {
      val num = (0 until lookback)
        .map(j => when(col(s"$prefix$j").isNotNull, col(s"$prefix$j") * weightOf(j)).otherwise(lit(0L)))
        .reduceLeft(_ + _)
      val den = (0 until lookback)
        .map(j => when(col(s"$prefix$j").isNotNull, weightOf(j)).otherwise(lit(0L)))
        .reduceLeft(_ + _)
      (num, den)
    }
    val (numL, denL) = pair("_lv")
    val (numT, denT) = pair("_tr")
    val last = lagged
      .withColumn("_rn", row_number().over(Window.orderBy(col("day").desc)))
      .filter(col("_rn") === 1)
      .select(
        col("day").as("last_day"),
        numL.cast("double").as("num_l"), denL.cast("double").as("den_l"),
        numT.cast("double").as("num_t"), denT.cast("double").as("den_t"))
    val w7 = Window.orderBy(col("day")).rowsBetween(-3, 3)
    val idx = daily
      .select(
        (weekday(col("day")) + lit(1)).as("iso_dow"),
        (lit(7L) * col("rev_c") - sum(col("rev_c")).over(w7)).as("d7"),
        count(lit(1)).over(w7).as("c7"))
      .filter(col("c7") === 7)
      .groupBy(col("iso_dow"))
      .agg(count(lit(1)).as("n7"), sum(col("d7")).as("sd7"))
      .select(
        col("iso_dow"),
        (col("sd7").cast("double") / (col("n7").cast("double") * lit(7.0))).as("idx_c"))
    val fc = col("num_l") / col("den_l") +
      (lit(cNum.toDouble) / lit(cDen.toDouble) + col("h").cast("double")) *
        when(col("den_t") > 0.0, col("num_t") / col("den_t")).otherwise(lit(0.0))
    last
      .select(
        explode(sequence(lit(1), lit(horizon))).as("h"),
        col("last_day"), col("num_l"), col("den_l"), col("num_t"), col("den_t"))
      .withColumn("iso_dow", weekday(expr("date_add(last_day, h)")) + lit(1))
      .join(broadcast(idx), Seq("iso_dow"), "left")
      .select(
        col("h"),
        col("iso_dow"),
        round(fc, 6).as("forecast_c"),
        round(coalesce(col("idx_c"), lit(0.0)), 6).as("seasonal_c"),
        round(fc + coalesce(col("idx_c"), lit(0.0)), 6).as("forecast_seasonal_c"))
      .orderBy(col("h"))
  }

  /** Theil–Sen robust trend of the daily revenue series: the MEDIAN of
    * all pairwise slopes `(y_j − y_i)/(x_j − x_i)` over the day grid
    * (x = epoch days, so calendar gaps weight correctly), plus the
    * matching median-residual intercept — the outlier-resistant
    * complement to the OLS `volume_trend` (one corrupted day moves OLS
    * arbitrarily; Theil–Sen tolerates up to 29 % corruption).
    *
    * Determinism: slopes and residuals are nano-quantized
    * (`round(1e9·Δy/Δx)` BIGINT) before the order-statistic median
    * (lower median at even counts), so selection compares exact
    * integers. Scale shape: the corpus reduces to the BOUNDED day grid
    * first; the pairwise self-join is days² over that grid (a few
    * thousand rows for a year), never over raw events.
    *
    * Output: one row `(n_days, n_pairs, slope_nano, slope_c_per_day,
    * intercept_c)`.
    */
  def theilSen(events: DataFrame): DataFrame = {
    val daily0 = events
      .filter(col("value").isNotNull && !isnan(col("value")))
      .groupBy(date_trunc("day", col("ts")).as("day"))
      .agg(sum(expr("CAST(value * 100.0 AS BIGINT)")).as("y"))
      .select(expr("unix_micros(day) DIV 86400000000").as("xd"), col("y"))
    // rebase x to days-since-first so the intercept sits at the series
    // start and slope_nano·x stays far from int64 range
    val daily = daily0
      .withColumn("x", col("xd") - min(col("xd")).over(Window.partitionBy()))
      .drop("xd")
    val a = daily.select(col("x").as("x1"), col("y").as("y1"))
    val b = daily.select(col("x").as("x2"), col("y").as("y2"))
    val pairs = a
      .join(broadcast(b), col("x1") < col("x2"))
      .select(
        round(
          (col("y2") - col("y1")).cast("double") / (col("x2") - col("x1")).cast("double")
            * lit(1000000000.0)).cast("bigint").as("s_nano"))
    val wS = Window.orderBy(col("s_nano").asc) // bounded: days² rows
    val slope = pairs
      .withColumn("rn", row_number().over(wS))
      .withColumn("m", count(lit(1)).over(Window.partitionBy()))
      .filter(col("rn") === expr("(m + 1) DIV 2"))
      .select(col("m").as("n_pairs"), col("s_nano").as("slope_nano"))
    val wR = Window.orderBy(col("r_nano").asc) // bounded: days rows
    val resid = daily
      .crossJoin(broadcast(slope))
      .select(
        col("n_pairs"), col("slope_nano"),
        (col("y") * lit(1000000000L) - col("slope_nano") * col("x")).as("r_nano"))
      .withColumn("rn", row_number().over(wR))
      .withColumn("n_days", count(lit(1)).over(Window.partitionBy()))
      .filter(col("rn") === expr("(n_days + 1) DIV 2"))
    resid.select(
      col("n_days"),
      col("n_pairs"),
      col("slope_nano"),
      round(col("slope_nano").cast("double") / lit(1e9), 6).as("slope_c_per_day"),
      round(col("r_nano").cast("double") / lit(1e9), 6).as("intercept_c"))
  }

  /** EWMA-band anomaly days: a day is anomalous when its revenue leaves
    * the `bandNum/bandDen`-scaled mean-absolute-deviation band around the
    * PRIOR days' truncated EWMA (both smoothers exclude the day under
    * test, so an outlier cannot defend itself by inflating its own
    * baseline). The level uses the dyadic [[ewmaLast]] arithmetic over
    * lags 1..`lookback`; the deviation scale is the plain mean |y −
    * level| over the same prior window.
    *
    * Float discipline: the flag is decided on CROSS-MULTIPLIED integers —
    * `|y·den − num|·n_prior·bandDen > (Σ_j |y_j·den − num|)·bandNum`
    * (each side carries exactly one ×den factor, so the level division
    * never happens) — the anomaly/normal verdict can never flip on an
    * ulp. DECIMAL(38,0) carries the products (y·den alone is ~2^54).
    *
    * Scale shape: one keyed reduction to the bounded day grid, one
    * ordered window over it. Output: anomalous days
    * `(day, rev_c, ewma_prev_c, dev_prev_c)` ordered by day.
    */
  def ewmaAnomalies(
      events: DataFrame,
      lookback: Int = 8,
      bandNum: Long = 3L,
      bandDen: Long = 1L,
      minPrior: Int = 3): DataFrame = {
    require(lookback >= 1 && lookback <= 20, "lookback bounded by the dec38 product budget")
    val daily = events
      .filter(col("value").isNotNull && !isnan(col("value")))
      .groupBy(date_trunc("day", col("ts")).as("day"))
      .agg(sum(expr("CAST(value * 100.0 AS BIGINT)")).as("y"))
    val w = Window.orderBy(col("day")) // bounded day grid
    val weightOf = (j: Int) => lit(1L << (lookback - j)) // lags 1..K
    val lags = (1 to lookback).map(j => lag(col("y"), j).over(w).as(s"_p$j"))
    val lagged = daily.select(col("day") +: col("y") +: lags: _*)
    val num = (1 to lookback)
      .map(j => when(col(s"_p$j").isNotNull, col(s"_p$j") * weightOf(j)).otherwise(lit(0L)))
      .reduceLeft(_ + _)
    val den = (1 to lookback)
      .map(j => when(col(s"_p$j").isNotNull, weightOf(j)).otherwise(lit(0L)))
      .reduceLeft(_ + _)
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val base = lagged
      .withColumn("_num", num)
      .withColumn("_den", den)
      .filter(col("_den") > 0L) // first day has no prior baseline
    // mean |y_prior − level| kept ×den·n (never divided): the flag
    // compares |y·den − num|·n·bandDen > Σ_j|y_j·den − num|·bandNum
    val devSum = (1 to lookback)
      .map(j =>
        when(
          col(s"_p$j").isNotNull,
          abs(dec(col(s"_p$j")) * dec(col("_den")) - dec(col("_num")))).otherwise(dec(lit(0L))))
      .reduceLeft(_ + _)
    val nPrior = (1 to lookback)
      .map(j => when(col(s"_p$j").isNotNull, 1L).otherwise(0L))
      .reduceLeft(_ + _)
    base
      .withColumn("_dev_sum", devSum)
      .withColumn("_n_prior", nPrior)
      // a 1-2 day baseline has a degenerate (near-zero) MAD — withhold
      // the verdict until minPrior days back the band
      .filter(col("_n_prior") >= minPrior.toLong)
      .filter(
        abs(dec(col("y")) * dec(col("_den")) - dec(col("_num"))) * dec(col("_n_prior")) *
          dec(lit(bandDen)) >
          col("_dev_sum") * dec(lit(bandNum)))
      .select(
        col("day"),
        col("y").as("rev_c"),
        round(col("_num").cast("double") / col("_den").cast("double"), 6).as("ewma_prev_c"),
        round(
          col("_dev_sum").cast("double") /
            (col("_den").cast("double") * col("_n_prior").cast("double")),
          6).as("dev_prev_c"))
      .orderBy(col("day"))
  }

  /** Walk-forward 1-step forecast backtest over the daily revenue grid:
    * every day with ≥ `season` prior rows is forecast three ways using
    * ONLY its prior days — naive (yesterday), seasonal-naive (`season`
    * rows back), and Holt (prior-window dyadic level + trend, the
    * [[holtForecast]] arithmetic shifted one day) — and scored by
    * absolute error. The headline is MASE (MAE ratio vs naive): < 1
    * means the model earns its keep, the standard go/no-go gate before
    * a forecast ships.
    *
    * Errors are nano-quantized per day (`round(1e9·|y − f|)` BIGINT) so
    * the cross-day sums are exact; the two MAE divisions and the MASE
    * ratio are the only floats. One keyed reduction to the bounded day
    * grid; every window runs over it.
    *
    * Output: one row `(n_eval, mae_naive_c, mae_seasonal_c, mae_holt_c,
    * mase_holt, mase_seasonal)`.
    */
  def forecastBacktest(events: DataFrame, lookback: Int = 8, season: Int = 7): DataFrame = {
    require(lookback >= 1 && lookback <= 62, "lookback must fit a Long shift")
    val daily = events
      .filter(col("value").isNotNull && !isnan(col("value")))
      .groupBy(date_trunc("day", col("ts")).as("day"))
      .agg(sum(expr("CAST(value * 100.0 AS BIGINT)")).as("y"))
    val w = Window.orderBy(col("day")) // bounded day grid
    val weightOf = (j: Int) => lit(1L << (lookback - j)) // prior lags 1..K
    val withDiff = daily.withColumn("d1", col("y") - lag(col("y"), 1).over(w))
    val lagsY = (1 to lookback).map(j => lag(col("y"), j).over(w).as(s"_y$j"))
    val lagsD = (1 to lookback).map(j => lag(col("d1"), j).over(w).as(s"_d$j"))
    val seas = lag(col("y"), season).over(w).as("_ys")
    val lagged = withDiff.select(col("day") +: col("y") +: seas +: (lagsY ++ lagsD): _*)
    def pair(prefix: String) = {
      val num = (1 to lookback)
        .map(j => when(col(s"$prefix$j").isNotNull, col(s"$prefix$j") * weightOf(j)).otherwise(lit(0L)))
        .reduceLeft(_ + _)
      val den = (1 to lookback)
        .map(j => when(col(s"$prefix$j").isNotNull, weightOf(j)).otherwise(lit(0L)))
        .reduceLeft(_ + _)
      (num, den)
    }
    val (numL, denL) = pair("_y")
    val (numT, denT) = pair("_d")
    // the prior-lag level sits `c` days behind the forecast target (lags
    // start at 1, so c already includes the 1-step gap); the `c·trend`
    // drift correction makes the forecast exact on linear series
    val (cNum, cDen) = centerOffset(lookback, startJ = 1)
    val holtF = numL.cast("double") / denL.cast("double") +
      (lit(cNum.toDouble) / lit(cDen.toDouble)) *
        when(denT > 0L, numT.cast("double") / denT.cast("double")).otherwise(lit(0.0))
    val nano = (e: Column) => round(e * lit(1000000000.0)).cast("bigint")
    val scoredDays = lagged
      .filter(col("_ys").isNotNull) // ≥ season prior rows → all forecasts defined
      .select(
        nano(abs((col("y") - col("_y1")).cast("double"))).as("e_naive"),
        nano(abs((col("y") - col("_ys")).cast("double"))).as("e_seasonal"),
        nano(abs(col("y").cast("double") - holtF)).as("e_holt"))
    val dbl = (c: Column) => c.cast("double")
    scoredDays
      .agg(
        count(lit(1)).as("n_eval"),
        sum(col("e_naive")).as("s_naive"),
        sum(col("e_seasonal")).as("s_seasonal"),
        sum(col("e_holt")).as("s_holt"))
      .select(
        col("n_eval"),
        round(dbl(col("s_naive")) / (dbl(col("n_eval")) * lit(1e9)), 6).as("mae_naive_c"),
        round(dbl(col("s_seasonal")) / (dbl(col("n_eval")) * lit(1e9)), 6).as("mae_seasonal_c"),
        round(dbl(col("s_holt")) / (dbl(col("n_eval")) * lit(1e9)), 6).as("mae_holt_c"),
        when(col("s_naive") > 0L, round(dbl(col("s_holt")) / dbl(col("s_naive")), 6))
          .as("mase_holt"),
        when(col("s_naive") > 0L, round(dbl(col("s_seasonal")) / dbl(col("s_naive")), 6))
          .as("mase_seasonal"))
  }
}
