package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Queries over the `events` stream-analog table: time-windowed binned
  * histogram (the batch-equivalent of graft.streaming.StreamingHistogram)
  * and semi-structured JSON extraction from `props`.
  */
object EventsQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Two-sample A/B z-test over a deterministic user split (user_id
    // parity): Welch z from exact integer cents sums — the experiment
    // readout an events pipeline serves. One map-side-combinable
    // aggregation (conditional sums, no shuffle beyond the 1-row
    // combine); every float enters only in the final 1-row projection,
    // in the SAME expression order as the oracle.
    "ab_test" -> ((s, dir) => {
      val c = (col("value") * lit(100.0)).cast("bigint")
      val isA = pmod(col("user_id"), lit(2L)) === 0L
      val agg = Tables
        .events(s, dir)
        .filter(col("value").isNotNull && !isnan(col("value")))
        .select(when(isA, 1L).otherwise(0L).as("a"), c.as("c"))
        .agg(
          sum(col("a")).as("n_a"),
          sum(lit(1L) - col("a")).as("n_b"),
          sum(col("a") * col("c")).as("s_a"),
          sum((lit(1L) - col("a")) * col("c")).as("s_b"),
          sum(col("a") * col("c") * col("c")).as("q_a"),
          sum((lit(1L) - col("a")) * col("c") * col("c")).as("q_b"))
      val dbl = (name: String) => col(name).cast("double")
      val va = (dbl("q_a") - dbl("s_a") * dbl("s_a") / dbl("n_a")) / (dbl("n_a") - lit(1.0))
      val vb = (dbl("q_b") - dbl("s_b") * dbl("s_b") / dbl("n_b")) / (dbl("n_b") - lit(1.0))
      val z = (dbl("s_a") / dbl("n_a") - dbl("s_b") / dbl("n_b")) /
        sqrt(va / dbl("n_a") + vb / dbl("n_b"))
      agg.select(
        col("n_a"), col("n_b"),
        round(dbl("s_a") / dbl("n_a"), 6).as("mean_a_c"),
        round(dbl("s_b") / dbl("n_b"), 6).as("mean_b_c"),
        round(z, 6).as("z_score"),
        (abs(z) > lit(1.96)).as("significant"))
    }),
    // Group-sequential (O'Brien–Fleming) readout over the same ab_test
    // split — the anytime-valid decision layer (round-12 verdict #6):
    // 5 planned looks over the experiment's time range, cumulative
    // Welch z per look vs the z_final·sqrt(K/k) boundary, first
    // crossing = the stop decision. The state is the streaming monitor's
    // per-(look, variant) mergeable sums (StreamingSequential.lookStats
    // — batch≡stream pinned in StreamingSpec); the readout windows run
    // over the ≤5-row aggregated relation.
    "ab_sequential" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val bounds = ev.agg(min(col("ts_us")).as("t0"), max(col("ts_us")).as("t1"))
      val looked = ev
        .crossJoin(broadcast(bounds))
        .select(
          col("user_id"), col("value"),
          graft.streaming.StreamingSequential
            .lookOf(col("ts_us"), col("t0"), col("t1"), 5).as("lk"))
      val state = graft.streaming.StreamingSequential.lookStats(looked, col("lk"))
      graft.streaming.StreamingSequential.obfReadout(state, looks = 5, zFinal = 2.04)
    }),
    // Always-valid (mSPRT) twin of ab_sequential over the SAME look
    // state: mixture likelihood ratio per look, running-min always-valid
    // p — valid at ANY look, no look-count commitment (tau = 50 cents is
    // the declared mixture scale). ln/exp land only in the final
    // projection, rounded to 6 decimals on both sides.
    "ab_msprt" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val bounds = ev.agg(min(col("ts_us")).as("t0"), max(col("ts_us")).as("t1"))
      val looked = ev
        .crossJoin(broadcast(bounds))
        .select(
          col("user_id"), col("value"),
          graft.streaming.StreamingSequential
            .lookOf(col("ts_us"), col("t0"), col("t1"), 5).as("lk"))
      val state = graft.streaming.StreamingSequential.lookStats(looked, col("lk"))
      graft.streaming.StreamingSequential.msprtReadout(state, tauCents = 50.0)
    }),
    // Mondrian twins: one sequential monitor per event_type segment from
    // ONE grouped state — the per-segment experiment dashboard (grouped
    // windows ride the ≤ groups·looks aggregated relation).
    "ab_sequential_by" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val bounds = ev.agg(min(col("ts_us")).as("t0"), max(col("ts_us")).as("t1"))
      val looked = ev
        .crossJoin(broadcast(bounds))
        .select(
          col("event_type").as("grp"), col("user_id"), col("value"),
          graft.streaming.StreamingSequential
            .lookOf(col("ts_us"), col("t0"), col("t1"), 5).as("lk"))
      graft.streaming.StreamingSequential.obfReadoutBy(
        graft.streaming.StreamingSequential.lookStatsBy(looked, col("lk")),
        looks = 5, zFinal = 2.04)
    }),
    "ab_msprt_by" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val bounds = ev.agg(min(col("ts_us")).as("t0"), max(col("ts_us")).as("t1"))
      val looked = ev
        .crossJoin(broadcast(bounds))
        .select(
          col("event_type").as("grp"), col("user_id"), col("value"),
          graft.streaming.StreamingSequential
            .lookOf(col("ts_us"), col("t0"), col("t1"), 5).as("lk"))
      graft.streaming.StreamingSequential.msprtReadoutBy(
        graft.streaming.StreamingSequential.lookStatsBy(looked, col("lk")),
        tauCents = 50.0)
    }),
    // Tumbling-window histogram: hour bucket × width-10 value bin. The
    // identical groupBy runs incrementally under Structured Streaming
    // (StreamingHistogram.windowed); counts merge by A4 associativity.
    "events_hourly_hist" -> ((s, dir) =>
      Tables
        .events(s, dir)
        .filter(col("value").isNotNull && !isnan(col("value")))
        .select(
          date_trunc("hour", col("ts")).as("hour"),
          (col("value") / lit(10.0)).cast("int").as("bin"))
        .groupBy(col("hour"), col("bin"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("hour"), col("bin"))),
    // JSON prop extraction + per-type aggregate (counts and integer sums
    // are exact; avg is a single division).
    "events_json_stats" -> ((s, dir) =>
      Tables
        .events(s, dir)
        .select(col("event_type"), get_json_object(col("props"), "$.k").cast("int").as("k"))
        .groupBy(col("event_type"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("k")).as("sum_k"),
          min(col("k")).as("min_k"),
          max(col("k")).as("max_k"),
          round(sum(col("k")).cast("double") / count(lit(1)).cast("double"), 6).as("avg_k"))
        .orderBy(col("event_type"))),
    // Gap-based sessionization (30-minute gap), batch window-function form;
    // the stateful streaming twin is SessionOps.sessionizeStateful
    // (asserted equal in SessionSpec).
    "events_sessions" -> ((s, dir) =>
      graft.operators.SessionOps.sessionsBatch(Tables.events(s, dir), 1800000000L)),
    // Path analysis: top session-opening event-type sequences (first 3
    // events per 30-min session, same total order as sessionsBatch) —
    // the "how do sessions start" report. The rn ≤ 3 prune keeps the
    // path aggregation input at ≤ 3 rows per session; array_sort on
    // (rn, type) structs makes the collected order deterministic under
    // any partitioning.
    "funnel_paths" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
      // round 15: same keyed-respread rationale as sessionsBatch — the
      // two windows, the rn≤3 prune and the path aggregate all cluster by
      // user_id, and AQE folded the whole chain onto one 0.4 s task at
      // bench scale. Identity on rows; no-op at scale. Re-measured on a
      // quiet host at round close: removing it is a wash (0.89-1.15 vs
      // 0.85-1.05 warm), so the 32-task kernel shape stays.
      val sess = graft.core.Spread
        .respreadKeyed(
          Tables.events(s, dir)
            .select(col("user_id"), col("event_id"), col("ts_us"), col("event_type")),
          Seq(col("user_id")),
          "funnelPaths.spread")
        .withColumn("new_sess",
          when(col("ts_us") - lag(col("ts_us"), 1).over(w) > lit(1800000000L), 1)
            .otherwise(0))
        .withColumn("sess_id",
          sum(col("new_sess")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val w2 = Window.partitionBy(col("user_id"), col("sess_id"))
        .orderBy(col("ts_us"), col("event_id"))
      sess
        .withColumn("rn", row_number().over(w2))
        .filter(col("rn") <= 3)
        .groupBy(col("user_id"), col("sess_id"))
        .agg(
          expr("array_join(transform(array_sort(collect_list(struct(rn, event_type)))," +
            " x -> x.event_type), '>')").as("path"))
        .groupBy(col("path"))
        .agg(count(lit(1)).as("n_sessions"))
        .orderBy(col("n_sessions").desc, col("path"))
        .limit(20)
    }),
    // Backward as-of join: each event enriched with the most recent prior
    // purchase value of the same user (AsOfOps — one shuffle, no
    // inequality join).
    "events_asof" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val purchases = ev
        .filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts_us"), col("value").as("last_purchase_value"))
      graft.operators.AsOfOps
        .asofJoinBackward(
          ev.select(col("event_id"), col("user_id"), col("ts_us")),
          purchases,
          "user_id",
          "ts_us",
          "last_purchase_value")
        .select(col("event_id"), col("user_id"), col("ts_us"), col("last_purchase_value"))
        .orderBy(col("event_id"))
    }),
    // Bucketed range join: error events (points) matched into the time
    // intervals of a session subset — per-session error counts. The
    // interval join runs as RangeJoinOps' grid-bucketed equi-join, not a
    // BNLJ over points × intervals.
    "events_range_join" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val sessions = graft.operators.SessionOps
        .sessionsBatch(ev, 1800000000L)
        .filter(pmod(col("user_id"), lit(20L)) === 0)
        .select(col("user_id"), col("sess_id"), col("start_us"), col("end_us"))
      val errors = ev.filter(col("event_type") === "error").select(col("ts_us"))
      val matched = graft.operators.RangeJoinOps
        .joinPointsToIntervals(errors, sessions, "ts_us", "start_us", "end_us", 1800000000L)
        .groupBy(col("user_id"), col("sess_id"))
        .agg(count(lit(1)).as("n_err"))
      sessions
        .join(matched, Seq("user_id", "sess_id"), "left")
        .select(
          col("user_id"),
          col("sess_id"),
          coalesce(col("n_err"), lit(0L)).as("n_errors"))
        .orderBy(col("user_id"), col("sess_id"))
    }),
    // Staged funnel: view → click → purchase within 24h steps.
    "events_funnel" -> ((s, dir) => {
      val ev = Tables
        .events(s, dir)
        .select(col("user_id"), col("event_type"), col("ts_us"))
      graft.operators.FunnelOps.funnelSummary(
        ev,
        "user_id",
        "ts_us",
        Seq(
          col("event_type") === "view",
          col("event_type") === "click",
          col("event_type") === "purchase"),
        maxGap = 86400000000L) // 24h in microseconds
    }),
    // Funnel LATENCY, not just conversion: exact rank-interpolated
    // quartiles (+p90) of the per-user stage-to-stage lags for funnel
    // completers — "how long does view→purchase actually take". Reuses
    // FunnelOps.stageTimes and the groupQuantiles bounded-rank machinery.
    "conversion_lag" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("user_id"), col("event_type"), col("ts_us"))
      val st = graft.operators.FunnelOps.stageTimes(
        ev, "user_id", "ts_us",
        Seq(col("event_type") === "view", col("event_type") === "click",
          col("event_type") === "purchase"),
        maxGap = 86400000000L)
      val j = st(0).join(st(1), Seq("user_id")).join(st(2), Seq("user_id"))
      val lags = j.selectExpr(
        """stack(3,
          |  'click_to_purchase', (t3 - t2) / 1e6,
          |  'view_to_click', (t2 - t1) / 1e6,
          |  'view_to_purchase', (t3 - t1) / 1e6) AS (stage, lag_s)""".stripMargin)
      graft.operators.ProfileOps.groupQuantiles(lags, "stage", "lag_s")
    }),
    // Weekly cohort retention — the standard activation matrix: users are
    // cohorted by their first active week; each (cohort, week-offset) cell
    // counts users still active. Scale shape: ONE scan → distinct
    // (user, week) cells (map-side combine collapses the event stream to
    // users×weeks rows) → the cohort week as a window-min over the same
    // relation (no second lineage of the scan — a first-draft
    // groupBy+join-back evaluated the scan three times, the hist_deciles
    // anti-pattern) → per-cell counts. Cohort sizes fall out for free:
    // every user is active in their first week, so the offset-0 cell IS
    // the cohort size — a self-join of the tiny cells relation, which AQE
    // broadcasts. Week offsets are exact integer arithmetic on
    // truncated-timestamp seconds (differences are whole multiples of
    // 604800), so the cross-engine compare is bit-exact.
    "events_retention" -> ((s, dir) => {
      val wUser = Window.partitionBy(col("user_id"))
      // persisted: the cells relation (≤ weeks² rows) feeds both the main
      // side and the cohort-size side — uncached, each would re-evaluate
      // the scan+distinct+window lineage (same rule as shingleRows)
      val cells = graft.operators.DedupOps.registerCache(
        Tables
          .events(s, dir)
          .select(col("user_id"), date_trunc("week", col("ts")).as("wk"))
          .distinct()
          .withColumn("cohort_week", min(col("wk")).over(wUser))
          .select(
            col("cohort_week"),
            ((col("wk").cast("long") - col("cohort_week").cast("long")) / lit(604800L))
              .cast("long")
              .as("week_offset"))
          .groupBy(col("cohort_week"), col("week_offset"))
          .agg(count(lit(1)).as("n_users")) // rows upstream are distinct per (user, wk)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      val cohortSize = cells
        .filter(col("week_offset") === 0L)
        .select(col("cohort_week"), col("n_users").as("cohort_users"))
      cells
        .join(cohortSize, Seq("cohort_week"))
        .select(
          col("cohort_week"),
          col("week_offset"),
          col("n_users"),
          col("cohort_users"),
          round(col("n_users").cast("double") / col("cohort_users").cast("double"), 6)
            .as("retention"))
        .orderBy(col("cohort_week"), col("week_offset"))
    }),
    // Hourly volume anomalies per event type: hours whose count deviates
    // from the type's mean by more than 2 population standard deviations.
    // The 2σ gate is evaluated WITHOUT any float: |c−μ| > 2σ is squared
    // and scaled by n² to (c·n − Σc)² > 4·(n·Σc² − (Σc)²) — all-BIGINT
    // over exact count sums, so the flag can never flip on a cross-engine
    // sqrt/division ulp. (Exact while c·n < ~3·10⁹ — beyond that, hourly
    // counts would be pre-aggregated to coarser cells anyway.) Scale:
    // one keyed aggregation to hourly cells, a per-type stats aggregate
    // (rows = #types — broadcast), and a narrow filter.
    "events_anomaly" -> ((s, dir) => {
      val hourly = Tables
        .events(s, dir)
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hour"))
        .agg(count(lit(1)).as("cnt"))
      val stats = hourly
        .groupBy(col("event_type"))
        .agg(
          count(lit(1)).as("n_hours"),
          sum(col("cnt")).as("sum_c"),
          sum(col("cnt") * col("cnt")).as("sum_c2"))
      hourly
        .join(broadcast(stats), Seq("event_type"))
        .withColumn("dev_n", col("cnt") * col("n_hours") - col("sum_c"))
        .filter(
          col("dev_n") * col("dev_n") >
            lit(4L) * (col("n_hours") * col("sum_c2") - col("sum_c") * col("sum_c")))
        .select(
          col("event_type"),
          col("hour"),
          col("cnt"),
          round(col("sum_c").cast("double") / col("n_hours").cast("double"), 6)
            .as("mean_cnt"),
          when(col("dev_n") > 0, lit(1)).otherwise(lit(-1)).as("direction"))
        .orderBy(col("event_type"), col("hour"))
    }),
    // Hour × event-type count matrix via the DataFrame pivot API (explicit
    // value list — deterministic column set, no discovery pass). One
    // shuffle keyed by hour; the per-type conditional counts are map-side
    // partials.
    "events_pivot" -> ((s, dir) =>
      Tables
        .events(s, dir)
        .groupBy(date_trunc("hour", col("ts")).as("hour"))
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)))
        .select(
          col("hour"),
          coalesce(col("click"), lit(0L)).as("n_click"),
          coalesce(col("error"), lit(0L)).as("n_error"),
          coalesce(col("purchase"), lit(0L)).as("n_purchase"),
          coalesce(col("signup"), lit(0L)).as("n_signup"),
          coalesce(col("view"), lit(0L)).as("n_view"))
        .orderBy(col("hour"))),
    // Latest event per user (the dimension-snapshot pattern): arg-max via
    // a map-side-combinable max(struct) — one aggregation, no rank window
    // and no per-user sort; ties broken by (ts_us, event_id) inside the
    // struct ordering.
    "latest_events" -> ((s, dir) =>
      Tables
        .events(s, dir)
        .groupBy(col("user_id"))
        .agg(
          max(
            struct(col("ts_us"), col("event_id"), col("event_type"))).as("m"))
        .select(
          col("user_id"),
          col("m.ts_us").as("ts_us"),
          col("m.event_id").as("event_id"),
          col("m.event_type").as("event_type"))
        .orderBy(col("user_id"))),
    // CUBE over (event_type, hour-of-day): all four grouping sets — full
    // cells, both marginals, grand total — in ONE aggregation pass
    // (Spark expands the grouping sets before the shuffle; marginal NULLs
    // are labeled so they can't collide with data values).
    "events_cube" -> ((s, dir) =>
      Tables
        .events(s, dir)
        .select(col("event_type"), hour(col("ts")).as("hod"), col("user_id"))
        .cube(col("event_type"), col("hod"))
        .agg(count(lit(1)).as("n"), countDistinct(col("user_id")).as("n_users"))
        .select(
          coalesce(col("event_type"), lit("ALL")).as("event_type"),
          coalesce(col("hod"), lit(-1)).as("hod"),
          col("n"),
          col("n_users"))
        .orderBy(col("event_type"), col("hod"))),
    // First-order event-type transition counts (the Markov matrix of user
    // behavior): lag window per user, then a keyed count — the same
    // one-shuffle-per-user shape as sessionization.
    "events_transitions" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
      Tables
        .events(s, dir)
        .select(col("user_id"), col("event_id"), col("ts_us"), col("event_type"))
        .withColumn("prev_type", lag(col("event_type"), 1).over(w))
        .filter(col("prev_type").isNotNull)
        .groupBy(col("prev_type"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("prev_type"), col("event_type"))
    }),
    // Per-state predictability of the behavior Markov chain: Shannon
    // entropy (nats) of each state's next-event distribution + the modal
    // next event. Transition counts reuse the one-per-user lag-window
    // shuffle; the entropy sums are nano-log integers over the ≤ |types|²
    // transition relation — exact at any parallelism, float only in the
    // final division.
    // Entropy RATE of the event-type process: the state-frequency-weighted
    // mean of the per-state next-event entropies, Σ_{s,t} (n_st/N)·
    // ln(tot_s/n_st) — one scalar "how predictable is the stream", plus
    // the ln(|states|)-normalized form. Same integer-nano log sums over
    // the ≤ |types|² transition relation as transition_entropy.
    "entropy_rate" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
      val tc = Tables
        .events(s, dir)
        .select(col("user_id"), col("event_id"), col("ts_us"), col("event_type"))
        .withColumn("prev_type", lag(col("event_type"), 1).over(w))
        .filter(col("prev_type").isNotNull)
        .groupBy(col("prev_type"), col("event_type"))
        .agg(count(lit(1)).as("n"))
      val tot = tc.groupBy(col("prev_type")).agg(sum(col("n")).as("tot"))
      val f = tc.join(broadcast(tot), Seq("prev_type"))
        .agg(
          sum(col("n")).as("n_transitions"),
          countDistinct(col("prev_type")).as("n_states"),
          sum(col("n") *
            round(log(col("tot").cast("double") / col("n")) * lit(1e9)).cast("long"))
            .as("ent_nano"))
      val rate = col("ent_nano").cast("double") /
        col("n_transitions").cast("double") / lit(1e9)
      f.select(
        col("n_transitions"), col("n_states"),
        round(rate, 6).as("entropy_rate_nats"),
        when(col("n_states") > 1L,
          round(rate / log(col("n_states").cast("double")), 6))
          .as("normalized_rate"))
    }),
    "transition_entropy" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
      val tc = Tables
        .events(s, dir)
        .select(col("user_id"), col("event_id"), col("ts_us"), col("event_type"))
        .withColumn("prev_type", lag(col("event_type"), 1).over(w))
        .filter(col("prev_type").isNotNull)
        .groupBy(col("prev_type"), col("event_type"))
        .agg(count(lit(1)).as("n"))
      val tot = tc.groupBy(col("prev_type")).agg(sum(col("n")).as("tot"))
      tc.join(broadcast(tot), Seq("prev_type"))
        .groupBy(col("prev_type"))
        .agg(
          max(col("tot")).as("n_out"),
          count(lit(1)).as("n_next_types"),
          sum(
            col("n") *
              round(log(col("tot").cast("double") / col("n")) * lit(1e9)).cast("long"))
            .as("ent_nano"),
          min(struct(-col("n"), col("event_type"))).as("m"))
        .select(
          col("prev_type"),
          col("n_out"),
          col("n_next_types"),
          round(
            col("ent_nano").cast("double") / col("n_out").cast("double") / lit(1e9),
            6).as("entropy_nats"),
          col("m.event_type").as("top_next"))
        .orderBy(col("prev_type"))
    }),
    // Portable-HLL distinct-user estimate next to the exact count
    // (SketchOps: integer-exact register sum, cross-engine bit-exact).
    "approx_users" -> ((s, dir) =>
      graft.operators.SketchOps.approxDistinct(Tables.events(s, dir), col("user_id"))),
    // The sketch composed with a time window: per-hour distinct users,
    // exact and estimated (streaming twin in StreamingSketchSpec).
    "hourly_users" -> ((s, dir) =>
      graft.operators.SketchOps.hourlyApproxDistinct(Tables.events(s, dir), col("user_id"))),
    // Audience-growth curve: cumulative distinct users per day — the
    // exact first-appearance running sum next to the sketch-algebra
    // estimate (per-day HLL registers merged by a running per-bucket max).
    "cumulative_users" -> ((s, dir) =>
      graft.operators.SketchOps.cumulativeDistinct(Tables.events(s, dir), col("user_id"))),
    // Bloom filter over user-day keys: days a user purchased form the
    // filter; every active user-day probes it. Measured FP rate vs the
    // exact membership join, zero false negatives. (Plain user ids are
    // degenerate here — every viewer also purchases — so the composite
    // key supplies real non-members at any SF.)
    "bloom_probe" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      def userDay(df: org.apache.spark.sql.DataFrame) = df.select(
        concat(col("user_id").cast("string"), lit(":"),
          to_date(col("ts")).cast("string")).as("k"))
      graft.operators.SketchOps.bloomProbeSummary(
        userDay(ev.filter(col("event_type") === "purchase")),
        userDay(ev),
        mBits = 16384)
    }),
    // Pairwise audience-overlap matrix across ALL event types from one
    // HLL register pass — union estimates are state-only per-bucket
    // maxes, the corpus is read once for 10 pairwise overlaps.
    "audience_matrix" -> ((s, dir) =>
      graft.operators.SketchOps.overlapMatrix(
        Tables.events(s, dir), col("event_type"), col("user_id"))),
    // AMS/CMS inner-product join-size estimate: the user_id SELF-join
    // cardinality (the pair-generation explosion a planner must see
    // coming on skewed keys) from two fixed 4×1024 sketches, next to the
    // exact keyed-count product.
    "join_size_est" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      graft.operators.SketchOps.joinSizeEstimate(
        ev, col("user_id"), ev, col("user_id"))
    }),
    // Sketch MERGE + inclusion–exclusion: viewer/purchaser audience
    // overlap from HLL register unions, next to exact membership counts.
    "hll_overlap" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      graft.operators.SketchOps.overlapEstimate(
        ev.filter(col("event_type") === "view"),
        ev.filter(col("event_type") === "purchase"),
        col("user_id"))
    }),
    // Calendar seasonality heatmap: ISO day-of-week × hour-of-day event
    // counts and exact revenue — the weekly-rhythm summary every traffic
    // pipeline keeps. Pure calendar-part projection + one 168-key
    // aggregation (date-part parity note: Spark weekday()+1 == DuckDB
    // isodow, both Monday=1).
    // Classical seasonal decomposition, the honest version of
    // dow_seasonality: detrend daily revenue with a centered 7-day MA
    // first (scaled ×7 so the detrended series stays integer cents),
    // then average the detrended series per ISO weekday. The MA window
    // and the dow rollup both run on the bounded day grid, never on raw
    // events. Uncentered index by design: subtracting the mean of the 7
    // dow means would need a 7-double accumulation whose association
    // order isn't cross-engine-deterministic; the uncentered index is
    // the same information shifted by one constant.
    "seasonal_decompose" -> ((s, dir) => {
      val daily = Tables.events(s, dir)
        .select(
          col("ts").cast("date").as("k"),
          when(col("value").isNotNull && !isnan(col("value")),
            (col("value") * lit(100.0)).cast("bigint")).as("cents"))
        .groupBy(col("k"))
        .agg(coalesce(sum(col("cents")), lit(0L)).as("xs"))
      val w7 = Window.orderBy(col("k")).rowsBetween(-3, 3)
      val det = daily
        .select(
          (weekday(col("k")) + lit(1)).as("iso_dow"),
          (lit(7L) * col("xs") - sum(col("xs")).over(w7)).as("d7"),
          count(lit(1)).over(w7).as("c7"))
        .filter(col("c7") === 7)
      det.groupBy(col("iso_dow"))
        .agg(count(lit(1)).as("n_days"), sum(col("d7")).as("sum_detr7_c"))
        .select(col("iso_dow"), col("n_days"), col("sum_detr7_c"),
          round(col("sum_detr7_c").cast("double") /
            (col("n_days").cast("double") * lit(700.0)), 6).as("seasonal"))
        .orderBy(col("iso_dow"))
    }),
    "dow_seasonality" -> ((s, dir) =>
      Tables.events(s, dir)
        .select(
          (weekday(col("ts")) + lit(1)).as("iso_dow"),
          hour(col("ts")).as("hour_of_day"),
          when(col("value").isNotNull && !isnan(col("value")),
            (col("value") * lit(100.0)).cast("bigint")).as("cents"))
        .groupBy(col("iso_dow"), col("hour_of_day"))
        .agg(count(lit(1)).as("n_events"), sum(col("cents")).as("rev_c"))
        .orderBy(col("iso_dow"), col("hour_of_day"))),
    // Time-series resample + gap fill: per-minute event counts over the
    // full calendar (sequence join marks empty minutes), revenue carried
    // forward with last_value(IGNORE NULLS). The unpartitioned fill
    // window runs on the CALENDAR relation (bounded: minutes in range),
    // never on raw events — same cardinality-reduction-before-window rule
    // as the deciles.
    "minute_gapfill" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val perMin = ev.groupBy(date_trunc("minute", col("ts")).as("minute"))
        .agg(
          count(lit(1)).as("n_events"),
          sum(when(col("value").isNotNull && !isnan(col("value")),
            (col("value") * lit(100.0)).cast("bigint"))).as("rev_c"))
      val calendar = perMin
        .agg(min(col("minute")).as("lo"), max(col("minute")).as("hi"))
        .select(explode(sequence(col("lo"), col("hi"), expr("interval 1 minute")))
          .as("minute"))
      calendar
        .join(perMin, Seq("minute"), "left")
        .select(
          col("minute"),
          coalesce(col("n_events"), lit(0L)).as("n_events"),
          when(col("n_events").isNull, 1).otherwise(0).as("is_gap"),
          col("rev_c"),
          last(col("rev_c"), ignoreNulls = true)
            .over(Window.orderBy(col("minute"))
              .rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .as("rev_c_filled"))
        .orderBy(col("minute"))
    }),
    // Two-sample Kolmogorov-Smirnov drift test between the A/B user
    // split, on a BOUNDED 256-bin grid: at 100 TB the exact KS needs a
    // global ordered ECDF over every distinct value (an unpartitioned
    // window over the corpus — the §3.3 anti-pattern), so the engine
    // quantizes to a fixed grid first (integer bin arithmetic, identical
    // in both engines) and the ECDF window runs over ≤256 rows. The KS
    // distance is then exact FOR THE GRID; grid resolution is the
    // documented approximation knob, same trade as hist_linear's bins.
    "drift_ks" -> ((s, dir) => {
      val e = Tables.events(s, dir)
        .filter(col("value").isNotNull && !isnan(col("value")))
        .select(
          (col("value") * lit(100.0)).cast("bigint").as("c"),
          when(pmod(col("user_id"), lit(2L)) === 0L, 1L).otherwise(0L).as("a"))
      val st = e.agg(min(col("c")).as("minc"), max(col("c")).as("maxc"))
      val binned = e.crossJoin(st)
        .select(
          // integer DIV — same literal arithmetic as the oracle's `//`;
          // no float enters the bin assignment
          expr("((c - minc) * 256) DIV (maxc - minc + 1)").as("bin"),
          col("a"))
      val g = binned
        .groupBy(col("bin"))
        .agg(sum(col("a")).as("n_a"), sum(lit(1L) - col("a")).as("n_b"))
      val cum = Window.orderBy(col("bin"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val all = Window.orderBy(col("bin"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val w = g.select(
        sum(col("n_a")).over(cum).as("ca"),
        sum(col("n_b")).over(cum).as("cb"),
        sum(col("n_a")).over(all).as("ta"),
        sum(col("n_b")).over(all).as("tb"))
      val dbl = (c: Column) => c.cast("double")
      w.agg(
        max(col("ta")).as("n_a"),
        max(col("tb")).as("n_b"),
        round(max(abs(dbl(col("ca")) / dbl(col("ta")) - dbl(col("cb")) / dbl(col("tb")))), 6)
          .as("ks_stat"))
        .select(
          col("n_a"), col("n_b"), col("ks_stat"),
          round(lit(1.3581015) *
            sqrt((dbl(col("n_a")) + dbl(col("n_b"))) / (dbl(col("n_a")) * dbl(col("n_b")))), 6)
            .as("ks_crit"),
          (col("ks_stat") > round(lit(1.3581015) *
            sqrt((dbl(col("n_a")) + dbl(col("n_b"))) / (dbl(col("n_a")) * dbl(col("n_b")))), 6))
            .as("drifted"))
    }),
    // Categorical drift: chi-square contributions of the event-type mix,
    // early half vs late half of the time range (midpoint in integer
    // micros — no float time math). All counts are exact integers from
    // ONE map-side-combinable aggregation over a 5-key space; expected
    // counts and contributions are per-row float expressions in oracle
    // order. No windowed float total: each category's contribution is
    // the drift readout (the scalar chi2 is their trivial sum).
    "chi2_drift" -> ((s, dir) => {
      val e = Tables.events(s, dir).select(col("ts_us"), col("event_type"))
      val st = e.agg(min(col("ts_us")).as("lo"), max(col("ts_us")).as("hi"))
        .select(expr("(lo + hi) DIV 2").as("mid"))
      val g = e.crossJoin(st)
        .select(col("event_type"),
          when(col("ts_us") <= col("mid"), 1L).otherwise(0L).as("early"))
        .groupBy(col("event_type"))
        .agg(sum(col("early")).as("n_early"), sum(lit(1L) - col("early")).as("n_late"))
      val all = Window.orderBy(col("event_type"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val dbl = (c: Column) => c.cast("double")
      val withTot = g.select(
        col("event_type"), col("n_early"), col("n_late"),
        sum(col("n_early")).over(all).as("te"),
        sum(col("n_late")).over(all).as("tl"))
      val rowTot = dbl(col("n_early")) + dbl(col("n_late"))
      val n = dbl(col("te")) + dbl(col("tl"))
      val expE = rowTot * dbl(col("te")) / n
      val expL = rowTot * dbl(col("tl")) / n
      withTot.select(
        col("event_type"), col("n_early"), col("n_late"),
        round(expE, 6).as("exp_early"),
        round((dbl(col("n_early")) - expE) * (dbl(col("n_early")) - expE) / expE
          + (dbl(col("n_late")) - expL) * (dbl(col("n_late")) - expL) / expL, 6)
          .as("chi2_contrib"))
        .orderBy(col("event_type"))
    }),
    // Time-weighted average value per event type (TWAP): each observation
    // holds until the NEXT event of the same type, weight = the hold gap.
    // Gaps are bounded to calendar days — the (type, day) window keys
    // give types × days parallelism instead of one giant partition per
    // type, and the per-day (numerator, denominator) pairs are
    // ASSOCIATIVE, so the final per-type ratio is one small aggregation.
    // Weighted sums run in DECIMAL(38,0): cents × micro gaps overflow
    // BIGINT at corpus scale.
    "events_twap" -> ((s, dir) => {
      val w = Window.partitionBy(col("event_type"), col("day"))
        .orderBy(col("ts_us"), col("event_id"))
      Tables.events(s, dir)
        .filter(col("value").isNotNull && !isnan(col("value")))
        .select(
          col("event_type"), col("ts_us"), col("event_id"),
          expr("ts_us DIV 86400000000").as("day"),
          (col("value") * lit(100.0)).cast("bigint").as("cents"))
        .withColumn("gap_us", lead(col("ts_us"), 1).over(w) - col("ts_us"))
        .filter(col("gap_us").isNotNull)
        .groupBy(col("event_type"))
        .agg(
          count(lit(1)).as("n_intervals"),
          sum(col("gap_us")).as("span_us"),
          sum((col("cents") * col("gap_us")).cast("decimal(38,0)")).as("wsum"))
        .select(
          col("event_type"), col("n_intervals"), col("span_us"),
          round(col("wsum").cast("double") / col("span_us").cast("double"), 6).as("twap_c"))
        .orderBy(col("event_type"))
    }),
    // Debounce: drop events that land within 5 s of the user's previous
    // event (client retry / double-fire cleanup). One lag over the
    // per-user history — the streaming twin would be one `last ts` per
    // user in state. Summarized per event type so the result is bounded.
    "events_debounce" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
      Tables.events(s, dir)
        .withColumn("prev_us", lag(col("ts_us"), 1).over(w))
        .withColumn("kept",
          col("prev_us").isNull || (col("ts_us") - col("prev_us") > lit(5000000L)))
        .groupBy(col("event_type"))
        .agg(
          count(lit(1)).as("n_total"),
          sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"))
        .orderBy(col("event_type"))
    }),
    // Interarrival-time histogram: per-user gaps between consecutive
    // events, bucketed by integer bit length of the gap in micros (the
    // log2 latency-histogram shape, integer-exact via bin() string
    // length — no float log). Bounded ≤ 64-row output.
    "interarrival_hist" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
      Tables.events(s, dir)
        .withColumn("d_us", col("ts_us") - lag(col("ts_us"), 1).over(w))
        .filter(col("d_us").isNotNull)
        .select(length(bin(col("d_us"))).cast("int").as("bucket"), col("d_us"))
        .groupBy(col("bucket"))
        .agg(
          count(lit(1)).as("n_gaps"),
          min(col("d_us")).as("min_gap_us"),
          max(col("d_us")).as("max_gap_us"))
        .orderBy(col("bucket"))
    }),
    // Goh–Barabási burstiness per event type: B = (σ − μ)/(σ + μ) of the
    // per-(user, type) inter-arrival gaps — −1 = metronome, 0 = Poisson,
    // →1 = bursty. Complements interarrival_hist (the distribution) with
    // the canonical dispersion scalar. Sufficient stats are exact: Σd and
    // Σd² in DECIMAL(38,0) (micros² passes 2^63); σ and B are single
    // double chains over them. The lag window partitions per (user, type)
    // — events shuffle once, every partition sorts its own short run.
    "event_burstiness" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"), col("event_type"))
        .orderBy(col("ts_us"), col("event_id"))
      val dec = (c: Column) => c.cast("decimal(38,0)")
      val dbl = (c: Column) => c.cast("double")
      val g = Tables.events(s, dir)
        .withColumn("d_us", col("ts_us") - lag(col("ts_us"), 1).over(w))
        .filter(col("d_us").isNotNull)
        .groupBy(col("event_type"))
        .agg(
          count(lit(1)).as("n_gaps"),
          sum(col("d_us")).as("s"),
          sum(dec(col("d_us")) * dec(col("d_us"))).as("q"))
      val mu = dbl(col("s")) / dbl(col("n_gaps"))
      val sigma = sqrt(
        dbl(dec(col("n_gaps")) * col("q") - dec(col("s")) * dec(col("s"))) /
          (dbl(col("n_gaps")) * dbl(col("n_gaps") - lit(1L))))
      g.select(
        col("event_type"), col("n_gaps"),
        round(mu / lit(1e6), 6).as("mean_gap_s"),
        when(col("n_gaps") > 1L, round(sigma / lit(1e6), 6)).as("sd_gap_s"),
        when(col("n_gaps") > 1L && sigma + mu > lit(0.0),
          round((sigma - mu) / (sigma + mu), 6)).as("burstiness"))
        .orderBy(col("event_type"))
    }),
    // Trailing-7-day rolling totals via a RANGE frame over epoch day —
    // value-based framing, so calendar gaps shorten the window correctly
    // (a ROWS frame would silently span them). The window runs on the
    // per-DAY aggregate (bounded by days in range), never raw events.
    "rolling_7d" -> ((s, dir) =>
      Tables.events(s, dir)
        .select(
          expr("ts_us DIV 86400000000").as("day"),
          when(col("value").isNotNull && !isnan(col("value")),
            (col("value") * lit(100.0)).cast("bigint")).as("cents"))
        .groupBy(col("day"))
        .agg(count(lit(1)).as("n_events"), sum(col("cents")).as("rev_c"))
        .select(
          col("day"), col("n_events"), col("rev_c"),
          sum(col("n_events")).over(
            Window.orderBy(col("day")).rangeBetween(-6, 0)).as("n_7d"),
          sum(col("rev_c")).over(
            Window.orderBy(col("day")).rangeBetween(-6, 0)).as("rev_7d"))
        .orderBy(col("day"))),
    // Last-touch marketing attribution: each purchase credits the most
    // recent prior click/view of the SAME user (carried by an
    // ignore-nulls last() over the per-user history — state bounded per
    // user, the sessionization shape, no self-join). Revenue stays in
    // exact cents; NaN purchases count as purchases with null revenue.
    // Uplift (Qini) targeting evaluation: units = users, treatment = the
    // ab_test user-parity split (user_id % 2, matching ab_test/ab_cuped),
    // outcome = converted, score = capped engagement count; cumulative
    // incremental conversions best-score-first over the ≤33-row
    // per-score relation (EvalOps.upliftQini).
    "uplift_qini" -> ((s, dir) => {
      val u = Tables.events(s, dir)
        .groupBy(col("user_id"))
        .agg(
          max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("y"),
          least(
            sum(when(col("event_type").isin("click", "view"), 1L).otherwise(0L)),
            lit(32L)).as("score"))
        .select(
          col("score"),
          when(pmod(col("user_id"), lit(2L)) === 0L, 1L).otherwise(0L).as("t"),
          col("y"))
      graft.operators.EvalOps.upliftQini(u)
    }),
    // Markov removal-effect attribution: journeys → absorbing-chain
    // transition counts (distributed reduction), start→conv absorption
    // probability by 12 exact integer-nano sweeps on the bounded count
    // relation, per-channel credit = normalized removal effect
    // (AttributionOps.markovRemoval — the model that replaced last-touch).
    "attribution_markov" -> ((s, dir) =>
      graft.operators.AttributionOps.markovRemoval(Tables.events(s, dir), iters = 12)),
    // Shapley-value attribution: the order-free coalition model beside
    // the chain model — exact-touch-set conversion counts (16-row
    // distributed reduction), subset-sum characteristic, factorially
    // weighted marginals in exact integers (AttributionOps.shapley).
    "attribution_shapley" -> ((s, dir) =>
      graft.operators.AttributionOps.shapley(Tables.events(s, dir))),
    "attribution" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_us"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, dir)
        .select(
          col("user_id"), col("ts_us"), col("event_id"), col("event_type"),
          when(col("value").isNotNull && !isnan(col("value")),
            (col("value") * lit(100.0)).cast("bigint")).as("cents"))
        .withColumn("chan",
          last(when(col("event_type").isin("click", "view"), col("event_type")),
            ignoreNulls = true).over(w))
        .filter(col("event_type") === "purchase")
        .select(coalesce(col("chan"), lit("none")).as("channel"), col("cents"))
        .groupBy(col("channel"))
        .agg(count(lit(1)).as("n_purchases"), sum(col("cents")).as("rev_c"))
        .orderBy(col("channel"))
    }),
    // Per-user truncated EWMA (α=1/2, 8-lag window) of the value series —
    // the smoothed "current spend level" a monitoring pipeline keys alerts
    // off. Integer-cents dyadic weights keep num/den exact BIGINTs; one
    // window per user (millions of bounded partitions at scale), O(1)
    // state per row. See TimeSeriesOps.ewmaLast.
    "events_ewma" -> ((s, dir) =>
      graft.operators.TimeSeriesOps.ewmaLast(Tables.events(s, dir))),
    // Revenue by event_type through the two-stage SALTED aggregation
    // (SkewOps.saltedSum, 16 shards): event_type is the canonical
    // hot-key column — a handful of distinct values over billions of
    // rows — so the partial groupBy(key, salt) spreads each hot reduce
    // key across 16 combiners before the tiny final combine. Exact
    // integer cents, so the two-stage addition order cannot show.
    "skew_spend" -> ((s, dir) =>
      graft.operators.SkewOps
        .saltedSum(
          Tables.events(s, dir)
            .filter(col("value").isNotNull && !isnan(col("value")))
            .select(col("event_type"), (col("value") * lit(100.0)).cast("bigint").as("cents")),
          "event_type", "cents", salt = 16, sumName = "spend_c")
        .orderBy(col("event_type"))),
    // 7-day revenue forecast: Holt double-exponential smoothing as two
    // truncated dyadic EWMAs (level over daily totals, trend over
    // day-over-day diffs) off the bounded day grid —
    // TimeSeriesOps.holtForecast.
    "revenue_forecast" -> ((s, dir) =>
      graft.operators.TimeSeriesOps.holtForecast(Tables.events(s, dir))),
    // Seasonal Holt forecast: the revenue_forecast line plus the
    // MA7-detrended additive weekday index per target day — the
    // Holt–Winters shape off the same bounded day grid
    // (TimeSeriesOps.holtSeasonalForecast).
    "revenue_forecast_seasonal" -> ((s, dir) =>
      graft.operators.TimeSeriesOps.holtSeasonalForecast(Tables.events(s, dir))),
    // Robust daily-revenue trend: Theil–Sen median pairwise slope +
    // median-residual intercept over the bounded day grid — the
    // outlier-resistant complement to volume_trend's OLS.
    "revenue_theilsen" -> ((s, dir) =>
      graft.operators.TimeSeriesOps.theilSen(Tables.events(s, dir))),
    // Self-excluding EWMA-band anomaly days: revenue outside 3× the
    // prior-window mean absolute deviation around the prior-window EWMA;
    // the verdict is cross-multiplied exact integers (TimeSeriesOps
    // .ewmaAnomalies) — the value-level companion to events_anomaly's
    // count z-score.
    "revenue_anomaly" -> ((s, dir) =>
      graft.operators.TimeSeriesOps.ewmaAnomalies(Tables.events(s, dir))),
    // Walk-forward forecast QA: 1-step MAE of naive / seasonal-naive /
    // Holt over the day grid, each day forecast from its priors only;
    // MASE < 1 is the ship gate — TimeSeriesOps.forecastBacktest.
    "forecast_backtest" -> ((s, dir) =>
      graft.operators.TimeSeriesOps.forecastBacktest(Tables.events(s, dir))),
    // CUPED variance-reduced A/B readout (EvalOps.cuped): per-user spend
    // split at the time midpoint into pre (covariate) and post (metric),
    // θ pooled across the user-parity arms, adjusted delta + ρ² noise
    // reduction — the experimentation-stack companion to ab_test.
    // Post-stratified A/B delta: per-event-type strata re-weighted to
    // their pooled shares (EvalOps.postStratifiedDiff) — strips the
    // composition noise of a chance stratum tilt from the raw diff.
    "ab_stratified" -> ((s, dir) =>
      graft.operators.EvalOps.postStratifiedDiff(
        Tables
          .events(s, dir)
          .filter(col("value").isNotNull && !isnan(col("value")))
          .select(
            pmod(col("user_id"), lit(2L)).as("arm"),
            col("event_type").as("stratum"),
            (col("value") * lit(100.0)).cast("bigint").as("cents")))),
    // FDR-controlled slice testing: one Welch z per event type (the
    // ab_test algebra grouped), p-values via the Zelen–Severo Φ
    // polynomial (identical expression tree in the oracle), then
    // Benjamini–Hochberg at α=0.1 on EXACT integers
    // (EvalOps.bhReject) — the multiple-testing gate a per-slice
    // monitoring pipeline needs before acting on "significant" slices.
    "ab_fdr" -> ((s, dir) => {
      val c = (col("value") * lit(100.0)).cast("bigint")
      val isA = pmod(col("user_id"), lit(2L)) === 0L
      val g = Tables
        .events(s, dir)
        .filter(col("value").isNotNull && !isnan(col("value")))
        .select(col("event_type"), when(isA, 1L).otherwise(0L).as("a"), c.as("c"))
        .groupBy(col("event_type"))
        .agg(
          sum(col("a")).as("n_a"),
          sum(lit(1L) - col("a")).as("n_b"),
          sum(col("a") * col("c")).as("s_a"),
          sum((lit(1L) - col("a")) * col("c")).as("s_b"),
          sum(col("a") * col("c") * col("c")).as("q_a"),
          sum((lit(1L) - col("a")) * col("c") * col("c")).as("q_b"))
        .filter(col("n_a") > 1L && col("n_b") > 1L)
      val dbl = (name: String) => col(name).cast("double")
      val va = (dbl("q_a") - dbl("s_a") * dbl("s_a") / dbl("n_a")) / (dbl("n_a") - lit(1.0))
      val vb = (dbl("q_b") - dbl("s_b") * dbl("s_b") / dbl("n_b")) / (dbl("n_b") - lit(1.0))
      val az = abs(
        (dbl("s_a") / dbl("n_a") - dbl("s_b") / dbl("n_b")) /
          sqrt(va / dbl("n_a") + vb / dbl("n_b")))
      val pdf = exp(az * az / lit(-2.0)) * lit(0.3989422804014327)
      val t = lit(1.0) / (lit(1.0) + lit(0.2316419) * az)
      val poly = t * (lit(0.319381530) + t * (lit(-0.356563782) +
        t * (lit(1.781477937) + t * (lit(-1.821255978) + t * lit(1.330274429)))))
      val p = lit(2.0) * (pdf * poly)
      graft.operators.EvalOps.bhReject(
        g.select(
          col("event_type").as("grp"),
          round(p * lit(1e9)).cast("bigint").as("p_nano")),
        alphaNum = 1L, alphaDen = 10L)
    }),
    // Experiment sizing readout: with the arms as they are, what's the
    // smallest true lift the ab_test z-gate would detect at 80 % power
    // (MDE = (z_{α/2}+z_β)·sqrt(s²_a/n_a + s²_b/n_b))? Variances from
    // the same exact integer-cents sums as ab_test; the two z constants
    // are literals spelled identically in the oracle.
    "ab_power" -> ((s, dir) => {
      val c = (col("value") * lit(100.0)).cast("bigint")
      val isA = pmod(col("user_id"), lit(2L)) === 0L
      val agg = Tables
        .events(s, dir)
        .filter(col("value").isNotNull && !isnan(col("value")))
        .select(when(isA, 1L).otherwise(0L).as("a"), c.as("c"))
        .agg(
          sum(col("a")).as("n_a"),
          sum(lit(1L) - col("a")).as("n_b"),
          sum(col("a") * col("c")).as("s_a"),
          sum((lit(1L) - col("a")) * col("c")).as("s_b"),
          sum(col("a") * col("c") * col("c")).as("q_a"),
          sum((lit(1L) - col("a")) * col("c") * col("c")).as("q_b"))
      val dbl = (name: String) => col(name).cast("double")
      val va = (dbl("q_a") - dbl("s_a") * dbl("s_a") / dbl("n_a")) / (dbl("n_a") - lit(1.0))
      val vb = (dbl("q_b") - dbl("s_b") * dbl("s_b") / dbl("n_b")) / (dbl("n_b") - lit(1.0))
      val se = sqrt(va / dbl("n_a") + vb / dbl("n_b"))
      val mde = lit(1.959964 + 0.841621) * se
      agg.select(
        col("n_a"), col("n_b"),
        round(se, 6).as("se_c"),
        round(mde, 6).as("mde_c"),
        round(mde / (dbl("s_a") / dbl("n_a")), 6).as("mde_rel"))
    }),
    "ab_cuped" -> ((s, dir) => {
      val ev = Tables
        .events(s, dir)
        .filter(col("value").isNotNull && !isnan(col("value")))
        .select(
          col("user_id"),
          col("ts_us"),
          (col("value") * lit(100.0)).cast("bigint").as("cents"))
      val mid = ev.agg(expr("(min(ts_us) + max(ts_us)) DIV 2 AS mid"))
      val perUser = ev
        .crossJoin(broadcast(mid))
        .groupBy(col("user_id"))
        .agg(
          sum(when(col("ts_us") < col("mid"), col("cents")).otherwise(0L)).as("x"),
          sum(when(col("ts_us") >= col("mid"), col("cents")).otherwise(0L)).as("y"))
        .select(pmod(col("user_id"), lit(2L)).as("arm"), col("x"), col("y"))
      graft.operators.EvalOps.cuped(perUser)
    }))

  val oracle: Map[String, String] = Map(
    "ab_test" ->
      """WITH e AS (
        |  SELECT CASE WHEN user_id % 2 = 0 THEN CAST(1 AS BIGINT)
        |              ELSE CAST(0 AS BIGINT) END AS a,
        |         CAST(trunc(value * 100.0) AS BIGINT) AS c
        |  FROM events WHERE value IS NOT NULL AND NOT isnan(value)
        |), g AS (
        |  SELECT CAST(sum(a) AS BIGINT) AS n_a,
        |         CAST(sum(1 - a) AS BIGINT) AS n_b,
        |         CAST(sum(a * c) AS BIGINT) AS s_a,
        |         CAST(sum((1 - a) * c) AS BIGINT) AS s_b,
        |         CAST(sum(a * c * c) AS BIGINT) AS q_a,
        |         CAST(sum((1 - a) * c * c) AS BIGINT) AS q_b
        |  FROM e
        |)
        |SELECT n_a, n_b,
        |       round(CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE), 6) AS mean_a_c,
        |       round(CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE), 6) AS mean_b_c,
        |       round((CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE)
        |              - CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE))
        |             / sqrt(((CAST(q_a AS DOUBLE) - CAST(s_a AS DOUBLE) * CAST(s_a AS DOUBLE)
        |                      / CAST(n_a AS DOUBLE)) / (CAST(n_a AS DOUBLE) - 1.0))
        |                    / CAST(n_a AS DOUBLE)
        |                    + ((CAST(q_b AS DOUBLE) - CAST(s_b AS DOUBLE) * CAST(s_b AS DOUBLE)
        |                        / CAST(n_b AS DOUBLE)) / (CAST(n_b AS DOUBLE) - 1.0))
        |                    / CAST(n_b AS DOUBLE)), 6) AS z_score,
        |       abs((CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE)
        |            - CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE))
        |           / sqrt(((CAST(q_a AS DOUBLE) - CAST(s_a AS DOUBLE) * CAST(s_a AS DOUBLE)
        |                    / CAST(n_a AS DOUBLE)) / (CAST(n_a AS DOUBLE) - 1.0))
        |                  / CAST(n_a AS DOUBLE)
        |                  + ((CAST(q_b AS DOUBLE) - CAST(s_b AS DOUBLE) * CAST(s_b AS DOUBLE)
        |                      / CAST(n_b AS DOUBLE)) / (CAST(n_b AS DOUBLE) - 1.0))
        |                  / CAST(n_b AS DOUBLE))) > 1.96 AS significant
        |FROM g""".stripMargin,
    "ab_sequential" ->
      """WITH ev AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us, value FROM events
        |), b AS (
        |  SELECT min(ts_us) AS t0, max(ts_us) AS t1 FROM ev
        |), e AS (
        |  SELECT least(CAST(4 AS BIGINT), ((ts_us - t0) * 5) // (t1 - t0 + 1)) AS look,
        |         CASE WHEN user_id % 2 = 0 THEN CAST(1 AS BIGINT)
        |              ELSE CAST(0 AS BIGINT) END AS a,
        |         CAST(trunc(value * 100.0) AS BIGINT) AS c
        |  FROM ev, b WHERE value IS NOT NULL AND NOT isnan(value)
        |), g AS (
        |  SELECT look,
        |         CAST(sum(a) AS BIGINT) AS dn_a,
        |         CAST(sum(1 - a) AS BIGINT) AS dn_b,
        |         CAST(sum(a * c) AS BIGINT) AS ds_a,
        |         CAST(sum((1 - a) * c) AS BIGINT) AS ds_b,
        |         CAST(sum(a * c * c) AS BIGINT) AS dq_a,
        |         CAST(sum((1 - a) * c * c) AS BIGINT) AS dq_b
        |  FROM e GROUP BY look
        |), cum AS (
        |  SELECT look,
        |         CAST(sum(dn_a) OVER w AS BIGINT) AS n_a,
        |         CAST(sum(dn_b) OVER w AS BIGINT) AS n_b,
        |         CAST(sum(ds_a) OVER w AS BIGINT) AS s_a,
        |         CAST(sum(ds_b) OVER w AS BIGINT) AS s_b,
        |         CAST(sum(dq_a) OVER w AS BIGINT) AS q_a,
        |         CAST(sum(dq_b) OVER w AS BIGINT) AS q_b
        |  FROM g
        |  WINDOW w AS (ORDER BY look ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |), r AS (
        |  SELECT look, n_a, n_b,
        |         CASE WHEN n_a > 1 AND n_b > 1 THEN
        |           round((CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE)
        |                  - CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE))
        |                 / sqrt(((CAST(q_a AS DOUBLE) - CAST(s_a AS DOUBLE) * CAST(s_a AS DOUBLE)
        |                          / CAST(n_a AS DOUBLE)) / (CAST(n_a AS DOUBLE) - 1.0))
        |                        / CAST(n_a AS DOUBLE)
        |                        + ((CAST(q_b AS DOUBLE) - CAST(s_b AS DOUBLE) * CAST(s_b AS DOUBLE)
        |                            / CAST(n_b AS DOUBLE)) / (CAST(n_b AS DOUBLE) - 1.0))
        |                        / CAST(n_b AS DOUBLE)), 6)
        |         END AS z_k,
        |         round(2.04 * sqrt(5.0 / (CAST(look AS DOUBLE) + 1.0)), 6) AS bound_k
        |  FROM cum
        |), f AS (
        |  SELECT look, n_a, n_b, z_k, bound_k,
        |         (z_k IS NOT NULL AND abs(z_k) >= bound_k) AS crossed
        |  FROM r
        |)
        |SELECT look, n_a, n_b, z_k, bound_k, crossed,
        |       min(CASE WHEN crossed THEN look END) OVER () AS decide_look
        |FROM f ORDER BY look""".stripMargin,
    "ab_msprt" ->
      """WITH ev AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us, value FROM events
        |), b AS (
        |  SELECT min(ts_us) AS t0, max(ts_us) AS t1 FROM ev
        |), e AS (
        |  SELECT least(CAST(4 AS BIGINT), ((ts_us - t0) * 5) // (t1 - t0 + 1)) AS look,
        |         CASE WHEN user_id % 2 = 0 THEN CAST(1 AS BIGINT)
        |              ELSE CAST(0 AS BIGINT) END AS a,
        |         CAST(trunc(value * 100.0) AS BIGINT) AS c
        |  FROM ev, b WHERE value IS NOT NULL AND NOT isnan(value)
        |), g AS (
        |  SELECT look,
        |         CAST(sum(a) AS BIGINT) AS dn_a,
        |         CAST(sum(1 - a) AS BIGINT) AS dn_b,
        |         CAST(sum(a * c) AS BIGINT) AS ds_a,
        |         CAST(sum((1 - a) * c) AS BIGINT) AS ds_b,
        |         CAST(sum(a * c * c) AS BIGINT) AS dq_a,
        |         CAST(sum((1 - a) * c * c) AS BIGINT) AS dq_b
        |  FROM e GROUP BY look
        |), cum AS (
        |  SELECT look,
        |         CAST(sum(dn_a) OVER w AS BIGINT) AS n_a,
        |         CAST(sum(dn_b) OVER w AS BIGINT) AS n_b,
        |         CAST(sum(ds_a) OVER w AS BIGINT) AS s_a,
        |         CAST(sum(ds_b) OVER w AS BIGINT) AS s_b,
        |         CAST(sum(dq_a) OVER w AS BIGINT) AS q_a,
        |         CAST(sum(dq_b) OVER w AS BIGINT) AS q_b
        |  FROM g
        |  WINDOW w AS (ORDER BY look ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |), v AS (
        |  SELECT look, n_a, n_b,
        |         ((CAST(q_a AS DOUBLE) - CAST(s_a AS DOUBLE) * CAST(s_a AS DOUBLE)
        |           / CAST(n_a AS DOUBLE)) / (CAST(n_a AS DOUBLE) - 1.0))
        |           / CAST(n_a AS DOUBLE)
        |         + ((CAST(q_b AS DOUBLE) - CAST(s_b AS DOUBLE) * CAST(s_b AS DOUBLE)
        |             / CAST(n_b AS DOUBLE)) / (CAST(n_b AS DOUBLE) - 1.0))
        |           / CAST(n_b AS DOUBLE) AS vv,
        |         CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE)
        |           - CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS d
        |  FROM cum
        |), r AS (
        |  SELECT look, n_a, n_b,
        |         CASE WHEN n_a > 0 AND n_b > 0 THEN round(d, 6) END AS delta_c,
        |         CASE WHEN n_a > 1 AND n_b > 1 AND vv > 0.0 THEN
        |           round(0.5 * ln(vv / (vv + 2500.0))
        |                 + d * d * 2500.0 / (2.0 * vv * (vv + 2500.0)), 6)
        |         END AS log_lambda,
        |         CASE WHEN n_a > 1 AND n_b > 1 AND vv > 0.0 THEN
        |           round(d - sqrt((2.0 * vv * (vv + 2500.0) / 2500.0)
        |                 * ln(sqrt((vv + 2500.0) / vv) / 0.05)), 6)
        |         END AS ci_lo,
        |         CASE WHEN n_a > 1 AND n_b > 1 AND vv > 0.0 THEN
        |           round(d + sqrt((2.0 * vv * (vv + 2500.0) / 2500.0)
        |                 * ln(sqrt((vv + 2500.0) / vv) / 0.05)), 6)
        |         END AS ci_hi
        |  FROM v
        |)
        |, p AS (
        |  SELECT look, n_a, n_b, delta_c, log_lambda, ci_lo, ci_hi,
        |         round(exp(-greatest(0.0, coalesce(
        |           max(log_lambda) OVER (ORDER BY look
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0.0))), 6)
        |           AS p_always
        |  FROM r
        |)
        |SELECT look, n_a, n_b, delta_c, log_lambda, ci_lo, ci_hi, p_always,
        |       min(CASE WHEN p_always <= 0.05 THEN look END) OVER () AS decide_look
        |FROM p ORDER BY look""".stripMargin,
    "ab_sequential_by" ->
      """WITH ev AS (
        |  SELECT event_type AS grp, user_id, epoch_us(ts) AS ts_us, value FROM events
        |), b AS (
        |  SELECT min(ts_us) AS t0, max(ts_us) AS t1 FROM ev
        |), e AS (
        |  SELECT grp, least(CAST(4 AS BIGINT), ((ts_us - t0) * 5) // (t1 - t0 + 1)) AS look,
        |         CASE WHEN user_id % 2 = 0 THEN CAST(1 AS BIGINT)
        |              ELSE CAST(0 AS BIGINT) END AS a,
        |         CAST(trunc(value * 100.0) AS BIGINT) AS c
        |  FROM ev, b WHERE value IS NOT NULL AND NOT isnan(value)
        |), g AS (
        |  SELECT grp, look,
        |         CAST(sum(a) AS BIGINT) AS dn_a,
        |         CAST(sum(1 - a) AS BIGINT) AS dn_b,
        |         CAST(sum(a * c) AS BIGINT) AS ds_a,
        |         CAST(sum((1 - a) * c) AS BIGINT) AS ds_b,
        |         CAST(sum(a * c * c) AS BIGINT) AS dq_a,
        |         CAST(sum((1 - a) * c * c) AS BIGINT) AS dq_b
        |  FROM e GROUP BY grp, look
        |), cum AS (
        |  SELECT grp, look,
        |         CAST(sum(dn_a) OVER w AS BIGINT) AS n_a,
        |         CAST(sum(dn_b) OVER w AS BIGINT) AS n_b,
        |         CAST(sum(ds_a) OVER w AS BIGINT) AS s_a,
        |         CAST(sum(ds_b) OVER w AS BIGINT) AS s_b,
        |         CAST(sum(dq_a) OVER w AS BIGINT) AS q_a,
        |         CAST(sum(dq_b) OVER w AS BIGINT) AS q_b
        |  FROM g
        |  WINDOW w AS (PARTITION BY grp ORDER BY look
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |), r AS (
        |  SELECT grp, look, n_a, n_b,
        |         CASE WHEN n_a > 1 AND n_b > 1 THEN
        |           round((CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE)
        |                  - CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE))
        |                 / sqrt(((CAST(q_a AS DOUBLE) - CAST(s_a AS DOUBLE) * CAST(s_a AS DOUBLE)
        |                          / CAST(n_a AS DOUBLE)) / (CAST(n_a AS DOUBLE) - 1.0))
        |                        / CAST(n_a AS DOUBLE)
        |                        + ((CAST(q_b AS DOUBLE) - CAST(s_b AS DOUBLE) * CAST(s_b AS DOUBLE)
        |                            / CAST(n_b AS DOUBLE)) / (CAST(n_b AS DOUBLE) - 1.0))
        |                        / CAST(n_b AS DOUBLE)), 6)
        |         END AS z_k,
        |         round(2.04 * sqrt(5.0 / (CAST(look AS DOUBLE) + 1.0)), 6) AS bound_k
        |  FROM cum
        |), f AS (
        |  SELECT grp, look, n_a, n_b, z_k, bound_k,
        |         (z_k IS NOT NULL AND abs(z_k) >= bound_k) AS crossed
        |  FROM r
        |)
        |SELECT grp, look, n_a, n_b, z_k, bound_k, crossed,
        |       min(CASE WHEN crossed THEN look END) OVER (PARTITION BY grp) AS decide_look
        |FROM f ORDER BY grp, look""".stripMargin,
    "ab_msprt_by" ->
      """WITH ev AS (
        |  SELECT event_type AS grp, user_id, epoch_us(ts) AS ts_us, value FROM events
        |), b AS (
        |  SELECT min(ts_us) AS t0, max(ts_us) AS t1 FROM ev
        |), e AS (
        |  SELECT grp, least(CAST(4 AS BIGINT), ((ts_us - t0) * 5) // (t1 - t0 + 1)) AS look,
        |         CASE WHEN user_id % 2 = 0 THEN CAST(1 AS BIGINT)
        |              ELSE CAST(0 AS BIGINT) END AS a,
        |         CAST(trunc(value * 100.0) AS BIGINT) AS c
        |  FROM ev, b WHERE value IS NOT NULL AND NOT isnan(value)
        |), g AS (
        |  SELECT grp, look,
        |         CAST(sum(a) AS BIGINT) AS dn_a,
        |         CAST(sum(1 - a) AS BIGINT) AS dn_b,
        |         CAST(sum(a * c) AS BIGINT) AS ds_a,
        |         CAST(sum((1 - a) * c) AS BIGINT) AS ds_b,
        |         CAST(sum(a * c * c) AS BIGINT) AS dq_a,
        |         CAST(sum((1 - a) * c * c) AS BIGINT) AS dq_b
        |  FROM e GROUP BY grp, look
        |), cum AS (
        |  SELECT grp, look,
        |         CAST(sum(dn_a) OVER w AS BIGINT) AS n_a,
        |         CAST(sum(dn_b) OVER w AS BIGINT) AS n_b,
        |         CAST(sum(ds_a) OVER w AS BIGINT) AS s_a,
        |         CAST(sum(ds_b) OVER w AS BIGINT) AS s_b,
        |         CAST(sum(dq_a) OVER w AS BIGINT) AS q_a,
        |         CAST(sum(dq_b) OVER w AS BIGINT) AS q_b
        |  FROM g
        |  WINDOW w AS (PARTITION BY grp ORDER BY look
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |), v AS (
        |  SELECT grp, look, n_a, n_b,
        |         ((CAST(q_a AS DOUBLE) - CAST(s_a AS DOUBLE) * CAST(s_a AS DOUBLE)
        |           / CAST(n_a AS DOUBLE)) / (CAST(n_a AS DOUBLE) - 1.0))
        |           / CAST(n_a AS DOUBLE)
        |         + ((CAST(q_b AS DOUBLE) - CAST(s_b AS DOUBLE) * CAST(s_b AS DOUBLE)
        |             / CAST(n_b AS DOUBLE)) / (CAST(n_b AS DOUBLE) - 1.0))
        |           / CAST(n_b AS DOUBLE) AS vv,
        |         CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE)
        |           - CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS d
        |  FROM cum
        |), r AS (
        |  SELECT grp, look, n_a, n_b,
        |         CASE WHEN n_a > 0 AND n_b > 0 THEN round(d, 6) END AS delta_c,
        |         CASE WHEN n_a > 1 AND n_b > 1 AND vv > 0.0 THEN
        |           round(0.5 * ln(vv / (vv + 2500.0))
        |                 + d * d * 2500.0 / (2.0 * vv * (vv + 2500.0)), 6)
        |         END AS log_lambda,
        |         CASE WHEN n_a > 1 AND n_b > 1 AND vv > 0.0 THEN
        |           round(d - sqrt((2.0 * vv * (vv + 2500.0) / 2500.0)
        |                 * ln(sqrt((vv + 2500.0) / vv) / 0.05)), 6)
        |         END AS ci_lo,
        |         CASE WHEN n_a > 1 AND n_b > 1 AND vv > 0.0 THEN
        |           round(d + sqrt((2.0 * vv * (vv + 2500.0) / 2500.0)
        |                 * ln(sqrt((vv + 2500.0) / vv) / 0.05)), 6)
        |         END AS ci_hi
        |  FROM v
        |)
        |, p AS (
        |  SELECT grp, look, n_a, n_b, delta_c, log_lambda, ci_lo, ci_hi,
        |         round(exp(-greatest(0.0, coalesce(
        |           max(log_lambda) OVER (PARTITION BY grp ORDER BY look
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0.0))), 6)
        |           AS p_always
        |  FROM r
        |)
        |SELECT grp, look, n_a, n_b, delta_c, log_lambda, ci_lo, ci_hi, p_always,
        |       min(CASE WHEN p_always <= 0.05 THEN look END) OVER (PARTITION BY grp)
        |         AS decide_look
        |FROM p ORDER BY grp, look""".stripMargin,
    "events_retention" ->
      """WITH a AS (
        |  SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS TIMESTAMP) AS wk
        |  FROM events
        |), f AS (
        |  SELECT user_id, min(wk) AS cohort_week FROM a GROUP BY 1
        |), cs AS (
        |  SELECT cohort_week, CAST(count(*) AS BIGINT) AS cohort_users FROM f GROUP BY 1
        |), j AS (
        |  SELECT f.cohort_week,
        |         (epoch_us(a.wk) - epoch_us(f.cohort_week)) // 604800000000 AS week_offset
        |  FROM a JOIN f USING (user_id)
        |), g AS (
        |  SELECT cohort_week, week_offset, CAST(count(*) AS BIGINT) AS n_users
        |  FROM j GROUP BY 1, 2
        |)
        |SELECT g.cohort_week, g.week_offset, g.n_users, cs.cohort_users,
        |       round(CAST(g.n_users AS DOUBLE) / CAST(cs.cohort_users AS DOUBLE), 6)
        |         AS retention
        |FROM g JOIN cs USING (cohort_week) ORDER BY 1, 2""".stripMargin,
    "events_pivot" ->
      """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour,
        |       CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
        |       CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error,
        |       CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
        |       CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
        |       CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view
        |FROM events GROUP BY 1 ORDER BY hour""".stripMargin,
    "latest_events" ->
      """WITH r AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us, event_id, event_type,
        |         row_number() OVER (PARTITION BY user_id
        |                            ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
        |  FROM events
        |)
        |SELECT user_id, ts_us, event_id, event_type
        |FROM r WHERE rn = 1 ORDER BY user_id""".stripMargin,
    "events_cube" ->
      """SELECT coalesce(event_type, 'ALL') AS event_type,
        |       coalesce(hod, -1) AS hod,
        |       CAST(count(*) AS BIGINT) AS n,
        |       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM (SELECT event_type, CAST(hour(ts) AS INT) AS hod, user_id FROM events)
        |GROUP BY CUBE(event_type, hod)
        |ORDER BY 1, 2""".stripMargin,
    "events_transitions" ->
      """WITH l AS (
        |  SELECT event_type,
        |         lag(event_type) OVER (PARTITION BY user_id
        |                               ORDER BY epoch_us(ts), event_id) AS prev_type
        |  FROM events
        |)
        |SELECT prev_type, event_type, CAST(count(*) AS BIGINT) AS n
        |FROM l WHERE prev_type IS NOT NULL
        |GROUP BY 1, 2 ORDER BY prev_type, event_type""".stripMargin,
    "entropy_rate" ->
      """WITH l AS (
        |  SELECT event_type,
        |         lag(event_type) OVER (PARTITION BY user_id
        |                               ORDER BY epoch_us(ts), event_id) AS prev_type
        |  FROM events
        |), tc AS (
        |  SELECT prev_type, event_type, CAST(count(*) AS BIGINT) AS n
        |  FROM l WHERE prev_type IS NOT NULL GROUP BY 1, 2
        |), tot AS (
        |  SELECT prev_type, CAST(sum(n) AS BIGINT) AS tot FROM tc GROUP BY 1
        |), f AS (
        |  SELECT CAST(sum(n) AS BIGINT) AS n_transitions,
        |         CAST(count(DISTINCT tc.prev_type) AS BIGINT) AS n_states,
        |         CAST(sum(n * CAST(round(ln(CAST(tot AS DOUBLE) / CAST(n AS DOUBLE))
        |                                 * 1e9) AS BIGINT)) AS BIGINT) AS ent_nano
        |  FROM tc JOIN tot ON tc.prev_type = tot.prev_type
        |)
        |SELECT n_transitions, n_states,
        |       round(CAST(ent_nano AS DOUBLE)
        |             / CAST(n_transitions AS DOUBLE) / 1e9, 6) AS entropy_rate_nats,
        |       CASE WHEN n_states > 1 THEN
        |         round(CAST(ent_nano AS DOUBLE)
        |               / CAST(n_transitions AS DOUBLE) / 1e9
        |               / ln(CAST(n_states AS DOUBLE)), 6) END AS normalized_rate
        |FROM f""".stripMargin,
    "transition_entropy" ->
      """WITH l AS (
        |  SELECT event_type,
        |         lag(event_type) OVER (PARTITION BY user_id
        |                               ORDER BY epoch_us(ts), event_id) AS prev_type
        |  FROM events
        |), tc AS (
        |  SELECT prev_type, event_type, CAST(count(*) AS BIGINT) AS n
        |  FROM l WHERE prev_type IS NOT NULL GROUP BY 1, 2
        |), tt AS (
        |  SELECT prev_type, CAST(sum(n) AS BIGINT) AS tot FROM tc GROUP BY 1
        |), j AS (
        |  SELECT tc.prev_type, tc.event_type, tc.n, tt.tot,
        |         tc.n * CAST(round(ln(CAST(tt.tot AS DOUBLE) / tc.n) * 1000000000.0)
        |                     AS BIGINT) AS nano
        |  FROM tc JOIN tt USING (prev_type)
        |), top AS (
        |  SELECT prev_type, event_type AS top_next FROM (
        |    SELECT prev_type, event_type,
        |           row_number() OVER (PARTITION BY prev_type
        |                              ORDER BY n DESC, event_type) AS rn
        |    FROM tc) WHERE rn = 1
        |)
        |SELECT j.prev_type,
        |       CAST(max(j.tot) AS BIGINT) AS n_out,
        |       CAST(count(*) AS BIGINT) AS n_next_types,
        |       round(CAST(sum(j.nano) AS DOUBLE) / CAST(max(j.tot) AS DOUBLE)
        |             / 1000000000.0, 6) AS entropy_nats,
        |       max(top.top_next) AS top_next
        |FROM j JOIN top USING (prev_type)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "events_anomaly" ->
      """WITH hourly AS (
        |  SELECT event_type, CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour,
        |         CAST(count(*) AS BIGINT) AS cnt
        |  FROM events GROUP BY 1, 2
        |), st AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_hours,
        |         CAST(sum(cnt) AS BIGINT) AS sum_c,
        |         CAST(sum(cnt * cnt) AS BIGINT) AS sum_c2
        |  FROM hourly GROUP BY 1
        |)
        |SELECT h.event_type, h.hour, h.cnt,
        |       round(CAST(st.sum_c AS DOUBLE) / CAST(st.n_hours AS DOUBLE), 6) AS mean_cnt,
        |       CASE WHEN h.cnt * st.n_hours - st.sum_c > 0 THEN 1 ELSE -1 END AS direction
        |FROM hourly h JOIN st USING (event_type)
        |WHERE (h.cnt * st.n_hours - st.sum_c) * (h.cnt * st.n_hours - st.sum_c)
        |      > 4 * (st.n_hours * st.sum_c2 - st.sum_c * st.sum_c)
        |ORDER BY h.event_type, h.hour""".stripMargin,
    "events_funnel" ->
      """WITH e AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events
        |), s1 AS (
        |  SELECT user_id, min(ts_us) AS t1 FROM e WHERE event_type = 'view' GROUP BY 1
        |), s2 AS (
        |  SELECT e.user_id, min(ts_us) AS t2 FROM e JOIN s1 USING (user_id)
        |  WHERE event_type = 'click' AND ts_us > t1 AND ts_us <= t1 + 86400000000 GROUP BY 1
        |), s3 AS (
        |  SELECT e.user_id, min(ts_us) AS t3 FROM e JOIN s2 USING (user_id)
        |  WHERE event_type = 'purchase' AND ts_us > t2 AND ts_us <= t2 + 86400000000 GROUP BY 1
        |)
        |SELECT (SELECT CAST(count(DISTINCT user_id) AS BIGINT) FROM e) AS n_users,
        |       (SELECT CAST(count(*) AS BIGINT) FROM s1) AS n_stage1,
        |       (SELECT CAST(count(*) AS BIGINT) FROM s2) AS n_stage2,
        |       (SELECT CAST(count(*) AS BIGINT) FROM s3) AS n_stage3,
        |       round(CAST((SELECT count(*) FROM s2) AS DOUBLE)
        |             / CAST((SELECT count(*) FROM s1) AS DOUBLE), 6) AS conv_1_2,
        |       round(CAST((SELECT count(*) FROM s3) AS DOUBLE)
        |             / CAST((SELECT count(*) FROM s2) AS DOUBLE), 6) AS conv_2_3""".stripMargin,
    "conversion_lag" ->
      """WITH e AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events
        |), s1 AS (
        |  SELECT user_id, min(ts_us) AS t1 FROM e WHERE event_type = 'view' GROUP BY 1
        |), s2 AS (
        |  SELECT e.user_id, min(ts_us) AS t2 FROM e JOIN s1 USING (user_id)
        |  WHERE event_type = 'click' AND ts_us > t1 AND ts_us <= t1 + 86400000000 GROUP BY 1
        |), s3 AS (
        |  SELECT e.user_id, min(ts_us) AS t3 FROM e JOIN s2 USING (user_id)
        |  WHERE event_type = 'purchase' AND ts_us > t2 AND ts_us <= t2 + 86400000000 GROUP BY 1
        |), lg AS (
        |  SELECT 'click_to_purchase' AS grp0, (t3 - t2) / 1e6 AS lag_s
        |  FROM s1 JOIN s2 USING (user_id) JOIN s3 USING (user_id)
        |  UNION ALL
        |  SELECT 'view_to_click', (t2 - t1) / 1e6
        |  FROM s1 JOIN s2 USING (user_id) JOIN s3 USING (user_id)
        |  UNION ALL
        |  SELECT 'view_to_purchase', (t3 - t1) / 1e6
        |  FROM s1 JOIN s2 USING (user_id) JOIN s3 USING (user_id)
        |), r AS (
        |  SELECT grp0 AS grp,
        |         CAST(trunc(lag_s * 100.0) AS BIGINT) AS cents,
        |         row_number() OVER (PARTITION BY grp0
        |                            ORDER BY CAST(trunc(lag_s * 100.0) AS BIGINT)) AS rn,
        |         count(*) OVER (PARTITION BY grp0) AS n
        |  FROM lg
        |), t AS (
        |  SELECT grp, n, p,
        |         CAST(p AS DOUBLE) * CAST(n - 1 AS DOUBLE) / 100.0 AS pos
        |  FROM (SELECT DISTINCT grp, n FROM r),
        |       (SELECT unnest([25, 50, 75, 90]) AS p)
        |), tk AS (
        |  SELECT grp, p, n, pos, CAST(trunc(pos) AS BIGINT) AS k FROM t
        |)
        |SELECT tk.grp, tk.p, CAST(tk.n AS BIGINT) AS n,
        |       round((CAST(lo.cents AS DOUBLE)
        |              + (CAST(coalesce(hi.cents, lo.cents) AS DOUBLE)
        |                 - CAST(lo.cents AS DOUBLE))
        |                * (tk.pos - CAST(tk.k AS DOUBLE))) / 100.0, 6) AS q
        |FROM tk
        |JOIN r lo ON lo.grp = tk.grp AND lo.rn = tk.k + 1
        |LEFT JOIN r hi ON hi.grp = tk.grp AND hi.rn = tk.k + 2
        |ORDER BY 1, 2""".stripMargin,
    "audience_matrix" -> {
      val h = graft.functions.PortableHash.hash60Sql("CAST(user_id AS VARCHAR)")
      val finalize =
        """round(CASE WHEN 0.7213 / (1.0 + 1.079 / 256.0) * 65536.0 * 9007199254740992.0
          |                 / CAST(zp + (256 - nb) * (CAST(1 AS BIGINT) << 53) AS DOUBLE)
          |                 <= 640.0 AND (256 - nb) > 0
          |            THEN 256.0 * ln(256.0 / CAST(256 - nb AS DOUBLE))
          |            ELSE 0.7213 / (1.0 + 1.079 / 256.0) * 65536.0 * 9007199254740992.0
          |                 / CAST(zp + (256 - nb) * (CAST(1 AS BIGINT) << 53) AS DOUBLE)
          |            END, 6)""".stripMargin
      s"""WITH t AS (
         |  SELECT event_type AS cat, ($h) AS h, user_id FROM events
         |), r AS (
         |  SELECT cat, h & 255 AS bucket,
         |         max(CASE WHEN (h >> 8) = 0 THEN 53
         |                  ELSE 53 - length(bin(h >> 8)) END) AS m_j
         |  FROM t GROUP BY 1, 2
         |), cats AS (
         |  SELECT DISTINCT cat FROM r
         |), pr AS (
         |  SELECT a.cat AS cat_a, b.cat AS cat_b
         |  FROM cats a JOIN cats b ON a.cat < b.cat
         |), zc AS (
         |  SELECT cat, CAST(count(*) AS BIGINT) AS nb,
         |         CAST(sum(CAST(1 AS BIGINT) << (53 - m_j)) AS BIGINT) AS zp
         |  FROM r GROUP BY 1
         |), ec AS (
         |  SELECT cat, $finalize AS n_est FROM zc
         |), pu AS (
         |  SELECT pr.cat_a, pr.cat_b, r.bucket, max(r.m_j) AS m_j
         |  FROM pr JOIN r ON r.cat = pr.cat_a OR r.cat = pr.cat_b
         |  GROUP BY 1, 2, 3
         |), zu AS (
         |  SELECT cat_a, cat_b, CAST(count(*) AS BIGINT) AS nb,
         |         CAST(sum(CAST(1 AS BIGINT) << (53 - m_j)) AS BIGINT) AS zp
         |  FROM pu GROUP BY 1, 2
         |), eu AS (
         |  SELECT cat_a, cat_b, $finalize AS est_union FROM zu
         |), d AS (
         |  SELECT DISTINCT cat, user_id FROM t
         |), ex AS (
         |  SELECT x.cat AS cat_a, y.cat AS cat_b, CAST(count(*) AS BIGINT) AS n_exact_both
         |  FROM d x JOIN d y ON x.user_id = y.user_id AND x.cat < y.cat
         |  GROUP BY 1, 2
         |)
         |SELECT pr.cat_a, pr.cat_b,
         |       coalesce(ex.n_exact_both, 0) AS n_exact_both,
         |       ea.n_est AS est_a, eb.n_est AS est_b, eu.est_union,
         |       round(ea.n_est + eb.n_est - eu.est_union, 6) AS est_overlap
         |FROM pr
         |LEFT JOIN ex ON ex.cat_a = pr.cat_a AND ex.cat_b = pr.cat_b
         |JOIN ec ea ON ea.cat = pr.cat_a
         |JOIN ec eb ON eb.cat = pr.cat_b
         |JOIN eu ON eu.cat_a = pr.cat_a AND eu.cat_b = pr.cat_b
         |ORDER BY pr.cat_a, pr.cat_b""".stripMargin
    },
    "join_size_est" -> {
      val h = graft.functions.PortableHash
        .hash60Sql("'cms' || CAST(r AS VARCHAR) || ':' || CAST(user_id AS VARCHAR)")
      s"""WITH rows AS (
         |  SELECT unnest(generate_series(0, 3)) AS r
         |), st AS (
         |  SELECT r AS row, ($h) % 1024 AS bucket, CAST(count(*) AS BIGINT) AS c
         |  FROM events, rows GROUP BY 1, 2
         |), d AS (
         |  SELECT row, sum(CAST(c AS HUGEINT) * c) AS dot FROM st GROUP BY row
         |), est AS (
         |  SELECT CASE WHEN count(*) < 4 THEN 0 ELSE min(dot) END AS n_est FROM d
         |), ex AS (
         |  SELECT sum(CAST(c AS HUGEINT) * c) AS n_exact
         |  FROM (SELECT count(*) AS c FROM events GROUP BY user_id)
         |)
         |SELECT CAST(ex.n_exact AS BIGINT) AS n_exact,
         |       CAST(est.n_est AS BIGINT) AS n_est,
         |       CASE WHEN ex.n_exact > 0 THEN
         |         round(CAST(est.n_est - ex.n_exact AS DOUBLE)
         |               / CAST(ex.n_exact AS DOUBLE), 6)
         |       END AS rel_over
         |FROM ex CROSS JOIN est""".stripMargin
    },
    "approx_users" -> {
      val h = graft.functions.PortableHash.hash60Sql("CAST(user_id AS VARCHAR)")
      s"""WITH h AS (
         |  SELECT ($h) AS h FROM events
         |), b AS (
         |  SELECT h & 255 AS bucket, h >> 8 AS w FROM h
         |), r AS (
         |  SELECT bucket,
         |         max(CASE WHEN w = 0 THEN 53 ELSE 53 - length(bin(w)) END) AS m_j
         |  FROM b GROUP BY 1
         |), z AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_buckets,
         |         CAST(sum(CAST(1 AS BIGINT) << (53 - m_j)) AS BIGINT) AS z_present
         |  FROM r
         |), e AS (
         |  SELECT n_buckets, z_present,
         |         (256 - n_buckets) AS v,
         |         z_present + (256 - n_buckets) * (CAST(1 AS BIGINT) << 53) AS z_total
         |  FROM z
         |), est AS (
         |  SELECT v,
         |         0.7213 / (1.0 + 1.079 / 256.0) * 65536.0 * 9007199254740992.0
         |           / CAST(z_total AS DOUBLE) AS raw_e
         |  FROM e
         |), f AS (
         |  SELECT CASE WHEN raw_e <= 640.0 AND v > 0
         |              THEN 256.0 * ln(256.0 / CAST(v AS DOUBLE))
         |              ELSE raw_e END AS est
         |  FROM est
         |)
         |SELECT (SELECT CAST(count(DISTINCT user_id) AS BIGINT) FROM events) AS n_exact,
         |       round(est, 6) AS n_est,
         |       round(abs(round(est, 6)
         |                 - CAST((SELECT count(DISTINCT user_id) FROM events) AS DOUBLE))
         |             / CAST((SELECT count(DISTINCT user_id) FROM events) AS DOUBLE), 6)
         |         AS rel_err
         |FROM f""".stripMargin
    },
    "cumulative_users" -> {
      val h = graft.functions.PortableHash.hash60Sql("CAST(user_id AS VARCHAR)")
      s"""WITH e AS (
         |  SELECT CAST(ts AS DATE) AS day, user_id, ($h) AS h FROM events
         |), r AS (
         |  SELECT day, h & 255 AS bucket,
         |         max(CASE WHEN (h >> 8) = 0 THEN 53
         |                  ELSE 53 - length(bin(h >> 8)) END) AS m_j
         |  FROM e GROUP BY 1, 2
         |), grid AS (
         |  SELECT d.day, b.bucket
         |  FROM (SELECT DISTINCT day FROM r) d
         |  CROSS JOIN (SELECT DISTINCT bucket FROM r) b
         |), cum AS (
         |  SELECT g.day, g.bucket,
         |         max(r.m_j) OVER (PARTITION BY g.bucket ORDER BY g.day
         |                          ROWS UNBOUNDED PRECEDING) AS m_j
         |  FROM grid g LEFT JOIN r ON g.day = r.day AND g.bucket = r.bucket
         |), z AS (
         |  SELECT day, CAST(count(*) AS BIGINT) AS n_buckets,
         |         CAST(sum(CAST(1 AS BIGINT) << (53 - m_j)) AS BIGINT) AS z_present
         |  FROM cum WHERE m_j IS NOT NULL GROUP BY 1
         |), f AS (
         |  SELECT day, (256 - n_buckets) AS v,
         |         0.7213 / (1.0 + 1.079 / 256.0) * 65536.0 * 9007199254740992.0
         |           / CAST(z_present + (256 - n_buckets) * (CAST(1 AS BIGINT) << 53)
         |                  AS DOUBLE) AS raw_e
         |  FROM z
         |), est AS (
         |  SELECT day, round(CASE WHEN raw_e <= 640.0 AND v > 0
         |                    THEN 256.0 * ln(256.0 / CAST(v AS DOUBLE))
         |                    ELSE raw_e END, 6) AS n_est_cum
         |  FROM f
         |), fd AS (
         |  SELECT day, CAST(count(*) AS BIGINT) AS n_new
         |  FROM (SELECT user_id, min(day) AS day FROM e GROUP BY 1)
         |  GROUP BY 1
         |), ex AS (
         |  SELECT d.day,
         |         CAST(sum(coalesce(fd.n_new, 0)) OVER (ORDER BY d.day
         |              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_exact_cum
         |  FROM (SELECT DISTINCT day FROM r) d LEFT JOIN fd ON d.day = fd.day
         |)
         |SELECT ex.day, ex.n_exact_cum, est.n_est_cum
         |FROM ex JOIN est ON ex.day = est.day
         |ORDER BY ex.day""".stripMargin
    },
    "bloom_probe" -> {
      val hs = (0 until 3).map(i =>
        graft.functions.PortableHash.hash60Sql(s"'bloom$i:' || k"))
      s"""WITH fk AS (
         |  SELECT DISTINCT CAST(user_id AS VARCHAR) || ':' ||
         |         CAST(CAST(ts AS DATE) AS VARCHAR) AS k
         |  FROM events WHERE event_type = 'purchase'
         |), pk AS (
         |  SELECT DISTINCT CAST(user_id AS VARCHAR) || ':' ||
         |         CAST(CAST(ts AS DATE) AS VARCHAR) AS k
         |  FROM events
         |), fb AS (
         |  SELECT DISTINCT k, bit FROM (
         |    SELECT k, (${hs(0)}) % 16384 AS bit FROM fk
         |    UNION ALL SELECT k, (${hs(1)}) % 16384 FROM fk
         |    UNION ALL SELECT k, (${hs(2)}) % 16384 FROM fk)
         |), st AS (
         |  SELECT DISTINCT bit FROM fb
         |), pb AS (
         |  SELECT DISTINCT k, bit FROM (
         |    SELECT k, (${hs(0)}) % 16384 AS bit FROM pk
         |    UNION ALL SELECT k, (${hs(1)}) % 16384 FROM pk
         |    UNION ALL SELECT k, (${hs(2)}) % 16384 FROM pk)
         |), need AS (
         |  SELECT k, count(*) AS n_need FROM pb GROUP BY 1
         |), hit AS (
         |  SELECT pb.k, count(*) AS n_hit
         |  FROM pb JOIN st USING (bit) GROUP BY 1
         |), fl AS (
         |  SELECT need.k FROM need JOIN hit
         |  ON need.k = hit.k AND need.n_need = hit.n_hit
         |), tr AS (
         |  SELECT pk.k,
         |         CASE WHEN f2.k IS NULL THEN 0 ELSE 1 END AS in_f,
         |         CASE WHEN fl.k IS NULL THEN 0 ELSE 1 END AS is_fl
         |  FROM pk LEFT JOIN fk f2 ON pk.k = f2.k LEFT JOIN fl ON pk.k = fl.k
         |)
         |SELECT (SELECT CAST(count(*) AS BIGINT) FROM fk) AS n_filter_keys,
         |       (SELECT CAST(count(*) AS BIGINT) FROM st) AS n_set_bits,
         |       CAST(count(*) AS BIGINT) AS n_probes,
         |       CAST(sum(is_fl) AS BIGINT) AS n_flagged,
         |       CAST(sum(in_f) AS BIGINT) AS n_true_member,
         |       CAST(sum(is_fl * (1 - in_f)) AS BIGINT) AS n_false_pos,
         |       round(CAST(sum(is_fl * (1 - in_f)) AS DOUBLE)
         |             / CAST(count(*) - sum(in_f) AS DOUBLE), 6) AS fp_rate
         |FROM tr""".stripMargin
    },
    "hll_overlap" -> {
      val h = graft.functions.PortableHash.hash60Sql("CAST(user_id AS VARCHAR)")
      s"""WITH t AS (
         |  SELECT CASE WHEN event_type = 'view' THEN 'a' ELSE 'b' END AS side,
         |         ($h) AS h, user_id
         |  FROM events WHERE event_type IN ('view', 'purchase')
         |), r AS (
         |  SELECT side, h & 255 AS bucket,
         |         max(CASE WHEN (h >> 8) = 0 THEN 53
         |                  ELSE 53 - length(bin(h >> 8)) END) AS m_j
         |  FROM t GROUP BY 1, 2
         |), r3 AS (
         |  SELECT side AS tag, bucket, m_j FROM r
         |  UNION ALL
         |  SELECT 'u' AS tag, bucket, max(m_j) AS m_j FROM r GROUP BY 1, 2
         |), z AS (
         |  SELECT tag, CAST(count(*) AS BIGINT) AS n_buckets,
         |         CAST(sum(CAST(1 AS BIGINT) << (53 - m_j)) AS BIGINT) AS z_present
         |  FROM r3 GROUP BY 1
         |), e AS (
         |  SELECT tag, (256 - n_buckets) AS v,
         |         z_present + (256 - n_buckets) * (CAST(1 AS BIGINT) << 53) AS z_total
         |  FROM z
         |), f AS (
         |  SELECT tag, v,
         |         0.7213 / (1.0 + 1.079 / 256.0) * 65536.0 * 9007199254740992.0
         |           / CAST(z_total AS DOUBLE) AS raw_e
         |  FROM e
         |), est AS (
         |  SELECT tag, round(CASE WHEN raw_e <= 640.0 AND v > 0
         |                    THEN 256.0 * ln(256.0 / CAST(v AS DOUBLE))
         |                    ELSE raw_e END, 6) AS n_est
         |  FROM f
         |), ex AS (
         |  SELECT CAST(sum(in_a) AS BIGINT) AS n_exact_a,
         |         CAST(sum(in_b) AS BIGINT) AS n_exact_b,
         |         CAST(sum(in_a * in_b) AS BIGINT) AS n_exact_both
         |  FROM (SELECT user_id,
         |               max(CASE WHEN side = 'a' THEN 1 ELSE 0 END) AS in_a,
         |               max(CASE WHEN side = 'b' THEN 1 ELSE 0 END) AS in_b
         |        FROM t GROUP BY 1)
         |)
         |SELECT ex.n_exact_a, ex.n_exact_b, ex.n_exact_both,
         |       a.n_est AS est_a, b.n_est AS est_b, u.n_est AS est_union,
         |       round(a.n_est + b.n_est - u.n_est, 6) AS est_overlap
         |FROM ex,
         |     (SELECT n_est FROM est WHERE tag = 'a') a,
         |     (SELECT n_est FROM est WHERE tag = 'b') b,
         |     (SELECT n_est FROM est WHERE tag = 'u') u""".stripMargin
    },
    "hourly_users" -> {
      val h = graft.functions.PortableHash.hash60Sql("CAST(user_id AS VARCHAR)")
      s"""WITH h AS (
         |  SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour, ($h) AS h
         |  FROM events
         |), r AS (
         |  SELECT hour, h & 255 AS bucket,
         |         max(CASE WHEN (h >> 8) = 0 THEN 53 ELSE 53 - length(bin(h >> 8)) END) AS m_j
         |  FROM h GROUP BY 1, 2
         |), z AS (
         |  SELECT hour, CAST(count(*) AS BIGINT) AS n_buckets,
         |         CAST(sum(CAST(1 AS BIGINT) << (53 - m_j)) AS BIGINT) AS z_present
         |  FROM r GROUP BY 1
         |), e AS (
         |  SELECT hour, (256 - n_buckets) AS v,
         |         z_present + (256 - n_buckets) * (CAST(1 AS BIGINT) << 53) AS z_total
         |  FROM z
         |), f AS (
         |  SELECT hour, v,
         |         0.7213 / (1.0 + 1.079 / 256.0) * 65536.0 * 9007199254740992.0
         |           / CAST(z_total AS DOUBLE) AS raw_e
         |  FROM e
         |), est AS (
         |  SELECT hour,
         |         round(CASE WHEN raw_e <= 640.0 AND v > 0
         |                    THEN 256.0 * ln(256.0 / CAST(v AS DOUBLE))
         |                    ELSE raw_e END, 6) AS n_est
         |  FROM f
         |), x AS (
         |  SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour,
         |         CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact
         |  FROM events GROUP BY 1
         |)
         |SELECT x.hour, x.n_exact, est.n_est
         |FROM x JOIN est ON x.hour = est.hour
         |ORDER BY x.hour""".stripMargin
    },
    "events_hourly_hist" ->
      """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour,
        |       CAST(trunc(value / 10.0) AS INT) AS bin,
        |       CAST(count(*) AS BIGINT) AS cnt
        |FROM events
        |WHERE value IS NOT NULL AND NOT isnan(value)
        |GROUP BY 1, 2 ORDER BY hour, bin""".stripMargin,
    "events_json_stats" ->
      """SELECT event_type,
        |       CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(k) AS BIGINT) AS sum_k,
        |       min(k) AS min_k,
        |       max(k) AS max_k,
        |       round(CAST(sum(k) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS avg_k
        |FROM (SELECT event_type, CAST(json_extract_string(props, '$.k') AS INT) AS k
        |      FROM events)
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "events_range_join" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events
        |), l AS (
        |  SELECT user_id, event_id, ts_us,
        |         CASE WHEN ts_us - lag(ts_us) OVER
        |                (PARTITION BY user_id ORDER BY ts_us, event_id)
        |              > 1800000000 THEN 1 ELSE 0 END AS new_sess
        |  FROM e
        |), s AS (
        |  SELECT user_id, ts_us,
        |         sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
        |  FROM l
        |), g AS (
        |  SELECT user_id, CAST(sess_id AS BIGINT) AS sess_id,
        |         min(ts_us) AS start_us, max(ts_us) AS end_us
        |  FROM s GROUP BY user_id, sess_id
        |), sel AS (
        |  SELECT * FROM g WHERE user_id % 20 = 0
        |), err AS (
        |  SELECT epoch_us(ts) AS ts_us FROM events WHERE event_type = 'error'
        |)
        |SELECT sel.user_id, sel.sess_id, CAST(count(err.ts_us) AS BIGINT) AS n_errors
        |FROM sel LEFT JOIN err
        |  ON err.ts_us >= sel.start_us AND err.ts_us <= sel.end_us
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "funnel_paths" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type FROM events
        |), l AS (
        |  SELECT *, CASE WHEN ts_us - lag(ts_us) OVER
        |                   (PARTITION BY user_id ORDER BY ts_us, event_id)
        |                 > 1800000000 THEN 1 ELSE 0 END AS new_sess
        |  FROM e
        |), s AS (
        |  SELECT *, sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |                                ROWS UNBOUNDED PRECEDING) AS sess_id
        |  FROM l
        |), r AS (
        |  SELECT *, row_number() OVER (PARTITION BY user_id, sess_id
        |                               ORDER BY ts_us, event_id) AS rn
        |  FROM s
        |), p AS (
        |  SELECT user_id, sess_id, string_agg(event_type, '>' ORDER BY rn) AS path
        |  FROM r WHERE rn <= 3 GROUP BY 1, 2
        |)
        |SELECT path, CAST(count(*) AS BIGINT) AS n_sessions
        |FROM p GROUP BY 1 ORDER BY n_sessions DESC, path LIMIT 20""".stripMargin,
    "events_sessions" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events
        |), l AS (
        |  SELECT user_id, event_id, ts_us,
        |         CASE WHEN ts_us - lag(ts_us) OVER
        |                (PARTITION BY user_id ORDER BY ts_us, event_id)
        |              > 1800000000 THEN 1 ELSE 0 END AS new_sess
        |  FROM e
        |), s AS (
        |  SELECT user_id, ts_us,
        |         sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
        |  FROM l
        |)
        |SELECT user_id, CAST(sess_id AS BIGINT) AS sess_id,
        |       CAST(count(*) AS BIGINT) AS n_events,
        |       min(ts_us) AS start_us, max(ts_us) AS end_us,
        |       max(ts_us) - min(ts_us) AS duration_us
        |FROM s GROUP BY user_id, sess_id ORDER BY user_id, sess_id""".stripMargin,
    "events_asof" ->
      """WITH ev AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type, value FROM events
        |), u AS (
        |  SELECT user_id, ts_us, 1 AS side, event_id, CAST(NULL AS DOUBLE) AS pv FROM ev
        |  UNION ALL
        |  SELECT user_id, ts_us, 0 AS side, NULL AS event_id, value AS pv
        |  FROM ev WHERE event_type = 'purchase'
        |), c AS (
        |  SELECT user_id, ts_us, side, event_id,
        |         last_value(pv IGNORE NULLS) OVER (
        |           PARTITION BY user_id ORDER BY ts_us, side, pv
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_purchase_value
        |  FROM u
        |)
        |SELECT event_id, user_id, ts_us, last_purchase_value
        |FROM c WHERE side = 1 ORDER BY event_id""".stripMargin,
    "seasonal_decompose" ->
      """WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS k,
        |         coalesce(CAST(sum(CASE WHEN value IS NOT NULL AND NOT isnan(value)
        |                        THEN CAST(trunc(value * 100.0) AS BIGINT) END) AS BIGINT),
        |                  CAST(0 AS BIGINT)) AS xs
        |  FROM events GROUP BY 1
        |), det AS (
        |  SELECT CAST(isodow(k) AS INT) AS iso_dow,
        |         7 * xs - sum(xs) OVER (ORDER BY k
        |           ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS d7,
        |         count(*) OVER (ORDER BY k
        |           ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS c7
        |  FROM daily
        |)
        |SELECT iso_dow, CAST(count(*) AS BIGINT) AS n_days,
        |       CAST(sum(d7) AS BIGINT) AS sum_detr7_c,
        |       round(CAST(sum(d7) AS DOUBLE)
        |             / (CAST(count(*) AS DOUBLE) * 700.0), 6) AS seasonal
        |FROM det WHERE c7 = 7
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "dow_seasonality" ->
      """SELECT CAST(isodow(ts) AS INT) AS iso_dow,
        |       CAST(hour(ts) AS INT) AS hour_of_day,
        |       CAST(count(*) AS BIGINT) AS n_events,
        |       CAST(sum(CASE WHEN value IS NOT NULL AND NOT isnan(value)
        |                     THEN CAST(trunc(value * 100.0) AS BIGINT) END)
        |            AS BIGINT) AS rev_c
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "minute_gapfill" ->
      """WITH e AS (
        |  SELECT CAST(date_trunc('minute', ts) AS TIMESTAMP) AS minute,
        |         CASE WHEN value IS NOT NULL AND NOT isnan(value)
        |              THEN CAST(trunc(value * 100.0) AS BIGINT) END AS cents
        |  FROM events
        |), pm AS (
        |  SELECT minute, CAST(count(*) AS BIGINT) AS n_events,
        |         CAST(sum(cents) AS BIGINT) AS rev_c
        |  FROM e GROUP BY 1
        |), cal AS (
        |  SELECT unnest(generate_series((SELECT min(minute) FROM pm),
        |                                (SELECT max(minute) FROM pm),
        |                                INTERVAL 1 MINUTE)) AS minute
        |), j AS (
        |  SELECT cal.minute,
        |         CAST(coalesce(pm.n_events, 0) AS BIGINT) AS n_events,
        |         CASE WHEN pm.n_events IS NULL THEN 1 ELSE 0 END AS is_gap,
        |         pm.rev_c
        |  FROM cal LEFT JOIN pm USING (minute)
        |)
        |SELECT minute, n_events, is_gap, rev_c,
        |       last_value(rev_c IGNORE NULLS) OVER (
        |         ORDER BY minute
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rev_c_filled
        |FROM j ORDER BY minute""".stripMargin,
    "drift_ks" ->
      """WITH e AS (
        |  SELECT CAST(trunc(value * 100.0) AS BIGINT) AS c,
        |         CASE WHEN user_id % 2 = 0 THEN CAST(1 AS BIGINT)
        |              ELSE CAST(0 AS BIGINT) END AS a
        |  FROM events WHERE value IS NOT NULL AND NOT isnan(value)
        |), st AS (
        |  SELECT min(c) AS minc, max(c) AS maxc FROM e
        |), b AS (
        |  SELECT ((c - minc) * 256) // (maxc - minc + 1) AS bin, a
        |  FROM e CROSS JOIN st
        |), g AS (
        |  SELECT bin, CAST(sum(a) AS BIGINT) AS n_a,
        |         CAST(sum(1 - a) AS BIGINT) AS n_b
        |  FROM b GROUP BY bin
        |), w AS (
        |  SELECT sum(n_a) OVER (ORDER BY bin
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ca,
        |         sum(n_b) OVER (ORDER BY bin
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cb,
        |         sum(n_a) OVER () AS ta,
        |         sum(n_b) OVER () AS tb
        |  FROM g
        |), d AS (
        |  SELECT CAST(max(ta) AS BIGINT) AS n_a, CAST(max(tb) AS BIGINT) AS n_b,
        |         round(max(abs(CAST(ca AS DOUBLE) / CAST(ta AS DOUBLE)
        |                       - CAST(cb AS DOUBLE) / CAST(tb AS DOUBLE))), 6) AS ks_stat
        |  FROM w
        |)
        |SELECT n_a, n_b, ks_stat,
        |       round(1.3581015 * sqrt((CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE))
        |                              / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))), 6)
        |         AS ks_crit,
        |       ks_stat > round(1.3581015 * sqrt((CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE))
        |                                        / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))), 6)
        |         AS drifted
        |FROM d""".stripMargin,
    "chi2_drift" ->
      """WITH st AS (
        |  SELECT (min(epoch_us(ts)) + max(epoch_us(ts))) // 2 AS mid FROM events
        |), g AS (
        |  SELECT event_type,
        |         CAST(sum(CASE WHEN epoch_us(ts) <= mid THEN 1 ELSE 0 END) AS BIGINT)
        |           AS n_early,
        |         CAST(sum(CASE WHEN epoch_us(ts) <= mid THEN 0 ELSE 1 END) AS BIGINT)
        |           AS n_late
        |  FROM events CROSS JOIN st GROUP BY event_type
        |), t AS (
        |  SELECT event_type, n_early, n_late,
        |         sum(n_early) OVER () AS te, sum(n_late) OVER () AS tl
        |  FROM g
        |)
        |SELECT event_type, n_early, n_late,
        |       round((CAST(n_early AS DOUBLE) + CAST(n_late AS DOUBLE))
        |             * CAST(te AS DOUBLE)
        |             / (CAST(te AS DOUBLE) + CAST(tl AS DOUBLE)), 6) AS exp_early,
        |       round((CAST(n_early AS DOUBLE)
        |              - (CAST(n_early AS DOUBLE) + CAST(n_late AS DOUBLE))
        |                * CAST(te AS DOUBLE) / (CAST(te AS DOUBLE) + CAST(tl AS DOUBLE)))
        |             * (CAST(n_early AS DOUBLE)
        |                - (CAST(n_early AS DOUBLE) + CAST(n_late AS DOUBLE))
        |                  * CAST(te AS DOUBLE) / (CAST(te AS DOUBLE) + CAST(tl AS DOUBLE)))
        |             / ((CAST(n_early AS DOUBLE) + CAST(n_late AS DOUBLE))
        |                * CAST(te AS DOUBLE) / (CAST(te AS DOUBLE) + CAST(tl AS DOUBLE)))
        |             + (CAST(n_late AS DOUBLE)
        |                - (CAST(n_early AS DOUBLE) + CAST(n_late AS DOUBLE))
        |                  * CAST(tl AS DOUBLE) / (CAST(te AS DOUBLE) + CAST(tl AS DOUBLE)))
        |               * (CAST(n_late AS DOUBLE)
        |                  - (CAST(n_early AS DOUBLE) + CAST(n_late AS DOUBLE))
        |                    * CAST(tl AS DOUBLE) / (CAST(te AS DOUBLE) + CAST(tl AS DOUBLE)))
        |               / ((CAST(n_early AS DOUBLE) + CAST(n_late AS DOUBLE))
        |                  * CAST(tl AS DOUBLE) / (CAST(te AS DOUBLE) + CAST(tl AS DOUBLE))), 6)
        |         AS chi2_contrib
        |FROM t ORDER BY event_type""".stripMargin,
    "events_twap" ->
      """WITH e AS (
        |  SELECT event_type, epoch_us(ts) AS ts_us, event_id,
        |         epoch_us(ts) // 86400000000 AS day,
        |         CAST(trunc(value * 100.0) AS BIGINT) AS cents
        |  FROM events WHERE value IS NOT NULL AND NOT isnan(value)
        |), g AS (
        |  SELECT event_type, cents,
        |         lead(ts_us) OVER (PARTITION BY event_type, day
        |                           ORDER BY ts_us, event_id) - ts_us AS gap_us
        |  FROM e
        |)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_intervals,
        |       CAST(sum(gap_us) AS BIGINT) AS span_us,
        |       round(CAST(sum(CAST(cents AS HUGEINT) * gap_us) AS DOUBLE)
        |             / CAST(sum(gap_us) AS DOUBLE), 6) AS twap_c
        |FROM g WHERE gap_us IS NOT NULL
        |GROUP BY 1 ORDER BY event_type""".stripMargin,
    "events_debounce" ->
      """WITH e AS (
        |  SELECT event_type,
        |         epoch_us(ts) - lag(epoch_us(ts)) OVER (
        |           PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS d_us
        |  FROM events
        |)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_total,
        |       CAST(sum(CASE WHEN d_us IS NULL OR d_us > 5000000 THEN 1 ELSE 0 END)
        |            AS BIGINT) AS n_kept
        |FROM e GROUP BY 1 ORDER BY event_type""".stripMargin,
    "interarrival_hist" ->
      """WITH e AS (
        |  SELECT epoch_us(ts) - lag(epoch_us(ts)) OVER (
        |           PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS d_us
        |  FROM events
        |)
        |SELECT CAST(length(bin(d_us)) AS INT) AS bucket,
        |       CAST(count(*) AS BIGINT) AS n_gaps,
        |       min(d_us) AS min_gap_us, max(d_us) AS max_gap_us
        |FROM e WHERE d_us IS NOT NULL
        |GROUP BY 1 ORDER BY bucket""".stripMargin,
    "event_burstiness" ->
      """WITH e AS (
        |  SELECT event_type,
        |         epoch_us(ts) - lag(epoch_us(ts)) OVER (
        |           PARTITION BY user_id, event_type
        |           ORDER BY epoch_us(ts), event_id) AS d_us
        |  FROM events
        |), g AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_gaps,
        |         CAST(sum(d_us) AS BIGINT) AS s,
        |         sum(CAST(d_us AS HUGEINT) * CAST(d_us AS HUGEINT)) AS q
        |  FROM e WHERE d_us IS NOT NULL GROUP BY 1
        |), f AS (
        |  SELECT event_type, n_gaps, s,
        |         CAST(s AS DOUBLE) / CAST(n_gaps AS DOUBLE) AS mu,
        |         CASE WHEN n_gaps > 1 THEN
        |           sqrt(CAST(CAST(n_gaps AS HUGEINT) * q
        |                     - CAST(s AS HUGEINT) * CAST(s AS HUGEINT) AS DOUBLE)
        |                / (CAST(n_gaps AS DOUBLE) * CAST(n_gaps - 1 AS DOUBLE)))
        |         END AS sigma
        |  FROM g
        |)
        |SELECT event_type, n_gaps,
        |       round(mu / 1e6, 6) AS mean_gap_s,
        |       CASE WHEN n_gaps > 1 THEN round(sigma / 1e6, 6) END AS sd_gap_s,
        |       CASE WHEN n_gaps > 1 AND sigma + mu > 0
        |            THEN round((sigma - mu) / (sigma + mu), 6) END AS burstiness
        |FROM f ORDER BY event_type""".stripMargin,
    "rolling_7d" ->
      """WITH d AS (
        |  SELECT epoch_us(ts) // 86400000000 AS day,
        |         CASE WHEN value IS NOT NULL AND NOT isnan(value)
        |              THEN CAST(trunc(value * 100.0) AS BIGINT) END AS cents
        |  FROM events
        |), g AS (
        |  SELECT day, CAST(count(*) AS BIGINT) AS n_events,
        |         CAST(sum(cents) AS BIGINT) AS rev_c
        |  FROM d GROUP BY day
        |)
        |SELECT day, n_events, rev_c,
        |       CAST(sum(n_events) OVER (ORDER BY day
        |         RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT) AS n_7d,
        |       CAST(sum(rev_c) OVER (ORDER BY day
        |         RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT) AS rev_7d
        |FROM g ORDER BY day""".stripMargin,
    "attribution_markov" -> markovOracleSql,
    "attribution_shapley" -> shapleyOracleSql,
    "uplift_qini" ->
      """WITH u AS (
        |  SELECT user_id,
        |         max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS y,
        |         CAST(least(sum(CASE WHEN event_type IN ('click', 'view')
        |                             THEN 1 ELSE 0 END), 32) AS BIGINT) AS score
        |  FROM events GROUP BY 1
        |), tt AS (
        |  SELECT score, CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS t, y FROM u
        |), g AS (
        |  SELECT score,
        |         CAST(sum(t) AS BIGINT) AS n_t,
        |         CAST(sum(1 - t) AS BIGINT) AS n_c,
        |         CAST(sum(t * y) AS BIGINT) AS y_t,
        |         CAST(sum((1 - t) * y) AS BIGINT) AS y_c
        |  FROM tt GROUP BY 1
        |), c AS (
        |  SELECT score, n_t, n_c, y_t, y_c,
        |         CAST(sum(n_t) OVER w AS BIGINT) AS cum_nt,
        |         CAST(sum(n_c) OVER w AS BIGINT) AS cum_nc,
        |         CAST(sum(y_t) OVER w AS BIGINT) AS cum_yt,
        |         CAST(sum(y_c) OVER w AS BIGINT) AS cum_yc
        |  FROM g
        |  WINDOW w AS (ORDER BY score DESC
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |)
        |SELECT score, n_t, n_c, y_t, y_c, cum_nt, cum_nc, cum_yt, cum_yc,
        |       CASE WHEN cum_nc > 0 THEN
        |         round(CAST(cum_yt AS DOUBLE)
        |               - CAST(cum_yc AS DOUBLE) * CAST(cum_nt AS DOUBLE)
        |                 / CAST(cum_nc AS DOUBLE), 6) END AS qini
        |FROM c ORDER BY score DESC""".stripMargin,
    "attribution" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us, event_id, event_type,
        |         CASE WHEN value IS NOT NULL AND NOT isnan(value)
        |              THEN CAST(trunc(value * 100.0) AS BIGINT) END AS cents,
        |         last_value(CASE WHEN event_type IN ('click', 'view')
        |                         THEN event_type END IGNORE NULLS)
        |           OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS chan
        |  FROM events
        |)
        |SELECT coalesce(chan, 'none') AS channel,
        |       CAST(count(*) AS BIGINT) AS n_purchases,
        |       CAST(sum(cents) AS BIGINT) AS rev_c
        |FROM e WHERE event_type = 'purchase'
        |GROUP BY 1 ORDER BY channel""".stripMargin,
    "events_ewma" -> {
      val K = 8
      val lagCols = (0 until K)
        .map(j => s"lag(cents, $j) OVER w AS l$j")
        .mkString(",\n        |         ")
      val num = (0 until K)
        .map(j => s"CASE WHEN l$j IS NOT NULL THEN l$j * ${1L << (K - 1 - j)} ELSE 0 END")
        .mkString("(", "\n        |          + ", ")")
      val den = (0 until K)
        .map(j => s"CASE WHEN l$j IS NOT NULL THEN ${1L << (K - 1 - j)} ELSE 0 END")
        .mkString("(", " + ", ")")
      s"""WITH e AS (
         |  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
         |         CAST(trunc(value * 100.0) AS BIGINT) AS cents
         |  FROM events WHERE value IS NOT NULL AND NOT isnan(value)
         |), l AS (
         |  SELECT user_id,
         |         $lagCols,
         |         row_number() OVER (PARTITION BY user_id
         |           ORDER BY ts_us DESC, event_id DESC) AS rn,
         |         CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT) AS n
         |  FROM e
         |  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
         |)
         |SELECT user_id, n AS n_events, l0 AS last_cents,
         |       round(CAST($num AS DOUBLE)
         |             / CAST($den AS DOUBLE), 6) AS ewma_cents
         |FROM l WHERE rn = 1 ORDER BY user_id""".stripMargin
    },
    "skew_spend" ->
      """SELECT event_type,
        |       CAST(sum(CAST(trunc(value * 100.0) AS BIGINT)) AS BIGINT) AS spend_c
        |FROM events
        |WHERE value IS NOT NULL AND NOT isnan(value)
        |GROUP BY 1 ORDER BY event_type""".stripMargin,
    "revenue_forecast" -> {
      val K = 8
      val lagCols = (0 until K)
        .map(j => s"lag(rev_c, $j) OVER w AS lv$j,\n        |         lag(diff_c, $j) OVER w AS tr$j")
        .mkString(",\n        |         ")
      def num(p: String) = (0 until K)
        .map(j => s"CASE WHEN $p$j IS NOT NULL THEN $p$j * ${1L << (K - 1 - j)} ELSE 0 END")
        .mkString("(", "\n        |            + ", ")")
      def den(p: String) = (0 until K)
        .map(j => s"CASE WHEN $p$j IS NOT NULL THEN ${1L << (K - 1 - j)} ELSE 0 END")
        .mkString("(", " + ", ")")
      s"""WITH d AS (
         |  SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
         |         CAST(sum(CAST(trunc(value * 100.0) AS BIGINT)) AS BIGINT) AS rev_c
         |  FROM events WHERE value IS NOT NULL AND NOT isnan(value)
         |  GROUP BY 1
         |), wd AS (
         |  SELECT day, rev_c,
         |         rev_c - lag(rev_c, 1) OVER (ORDER BY day) AS diff_c
         |  FROM d
         |), lg AS (
         |  SELECT day,
         |         $lagCols,
         |         row_number() OVER (ORDER BY day DESC) AS rn
         |  FROM wd
         |  WINDOW w AS (ORDER BY day)
         |), lt AS (
         |  SELECT CAST(${num("lv")} AS DOUBLE) AS num_l,
         |         CAST(${den("lv")} AS DOUBLE) AS den_l,
         |         CAST(${num("tr")} AS DOUBLE) AS num_t,
         |         CAST(${den("tr")} AS DOUBLE) AS den_t
         |  FROM lg WHERE rn = 1
         |)
         |SELECT CAST(hs.h AS INT) AS h,
         |       round(num_l / den_l, 6) AS level_c,
         |       CASE WHEN den_t > 0.0 THEN round(num_t / den_t, 6) END AS trend_c,
         |       round(num_l / den_l
         |             + (247.0 / 255.0 + CAST(hs.h AS DOUBLE))
         |               * (CASE WHEN den_t > 0.0 THEN num_t / den_t ELSE 0.0 END),
         |             6) AS forecast_c
         |FROM lt CROSS JOIN (SELECT unnest(generate_series(1, 7)) AS h) hs
         |ORDER BY h""".stripMargin
    },
    "revenue_forecast_seasonal" -> {
      val K = 8
      val lagCols = (0 until K)
        .map(j => s"lag(rev_c, $j) OVER w AS lv$j,\n        |         lag(diff_c, $j) OVER w AS tr$j")
        .mkString(",\n        |         ")
      def num(p: String) = (0 until K)
        .map(j => s"CASE WHEN $p$j IS NOT NULL THEN $p$j * ${1L << (K - 1 - j)} ELSE 0 END")
        .mkString("(", "\n        |            + ", ")")
      def den(p: String) = (0 until K)
        .map(j => s"CASE WHEN $p$j IS NOT NULL THEN ${1L << (K - 1 - j)} ELSE 0 END")
        .mkString("(", " + ", ")")
      val fc = "num_l / den_l + (247.0 / 255.0 + CAST(h AS DOUBLE)) " +
        "* (CASE WHEN den_t > 0.0 THEN num_t / den_t ELSE 0.0 END)"
      s"""WITH d AS (
         |  SELECT CAST(ts AS DATE) AS day,
         |         CAST(sum(CAST(trunc(value * 100.0) AS BIGINT)) AS BIGINT) AS rev_c
         |  FROM events WHERE value IS NOT NULL AND NOT isnan(value)
         |  GROUP BY 1
         |), wd AS (
         |  SELECT day, rev_c,
         |         rev_c - lag(rev_c, 1) OVER (ORDER BY day) AS diff_c
         |  FROM d
         |), lg AS (
         |  SELECT day,
         |         $lagCols,
         |         row_number() OVER (ORDER BY day DESC) AS rn
         |  FROM wd
         |  WINDOW w AS (ORDER BY day)
         |), lt AS (
         |  SELECT day AS last_day,
         |         CAST(${num("lv")} AS DOUBLE) AS num_l,
         |         CAST(${den("lv")} AS DOUBLE) AS den_l,
         |         CAST(${num("tr")} AS DOUBLE) AS num_t,
         |         CAST(${den("tr")} AS DOUBLE) AS den_t
         |  FROM lg WHERE rn = 1
         |), det AS (
         |  SELECT CAST(isodow(day) AS INT) AS iso_dow,
         |         7 * rev_c - sum(rev_c) OVER (ORDER BY day
         |           ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS d7,
         |         count(*) OVER (ORDER BY day
         |           ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS c7
         |  FROM d
         |), idx AS (
         |  SELECT iso_dow,
         |         CAST(sum(d7) AS DOUBLE) / (CAST(count(*) AS DOUBLE) * 7.0) AS idx_c
         |  FROM det WHERE c7 = 7 GROUP BY 1
         |), hz AS (
         |  SELECT CAST(hs.h AS INT) AS h, lt.num_l, lt.den_l, lt.num_t, lt.den_t,
         |         CAST(isodow(lt.last_day + CAST(hs.h AS INTEGER)) AS INT) AS iso_dow
         |  FROM lt CROSS JOIN (SELECT unnest(generate_series(1, 7)) AS h) hs
         |)
         |SELECT h, iso_dow,
         |       round($fc, 6) AS forecast_c,
         |       round(coalesce(idx.idx_c, 0.0), 6) AS seasonal_c,
         |       round($fc + coalesce(idx.idx_c, 0.0), 6) AS forecast_seasonal_c
         |FROM hz LEFT JOIN idx USING (iso_dow)
         |ORDER BY h""".stripMargin
    },
    "revenue_theilsen" ->
      """WITH d0 AS (
        |  SELECT epoch_us(CAST(date_trunc('day', ts) AS TIMESTAMP)) // 86400000000 AS xd,
        |         CAST(sum(CAST(trunc(value * 100.0) AS BIGINT)) AS BIGINT) AS y
        |  FROM events WHERE value IS NOT NULL AND NOT isnan(value)
        |  GROUP BY 1
        |), d AS (
        |  SELECT xd - (SELECT min(xd) FROM d0) AS x, y FROM d0
        |), p AS (
        |  SELECT CAST(round(CAST(b.y - a.y AS DOUBLE) / CAST(b.x - a.x AS DOUBLE)
        |              * 1000000000.0) AS BIGINT) AS s_nano
        |  FROM d a JOIN d b ON a.x < b.x
        |), sm AS (
        |  SELECT s_nano, row_number() OVER (ORDER BY s_nano) AS rn,
        |         CAST(count(*) OVER () AS BIGINT) AS m
        |  FROM p
        |), sl AS (
        |  SELECT m AS n_pairs, s_nano AS slope_nano FROM sm WHERE rn = (m + 1) // 2
        |), r AS (
        |  SELECT sl.n_pairs, sl.slope_nano,
        |         d.y * 1000000000 - sl.slope_nano * d.x AS r_nano
        |  FROM d CROSS JOIN sl
        |), rm AS (
        |  SELECT n_pairs, slope_nano, r_nano,
        |         row_number() OVER (ORDER BY r_nano) AS rn,
        |         CAST(count(*) OVER () AS BIGINT) AS n_days
        |  FROM r
        |)
        |SELECT n_days, n_pairs, slope_nano,
        |       round(CAST(slope_nano AS DOUBLE) / 1000000000.0, 6) AS slope_c_per_day,
        |       round(CAST(r_nano AS DOUBLE) / 1000000000.0, 6) AS intercept_c
        |FROM rm WHERE rn = (n_days + 1) // 2""".stripMargin,
    "revenue_anomaly" -> {
      val K = 8
      val lagCols = (1 to K)
        .map(j => s"lag(y, $j) OVER w AS p$j")
        .mkString(",\n        |         ")
      val num = (1 to K)
        .map(j => s"CASE WHEN p$j IS NOT NULL THEN p$j * ${1L << (K - j)} ELSE 0 END")
        .mkString("(", "\n        |          + ", ")")
      val den = (1 to K)
        .map(j => s"CASE WHEN p$j IS NOT NULL THEN ${1L << (K - j)} ELSE 0 END")
        .mkString("(", " + ", ")")
      val devSum = (1 to K)
        .map(j =>
          s"CASE WHEN p$j IS NOT NULL THEN abs(CAST(p$j AS HUGEINT) * den - num) " +
            "ELSE CAST(0 AS HUGEINT) END")
        .mkString("(", "\n        |          + ", ")")
      val nPrior = (1 to K)
        .map(j => s"CASE WHEN p$j IS NOT NULL THEN 1 ELSE 0 END")
        .mkString("(", " + ", ")")
      s"""WITH d AS (
         |  SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
         |         CAST(sum(CAST(trunc(value * 100.0) AS BIGINT)) AS BIGINT) AS y
         |  FROM events WHERE value IS NOT NULL AND NOT isnan(value)
         |  GROUP BY 1
         |), lg AS (
         |  SELECT day, y,
         |         $lagCols
         |  FROM d WINDOW w AS (ORDER BY day)
         |), b AS (
         |  SELECT day, y, ${(1 to K).map(j => s"p$j").mkString(", ")},
         |         $num AS num,
         |         $den AS den
         |  FROM lg
         |), f AS (
         |  SELECT day, y, num, den,
         |         $devSum AS dev_sum,
         |         $nPrior AS n_prior
         |  FROM b WHERE den > 0
         |)
         |SELECT day, y AS rev_c,
         |       round(CAST(num AS DOUBLE) / CAST(den AS DOUBLE), 6) AS ewma_prev_c,
         |       round(CAST(dev_sum AS DOUBLE)
         |             / (CAST(den AS DOUBLE) * CAST(n_prior AS DOUBLE)), 6) AS dev_prev_c
         |FROM f
         |WHERE n_prior >= 3
         |  AND abs(CAST(y AS HUGEINT) * den - num) * n_prior > dev_sum * 3
         |ORDER BY day""".stripMargin
    },
    "forecast_backtest" -> {
      val K = 8
      val lagCols = (1 to K)
        .map(j => s"lag(y, $j) OVER w AS y$j,\n        |         lag(d1, $j) OVER w AS d$j")
        .mkString(",\n        |         ")
      def num(p: String) = (1 to K)
        .map(j => s"CASE WHEN $p$j IS NOT NULL THEN $p$j * ${1L << (K - j)} ELSE 0 END")
        .mkString("(", "\n        |            + ", ")")
      def den(p: String) = (1 to K)
        .map(j => s"CASE WHEN $p$j IS NOT NULL THEN ${1L << (K - j)} ELSE 0 END")
        .mkString("(", " + ", ")")
      s"""WITH d AS (
         |  SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
         |         CAST(sum(CAST(trunc(value * 100.0) AS BIGINT)) AS BIGINT) AS y
         |  FROM events WHERE value IS NOT NULL AND NOT isnan(value)
         |  GROUP BY 1
         |), wd AS (
         |  SELECT day, y, y - lag(y, 1) OVER (ORDER BY day) AS d1 FROM d
         |), lg AS (
         |  SELECT day, y, lag(y, 7) OVER w AS ys,
         |         $lagCols
         |  FROM wd WINDOW w AS (ORDER BY day)
         |), f AS (
         |  SELECT y, ys, y1,
         |         ${num("y")} AS num_l,
         |         ${den("y")} AS den_l,
         |         ${num("d")} AS num_t,
         |         ${den("d")} AS den_t
         |  FROM lg WHERE ys IS NOT NULL
         |), e AS (
         |  SELECT CAST(round(abs(CAST(y - y1 AS DOUBLE)) * 1000000000.0) AS BIGINT)
         |           AS e_naive,
         |         CAST(round(abs(CAST(y - ys AS DOUBLE)) * 1000000000.0) AS BIGINT)
         |           AS e_seasonal,
         |         CAST(round(abs(CAST(y AS DOUBLE)
         |              - (CAST(num_l AS DOUBLE) / CAST(den_l AS DOUBLE)
         |                 + (502.0 / 255.0)
         |                   * (CASE WHEN den_t > 0
         |                           THEN CAST(num_t AS DOUBLE) / CAST(den_t AS DOUBLE)
         |                           ELSE 0.0 END))) * 1000000000.0) AS BIGINT) AS e_holt
         |  FROM f
         |), g AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_eval,
         |         CAST(sum(e_naive) AS BIGINT) AS s_naive,
         |         CAST(sum(e_seasonal) AS BIGINT) AS s_seasonal,
         |         CAST(sum(e_holt) AS BIGINT) AS s_holt
         |  FROM e
         |)
         |SELECT n_eval,
         |       round(CAST(s_naive AS DOUBLE)
         |             / (CAST(n_eval AS DOUBLE) * 1000000000.0), 6) AS mae_naive_c,
         |       round(CAST(s_seasonal AS DOUBLE)
         |             / (CAST(n_eval AS DOUBLE) * 1000000000.0), 6) AS mae_seasonal_c,
         |       round(CAST(s_holt AS DOUBLE)
         |             / (CAST(n_eval AS DOUBLE) * 1000000000.0), 6) AS mae_holt_c,
         |       CASE WHEN s_naive > 0
         |            THEN round(CAST(s_holt AS DOUBLE) / CAST(s_naive AS DOUBLE), 6)
         |       END AS mase_holt,
         |       CASE WHEN s_naive > 0
         |            THEN round(CAST(s_seasonal AS DOUBLE) / CAST(s_naive AS DOUBLE), 6)
         |       END AS mase_seasonal
         |FROM g""".stripMargin
    },
    "ab_stratified" ->
      """WITH e AS (
        |  SELECT user_id % 2 AS arm, event_type AS stratum,
        |         CAST(trunc(value * 100.0) AS BIGINT) AS cents
        |  FROM events WHERE value IS NOT NULL AND NOT isnan(value)
        |), c AS (
        |  SELECT stratum,
        |         CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |         CAST(sum(CASE WHEN arm = 0 THEN cents ELSE 0 END) AS BIGINT) AS s_a,
        |         CAST(sum(CASE WHEN arm <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
        |         CAST(sum(CASE WHEN arm <> 0 THEN cents ELSE 0 END) AS BIGINT) AS s_b
        |  FROM e GROUP BY 1
        |), t AS (
        |  SELECT CAST(sum(n_a + n_b) AS BIGINT) AS n_tot,
        |         CAST(sum(n_a) AS BIGINT) AS ta, CAST(sum(n_b) AS BIGINT) AS tb,
        |         CAST(sum(s_a) AS BIGINT) AS sa, CAST(sum(s_b) AS BIGINT) AS sb
        |  FROM c
        |), k AS (
        |  SELECT t.ta AS n_a, t.tb AS n_b,
        |         CAST(sum(CASE WHEN c.n_a > 0 AND c.n_b > 0 THEN 1 ELSE 0 END)
        |              AS BIGINT) AS n_strata,
        |         CAST(sum(CASE WHEN c.n_a > 0 AND c.n_b > 0 THEN 0 ELSE 1 END)
        |              AS BIGINT) AS n_skipped,
        |         max(CAST(t.sa AS DOUBLE) / CAST(t.ta AS DOUBLE)
        |             - CAST(t.sb AS DOUBLE) / CAST(t.tb AS DOUBLE)) AS raw,
        |         CAST(sum(CASE WHEN c.n_a > 0 AND c.n_b > 0 THEN
        |           CAST(round(1e9
        |                * (CAST(c.n_a + c.n_b AS DOUBLE) / CAST(t.n_tot AS DOUBLE))
        |                * (CAST(c.s_a AS DOUBLE) / CAST(c.n_a AS DOUBLE)
        |                   - CAST(c.s_b AS DOUBLE) / CAST(c.n_b AS DOUBLE)))
        |                AS BIGINT) ELSE 0 END) AS BIGINT) AS strat_n
        |  FROM c CROSS JOIN t GROUP BY 1, 2
        |)
        |SELECT n_a, n_b, n_strata, n_skipped,
        |       round(raw, 6) AS diff_raw_c,
        |       round(CAST(strat_n AS DOUBLE) / 1e9, 6) AS diff_strat_c
        |FROM k""".stripMargin,
    "ab_fdr" ->
      """WITH e AS (
        |  SELECT event_type,
        |         CASE WHEN user_id % 2 = 0 THEN CAST(1 AS BIGINT)
        |              ELSE CAST(0 AS BIGINT) END AS a,
        |         CAST(trunc(value * 100.0) AS BIGINT) AS c
        |  FROM events WHERE value IS NOT NULL AND NOT isnan(value)
        |), g AS (
        |  SELECT event_type,
        |         CAST(sum(a) AS BIGINT) AS n_a,
        |         CAST(sum(1 - a) AS BIGINT) AS n_b,
        |         CAST(sum(a * c) AS BIGINT) AS s_a,
        |         CAST(sum((1 - a) * c) AS BIGINT) AS s_b,
        |         CAST(sum(a * c * c) AS BIGINT) AS q_a,
        |         CAST(sum((1 - a) * c * c) AS BIGINT) AS q_b
        |  FROM e GROUP BY 1
        |  HAVING sum(a) > 1 AND sum(1 - a) > 1
        |), zt AS (
        |  SELECT event_type,
        |         abs((CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE)
        |              - CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE))
        |             / sqrt(((CAST(q_a AS DOUBLE) - CAST(s_a AS DOUBLE) * CAST(s_a AS DOUBLE)
        |                      / CAST(n_a AS DOUBLE)) / (CAST(n_a AS DOUBLE) - 1.0))
        |                    / CAST(n_a AS DOUBLE)
        |                    + ((CAST(q_b AS DOUBLE) - CAST(s_b AS DOUBLE) * CAST(s_b AS DOUBLE)
        |                        / CAST(n_b AS DOUBLE)) / (CAST(n_b AS DOUBLE) - 1.0))
        |                    / CAST(n_b AS DOUBLE))) AS az
        |  FROM g
        |), pt AS (
        |  SELECT event_type AS grp,
        |         CAST(round(2.0 * ((exp(az * az / -2.0) * 0.3989422804014327)
        |              * ((1.0 / (1.0 + 0.2316419 * az))
        |                 * (0.319381530 + (1.0 / (1.0 + 0.2316419 * az))
        |                    * (-0.356563782 + (1.0 / (1.0 + 0.2316419 * az))
        |                       * (1.781477937 + (1.0 / (1.0 + 0.2316419 * az))
        |                          * (-1.821255978 + (1.0 / (1.0 + 0.2316419 * az))
        |                             * 1.330274429)))))) * 1e9) AS BIGINT) AS p_nano
        |  FROM zt
        |), r AS (
        |  SELECT grp, p_nano,
        |         CAST(row_number() OVER (ORDER BY p_nano, grp) AS INT) AS rank,
        |         CAST(count(*) OVER () AS BIGINT) AS m
        |  FROM pt
        |), x AS (
        |  SELECT r.*,
        |         max(CASE WHEN p_nano * 10 * m <= CAST(1000000000 AS BIGINT) * 1 * rank
        |                  THEN rank END) OVER () AS max_i
        |  FROM r
        |)
        |SELECT grp, p_nano,
        |       round(CAST(p_nano AS DOUBLE) / 1e9, 6) AS p_value,
        |       rank, rank <= coalesce(max_i, 0) AS rejected
        |FROM x ORDER BY rank""".stripMargin,
    "ab_power" ->
      """WITH e AS (
        |  SELECT CASE WHEN user_id % 2 = 0 THEN CAST(1 AS BIGINT)
        |              ELSE CAST(0 AS BIGINT) END AS a,
        |         CAST(trunc(value * 100.0) AS BIGINT) AS c
        |  FROM events WHERE value IS NOT NULL AND NOT isnan(value)
        |), g AS (
        |  SELECT CAST(sum(a) AS BIGINT) AS n_a,
        |         CAST(sum(1 - a) AS BIGINT) AS n_b,
        |         CAST(sum(a * c) AS BIGINT) AS s_a,
        |         CAST(sum((1 - a) * c) AS BIGINT) AS s_b,
        |         CAST(sum(a * c * c) AS BIGINT) AS q_a,
        |         CAST(sum((1 - a) * c * c) AS BIGINT) AS q_b
        |  FROM e
        |), t AS (
        |  SELECT n_a, n_b, s_a,
        |         sqrt(((CAST(q_a AS DOUBLE) - CAST(s_a AS DOUBLE) * CAST(s_a AS DOUBLE)
        |                / CAST(n_a AS DOUBLE)) / (CAST(n_a AS DOUBLE) - 1.0))
        |               / CAST(n_a AS DOUBLE)
        |              + ((CAST(q_b AS DOUBLE) - CAST(s_b AS DOUBLE) * CAST(s_b AS DOUBLE)
        |                  / CAST(n_b AS DOUBLE)) / (CAST(n_b AS DOUBLE) - 1.0))
        |                / CAST(n_b AS DOUBLE)) AS se
        |  FROM g
        |)
        |SELECT n_a, n_b,
        |       round(se, 6) AS se_c,
        |       round((1.959964 + 0.841621) * se, 6) AS mde_c,
        |       round((1.959964 + 0.841621) * se
        |             / (CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE)), 6) AS mde_rel
        |FROM t""".stripMargin,
    "ab_cuped" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us,
        |         CAST(trunc(value * 100.0) AS BIGINT) AS cents
        |  FROM events WHERE value IS NOT NULL AND NOT isnan(value)
        |), m AS (
        |  SELECT (min(ts_us) + max(ts_us)) // 2 AS mid FROM e
        |), u AS (
        |  SELECT user_id % 2 AS arm,
        |         CAST(sum(CASE WHEN ts_us < (SELECT mid FROM m)
        |                       THEN cents ELSE 0 END) AS BIGINT) AS x,
        |         CAST(sum(CASE WHEN ts_us >= (SELECT mid FROM m)
        |                       THEN cents ELSE 0 END) AS BIGINT) AS y
        |  FROM e GROUP BY user_id
        |), g AS (
        |  SELECT CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |         CAST(sum(CASE WHEN arm = 0 THEN 0 ELSE 1 END) AS BIGINT) AS n_b,
        |         CAST(sum(CASE WHEN arm = 0 THEN y ELSE 0 END) AS BIGINT) AS sy_a,
        |         CAST(sum(CASE WHEN arm = 0 THEN 0 ELSE y END) AS BIGINT) AS sy_b,
        |         CAST(sum(CASE WHEN arm = 0 THEN x ELSE 0 END) AS BIGINT) AS sx_a,
        |         CAST(sum(CASE WHEN arm = 0 THEN 0 ELSE x END) AS BIGINT) AS sx_b,
        |         sum(CAST(x AS HUGEINT) * x) AS sxx,
        |         sum(CAST(x AS HUGEINT) * y) AS sxy,
        |         sum(CAST(y AS HUGEINT) * y) AS syy
        |  FROM u
        |), t AS (
        |  SELECT n_a, n_b,
        |         CAST((n_a + n_b) * sxy
        |              - CAST(sx_a + sx_b AS HUGEINT) * (sy_a + sy_b) AS DOUBLE) AS covn,
        |         CAST((n_a + n_b) * sxx
        |              - CAST(sx_a + sx_b AS HUGEINT) * (sx_a + sx_b) AS DOUBLE) AS varxn,
        |         CAST((n_a + n_b) * syy
        |              - CAST(sy_a + sy_b AS HUGEINT) * (sy_a + sy_b) AS DOUBLE) AS varyn,
        |         CAST(sy_a AS DOUBLE) / CAST(n_a AS DOUBLE)
        |           - CAST(sy_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS diffraw,
        |         CAST(sx_a AS DOUBLE) / CAST(n_a AS DOUBLE)
        |           - CAST(sx_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS diffx
        |  FROM g
        |)
        |SELECT n_a, n_b,
        |       round(covn / varxn, 6) AS theta,
        |       round(diffraw, 6) AS diff_raw_c,
        |       round(diffraw - covn / varxn * diffx, 6) AS diff_cuped_c,
        |       round(covn * covn / (varxn * varyn), 6) AS var_reduction
        |FROM t""".stripMargin)

  /** Shared journey CTE prefix (ev → j) for the attribution oracles:
    * first-purchase truncation + state mapping, mirroring
    * AttributionOps' distributed journey scan.
    */
  private lazy val journeyCtes: String =
    """ev AS (
      |  SELECT user_id, epoch_us(ts) AS ts_us, event_id, event_type,
      |         sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
      |           OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
      |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prior
      |  FROM events
      |), j AS (
      |  -- events outside the declared state domain are ignored, exactly
      |  -- as the engine's journeys() restricts to Channels + purchase
      |  SELECT user_id, ts_us, event_id,
      |         CASE WHEN event_type = 'purchase' THEN 'conv' ELSE event_type END AS t
      |  FROM ev WHERE coalesce(prior, 0) = 0
      |    AND event_type IN ('click', 'error', 'signup', 'view', 'purchase')
      |)""".stripMargin

  /** attribution_shapley oracle: exact-touch-mask conversion counts
    * (16-row relation), subset-sum characteristic v(S), and the
    * factorially-weighted Shapley sums UNROLLED over all coalitions —
    * exact integers end to end; the only float is the credit share.
    */
  private lazy val shapleyOracleSql: String = {
    val channels = Seq("click", "error", "signup", "view")
    val full = 15
    val maskExpr = channels.zipWithIndex
      .map { case (c, i) =>
        s"${1L << i} * max(CASE WHEN t = '$c' THEN 1 ELSE 0 END)"
      }
      .mkString(" + ")
    val vCols = (0 to full)
      .map(s2 =>
        s"coalesce(sum(CASE WHEN (mask & $s2) = mask THEN n_conv END), 0) AS v_$s2")
      .mkString(",\n       ")
    def fact(x: Int): Long = (1 to x).foldLeft(1L)(_ * _)
    val phiCols = channels.zipWithIndex.map { case (c, i) =>
      val bit = 1 << i
      val terms = (0 to full).collect {
        case s2 if (s2 & bit) == 0 =>
          val w = fact(Integer.bitCount(s2)) * fact(3 - Integer.bitCount(s2))
          s"$w * (v_${s2 | bit} - v_$s2)"
      }.mkString(" + ")
      s"CAST($terms AS BIGINT) AS phi_$c"
    }.mkString(",\n       ")
    val sumPhi = channels.map(c => s"phi_$c").mkString(" + ")
    val outRows = channels.map { c =>
      s"""SELECT '$c' AS channel, phi_$c AS phi24,
         |       CASE WHEN ($sumPhi) = 0 THEN NULL
         |            ELSE round(CAST(phi_$c AS DOUBLE)
         |                       / CAST($sumPhi AS DOUBLE), 6) END AS credit
         |FROM ph"""
    }.mkString("\nUNION ALL\n")
    s"""WITH $journeyCtes, u AS (
       |  SELECT user_id, CAST($maskExpr AS BIGINT) AS mask,
       |         max(CASE WHEN t = 'conv' THEN 1 ELSE 0 END) AS conv
       |  FROM j GROUP BY user_id
       |), mk AS (
       |  SELECT mask, CAST(sum(conv) AS BIGINT) AS n_conv FROM u GROUP BY 1
       |), vv AS (
       |  SELECT $vCols
       |  FROM mk
       |), ph AS (
       |  SELECT $phiCols
       |  FROM vv
       |)
       |SELECT * FROM (
       |$outRows
       |) ORDER BY channel""".stripMargin
  }

  /** attribution_markov oracle: the journey/transition CTEs mirror
    * AttributionOps.transitionCounts; the chain solve is the engine's
    * exact integer-nano fixed point UNROLLED — 12 sweeps × 5 variants
    * (base + one per removed channel) over the pivoted ≤ 5×6 count
    * columns, every product/floor-division in HUGEINT so each
    * intermediate matches the driver's BigInt arithmetic bit-for-bit.
    */
  private lazy val markovOracleSql: String = {
    val from = Seq("start", "click", "error", "signup", "view")
    val to = Seq("click", "error", "signup", "view", "conv", "null")
    val iters = 12
    // pivoted counts + per-state out-totals, one row
    val nCols = (for { f <- from; t <- to } yield
      s"coalesce(sum(CASE WHEN f = '$f' AND t = '$t' THEN n END), 0) AS n_${f}_$t")
      .mkString(",\n       ")
    val totCols = from
      .map(f => s"(${to.map(t => s"n_${f}_$t").mkString(" + ")}) AS tot_$f")
      .mkString(",\n       ")
    val carry = ((for { f <- from; t <- to } yield s"n_${f}_$t") ++
      from.map(f => s"tot_$f")).mkString(", ")
    // iteration 1 reads p_*_0 = 0 literals (no init CTE needed)
    val variants: Seq[(String, Option[String])] = Seq(
      ("b", None), ("rc", Some("click")), ("re", Some("error")),
      ("rs", Some("signup")), ("rv", Some("view")))
    def pNext(v: String, removed: Option[String], f: String, i: Int): String = {
      val terms = to.map { t =>
        val pt = t match {
          case "conv" => "CAST(1000000000 AS HUGEINT)"
          case "null" => "CAST(0 AS HUGEINT)"
          case c if removed.contains(c) => "CAST(0 AS HUGEINT)"
          case _ if i == 1 => "CAST(0 AS HUGEINT)"
          case c => s"CAST(p${v}_${c}_${i - 1} AS HUGEINT)"
        }
        s"CAST(n_${f}_$t AS HUGEINT) * $pt"
      }.mkString(" + ")
      s"CASE WHEN tot_$f = 0 THEN 0 ELSE " +
        s"CAST(($terms) // CAST(tot_$f AS HUGEINT) AS BIGINT) END AS p${v}_${f}_$i"
    }
    val iterCtes = (1 to iters).map { i =>
      val cols = variants.flatMap { case (v, removed) =>
        from.map(f => pNext(v, removed, f, i))
      }.mkString(",\n       ")
      s"""s$i AS (
         |  SELECT $carry,
         |       $cols
         |  FROM s${i - 1}
         |)"""
    }.mkString(",\n")
    val sumRe = Seq("rc", "re", "rs", "rv")
      .map(v => s"(pb_start_$iters - p${v}_start_$iters)").mkString(" + ")
    val outRows = Seq(("click", "rc"), ("error", "re"), ("signup", "rs"), ("view", "rv"))
      .map { case (c, v) =>
        s"""SELECT '$c' AS channel, pb_start_$iters AS p_conv_nano,
           |       p${v}_start_$iters AS p_removed_nano,
           |       CASE WHEN pb_start_$iters = 0 THEN NULL
           |            ELSE round(CAST(pb_start_$iters - p${v}_start_$iters AS DOUBLE)
           |                       / CAST(pb_start_$iters AS DOUBLE), 6) END AS removal_effect,
           |       CASE WHEN ($sumRe) = 0 THEN NULL
           |            ELSE round(CAST(pb_start_$iters - p${v}_start_$iters AS DOUBLE)
           |                       / CAST($sumRe AS DOUBLE), 6) END AS credit
           |FROM s$iters"""
      }.mkString("\nUNION ALL\n")
    s"""WITH $journeyCtes, pairs AS (
       |  SELECT coalesce(lag(t) OVER (PARTITION BY user_id
       |           ORDER BY ts_us, event_id), 'start') AS f, t
       |  FROM j
       |), oe AS (
       |  SELECT f, 'null' AS t FROM (
       |    SELECT t AS f,
       |           row_number() OVER (PARTITION BY user_id
       |             ORDER BY ts_us DESC, event_id DESC) AS rn,
       |           max(CASE WHEN t = 'conv' THEN 1 ELSE 0 END)
       |             OVER (PARTITION BY user_id) AS conv
       |    FROM j) WHERE rn = 1 AND conv = 0
       |), tc AS (
       |  SELECT f, t, CAST(count(*) AS BIGINT) AS n
       |  FROM (SELECT f, t FROM pairs UNION ALL SELECT f, t FROM oe)
       |  GROUP BY 1, 2
       |), sp AS (
       |  SELECT $nCols
       |  FROM tc
       |), s0 AS (
       |  SELECT sp.*,
       |       $totCols
       |  FROM sp
       |),
       |$iterCtes
       |SELECT * FROM (
       |$outRows
       |) ORDER BY channel""".stripMargin
  }
}
