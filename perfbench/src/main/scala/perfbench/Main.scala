package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.core.RouteLog

/** Benchmark process for one workload run. `run.py` builds the classpath
  * and starts it as
  * {{{
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *                  --work DIR --data DIR --panel FILE --record FILE --cores C
  * }}}
  * and reads the run record it writes to `--record`; the record's
  * `result` member is the benchmark's one-line result.
  */
object Main {

  /** Edge of every synthesized tile, in pixels: four 512² internal tiles
    * per uint8-LZW and float32 file; 248 tiles are 260 Mpx. At this edge
    * per-pixel work (decode and the in-reader aggregation) takes most of a
    * job's task time; at 512² per-tile work took nearly half of it.
    */
  val TileEdge = 1024

  final case class Args(
      workload: String,
      seed: Long,
      seconds: Double,
      trace: Boolean,
      work: Path,
      data: Path,
      panel: Path,
      record: Path,
      cores: Int,
      header: Map[String, String])

  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(
      need("workload"), need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      Paths.get(need("work")), Paths.get(need("data")), Paths.get(need("panel")),
      Paths.get(need("record")), need("cores").toInt,
      kv.collect { case (k, v) if k.startsWith("header-") => k.stripPrefix("header-") -> v })
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val host0 = Host.sample()
    val spark = Workload.session(a.cores, a.work.toString)
    try {
      val record = run(a, spark)
      val host1 = Host.sample()
      record("host") = Json.obj(
        "load1_before" -> host0.load1, "load1_after" -> host1.load1,
        "steal_ticks_before" -> host0.steal, "steal_ticks_after" -> host1.steal,
        "steal_ticks_delta" -> (if (host0.steal >= 0 && host1.steal >= 0) host1.steal - host0.steal else -1L))
      Files.createDirectories(a.record.getParent)
      Files.writeString(a.record, Json.render(record) + "\n")
    } finally spark.stop()
  }

  private def workload(a: Args, spark: SparkSession): Workload = a.workload match {
    case "tile_pushed" => new TilePipeline(spark, pushed = true, a.seed, TileEdge, a.cores, a.work)
    case "tile_values" => new TilePipeline(spark, pushed = false, a.seed, TileEdge, a.cores, a.work)
    case "query_surface" =>
      new QuerySurface(
        spark, a.seed, Panel.read(a.panel), a.data.resolve("sf0.01").toString,
        a.data.resolve("sf0.001").toString)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Closed loop of `n` cycles. A cycle for which `tracerFor` gives a
    * tracer runs with it attached; it is detached again, after the bus has
    * drained, outside the cycle's timing. After each cycle, also outside
    * its timing, a full collection measures the memory the process holds.
    */
  private def loop(spark: SparkSession, w: Workload, n: Int,
      tracerFor: Int => Option[Tracer], ops: mutable.ArrayBuffer[Op]): Seq[Cycle] =
    (0 until n).map { i =>
      val tracer = tracerFor(i)
      val first = ops.size
      val routes0 = RouteLog.recent()
      tracer.foreach(_.attach())
      val (_, ms0, ms1, s) = Workload.timed(w.cycle(i, tracer, ops))
      tracer.foreach(_.detach())
      val cached = if (tracer.isDefined) Tracer.cachedBytes(spark.sparkContext) else 0L
      Cycle(i, ms0, ms1, s, first, ops.size, tracer.isDefined,
        Workload.newLines(routes0, RouteLog.recent()), cached, Host.liveMb())
    }

  final case class Cycle(
      index: Int, startMs: Long, endMs: Long, wallS: Double, firstOp: Int, endOp: Int,
      traced: Boolean, routes: Int, cachedBytes: Long, liveMb: Double)

  def run(a: Args, spark: SparkSession): mutable.Map[String, Any] = {
    val w = workload(a, spark)
    val sessionS = Host.uptimeS()
    val parts = w.setup()
    val setupS = Host.uptimeS()
    val ops = mutable.ArrayBuffer.empty[Op]
    val record = mutable.LinkedHashMap[String, Any](
      "header" -> (Json.obj(
        "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds, "trace" -> a.trace,
        "nproc" -> Runtime.getRuntime.availableProcessors(), "cores" -> a.cores,
        "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
        "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.runtime.version")}",
        "spark" -> spark.version) ++ a.header),
      "workload" -> w.describe,
      "setup" -> (Json.obj("setup_s" -> setupS, "jvm_and_session_s" -> sessionS) ++ parts))

    val (cycles, traced) =
      if (!a.trace) (loop(spark, w, w.cycles, _ => None, ops), None)
      else {
        val tracer = new Tracer(spark)
        tracer.attach()
        val sources = Probes.sources(spark, tracer, a.data.resolve("sf0.01").toString)
        tracer.detach()
        val decode = Probes.decodeAll(a.seed, TileEdge)
        // untraced and traced cycles alternate, starting and ending untraced,
        // so each traced cycle can be compared with its two neighbours
        val all = loop(spark, w, 3, i => if (i % 2 == 1) Some(tracer) else None, ops)
        (all, Some(traceReport(a, w, tracer, all, ops.toSeq, sources, decode)))
      }
    traced.foreach { case (_, report) => record("traced") = report }
    val (check, _, _, checkS) = Workload.timed(w.check(ops.toSeq))
    val walls = ops.map(_.wallS)
    record("cycles") = cycles.map(c => Json.obj(
      "index" -> c.index, "wall_s" -> c.wallS, "ops" -> (c.endOp - c.firstOp), "traced" -> c.traced,
      "live_mb" -> c.liveMb))
    record("ops") = ops.map(o => Json.obj("name" -> o.name, "wall_s" -> o.wallS, "ok" -> o.ok,
      "error" -> o.error, "rows" -> o.facts.get("rows")))
    // too few samples per run for a gated tail: kept in the record only
    record("latency") = Json.obj("samples" -> walls.size, "op_p95_s" -> Stats.percentile(walls.toSeq, 95),
      "op_max_s" -> walls.max)
    record("check") = Json.obj("correct" -> check.correct, "check_s" -> checkS, "failed_ops" -> check.failedOps.toSeq.sorted,
      "notes" -> check.notes) ++ check.extra
    val metrics = traced.map(_._1).getOrElse(Seq(
      ("setup_s", setupS, "s"),
      ("run_s", cycles.map(_.wallS).min, "s"),
      ("op_p50_s", Stats.median(ops.groupBy(_.name).values.map(_.map(_.wallS).min).toSeq), "s"),
      ("live_mb", Stats.median(cycles.map(_.liveMb)), "MiB")))
    record("result") = Json.obj(
      "correct" -> check.correct,
      "attempted" -> ops.size,
      "failed" -> check.failedOps.size,
      "metrics" -> Json.obj(metrics.map { case (k, v, u) => k -> Json.obj("value" -> v, "unit" -> u) }: _*))
    record
  }

  /** Per-layer figures of the traced cycles (medians; 0 for a layer the
    * workload does not run), and a report with per-op counts and the layer
    * split beside the repository's last hand-measured figures.
    */
  private def traceReport(a: Args, w: Workload, tracer: Tracer, cycles: Seq[Cycle],
      ops: Seq[Op], sources: Seq[Probes.Load], decode: Map[String, Double])
      : (Seq[(String, Double, String)], collection.Map[String, Any]) = {
    val traced = cycles.filter(_.traced)
    val perCycle = traced.map { c =>
      val win = tracer.window(c.startMs, c.endMs)
      val cycleOps = ops.slice(c.firstOp, c.endOp)
      val execS = win.execS
      Map(
        "sources.loads" -> win.relations.toDouble,
        "catalyst.analysis_ms" -> win.analysisMs.toDouble,
        "catalyst.optimization_ms" -> win.optimizationMs.toDouble,
        "catalyst.planning_ms" -> win.planningMs.toDouble,
        "exec.s" -> execS,
        "exec.jobs" -> win.jobCount.toDouble,
        "exec.stages" -> win.stageCount.toDouble,
        "exec.tasks" -> win.taskCount.toDouble,
        "exec.tasks_per_stage" -> (if (win.stageCount > 0) win.taskCount.toDouble / win.stageCount else 0.0),
        "exec.exchanges" -> win.exchanges.toDouble,
        "exec.task_cpu_s" -> win.cpuS,
        "exec.core_util" -> (if (execS > 0) win.cpuS / (execS * a.cores) else 0.0),
        "exec.sched_delay_s" -> win.schedDelayS,
        "exec.gc_s" -> win.gcS,
        "exec.shuffle_read_bytes" -> win.shuffleRead.toDouble,
        "exec.shuffle_write_bytes" -> win.shuffleWrite.toDouble,
        "exec.spill_bytes" -> win.spill.toDouble,
        "exec.failed_tasks" -> win.failedTasks.toDouble,
        "cache.scans" -> win.cacheScans.toDouble,
        "cache.bytes" -> c.cachedBytes.toDouble,
        "core.routes" -> c.routes.toDouble,
        "cycle.wall_s" -> c.wallS) ++ w.layerMetrics(cycleOps, win)
    }
    // each traced cycle against the mean of its untraced neighbours, which
    // cancels the steady speed-up of a warming JVM
    val overheads = traced.map { c =>
      val near = Seq(c.index - 1, c.index + 1).flatMap(cycles.lift).filterNot(_.traced).map(_.wallS)
      c.wallS - near.sum / near.size
    }
    val perLayer = Metrics.PerLayer.map { case (k, unit) =>
      val v = k match {
        case "sources.load_ms"   => Stats.median(sources.map(_.ms))
        case "sources.load_jobs" => sources.map(_.jobs).sum.toDouble / sources.size
        case "trace.overhead_s"  => Stats.median(overheads)
        case r if r.startsWith("raster.decode_mpx_per_core.") =>
          decode(r.stripPrefix("raster.decode_mpx_per_core."))
        case other => Stats.median(perCycle.map(_.getOrElse(other, 0.0)))
      }
      (k, v, unit)
    }
    val opRows = traced.flatMap(c => ops.slice(c.firstOp, c.endOp)).map { o =>
      val win = tracer.window(o.startMs, o.endMs)
      val buildJobs = o.spans.get("build").map { case (b0, b1) =>
        win.jobs.count(j => j.startMs >= b0 && j.startMs <= b1)
      }.getOrElse(0)
      Json.obj(
        "name" -> o.name, "wall_s" -> o.wallS,
        "build_s" -> o.spans.get("build").map { case (b0, b1) => (b1 - b0) / 1e3 },
        "jobs" -> win.jobCount, "stages" -> win.stageCount, "tasks" -> win.taskCount,
        "exchanges" -> win.exchanges, "build_jobs" -> buildJobs, "loads" -> win.relations,
        "cache_scans" -> win.cacheScans, "routes" -> o.facts.getOrElse("routes", 0),
        "catalyst_ms" -> (win.analysisMs + win.optimizationMs + win.planningMs),
        "exec_s" -> win.execS, "task_cpu_s" -> win.cpuS)
    }
    (perLayer, Json.obj(
      "per_layer" -> Json.obj(perLayer.map { case (k, v, u) => k -> Json.obj("value" -> v, "unit" -> u) }: _*),
      "per_cycle" -> perCycle.map(m => collection.immutable.TreeMap(m.toSeq: _*)),
      "untraced_cycle_s" -> cycles.filterNot(_.traced).map(_.wallS),
      "traced_cycle_s" -> traced.map(_.wallS),
      "trace_overhead_s" -> overheads,
      "sources_probe" -> sources.map(l => Json.obj("table" -> l.table, "load_ms" -> l.ms, "jobs" -> l.jobs)),
      "raster_probe_mpx_per_core" -> decode,
      "ops" -> opRows,
      "split" -> w.timeSplit(
        perCycle.head ++ decode.map { case (k, v) => s"raster.decode_mpx_per_core.$k" -> v },
        traced.head.wallS, traced.head.endOp - traced.head.firstOp)))
  }
}
