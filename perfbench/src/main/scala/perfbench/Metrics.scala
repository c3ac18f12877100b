package perfbench

/** Names and units of the per-layer metrics, in `BENCHMARK.json` order. */
object Metrics {

  val PerLayer: Seq[(String, String)] = Seq(
    "build.s" -> "s",
    "build.jobs" -> "count",
    "sources.loads" -> "count",
    "sources.load_ms" -> "ms",
    "sources.load_jobs" -> "count",
    "catalyst.analysis_ms" -> "ms",
    "catalyst.optimization_ms" -> "ms",
    "catalyst.planning_ms" -> "ms",
    "exec.s" -> "s",
    "exec.jobs" -> "count",
    "exec.stages" -> "count",
    "exec.tasks" -> "count",
    "exec.tasks_per_stage" -> "ratio",
    "exec.exchanges" -> "count",
    "exec.task_cpu_s" -> "s",
    "exec.core_util" -> "ratio",
    "exec.sched_delay_s" -> "s",
    "exec.gc_s" -> "s",
    "exec.shuffle_read_bytes" -> "bytes",
    "exec.shuffle_write_bytes" -> "bytes",
    "exec.spill_bytes" -> "bytes",
    "exec.failed_tasks" -> "count",
    "cache.scans" -> "count",
    "cache.bytes" -> "bytes",
    "core.routes" -> "count",
    "pipeline.stats_s" -> "s",
    "pipeline.hist_s" -> "s",
    "pipeline.csv_s" -> "s",
    "pipeline.deciles_s" -> "s",
    "pipeline.driver_s" -> "s",
    "raster.decode_mpx_per_core.lzw_u8" -> "Mpx/s",
    "raster.decode_mpx_per_core.deflate_u8" -> "Mpx/s",
    "raster.decode_mpx_per_core.deflate_f32p3" -> "Mpx/s",
    "raster.scan_cpu_s" -> "s",
    "raster.scan_rows_per_px" -> "ratio",
    "raster.task_skew" -> "ratio",
    "trace.overhead_s" -> "s")
}
