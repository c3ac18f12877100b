package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, max, min}
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}

import graft.core.{BinMethod, BinSpec}
import graft.operators.HistogramOps
import graft.sources.Tables

/** The reference's CLI surface (E3 — reference: compute_histogram/main.py:17-57,
  * README.md:22-31) as a config object + runner.
  *
  * Differences from the reference, both documented in SURVEY §7.4:
  *  - `minmaxOnly` actually stops after the stats pass (the reference parses
  *    the flag but never checks it — main.py:29-33 vs :53-57);
  *  - min/max start un-clamped; `clampToZero = true` restores the
  *    reference's zero-initialized accumulators (main.py:131-132).
  * When both `minValue` and `maxValue` are given they fix the bins and no
  * min/max is taken, exactly like the reference (main.py:53-54).
  */
final case class HistogramConfig(
    valueCol: String,
    method: BinMethod = BinMethod.Linear,
    minValue: Option[Double] = None,
    maxValue: Option[Double] = None,
    minmaxOnly: Boolean = false,
    clampToZero: Boolean = false,
    legacyLogOffset100: Boolean = false)

object HistogramRunner {

  /** Run the configured pipeline. `minmaxOnly` returns the one-row
    * `(min_value, max_value)` relation of the valid values ([[minMaxOnly]]);
    * otherwise the dense `(value, cnt)` histogram of [[fold]]: one
    * aggregate reads `df` once (twice for log with a min ≤ 0). Either comes
    * back as a local relation.
    */
  def run(df: DataFrame, cfg: HistogramConfig): DataFrame =
    if (cfg.minmaxOnly)
      minMaxOnly(HistogramOps.validValues(df, cfg.valueCol).agg(min(col("value")), max(col("value"))), cfg)
    else fold(df, cfg).histogram(df.sparkSession)

  /** [[HistogramOps.fold]] of `df`'s valid `cfg.valueCol` values over the
    * DataFrame code source ([[HistogramOps.valueCodes]]): the spec and the
    * dense bin counts, on the driver.
    */
  def fold(df: DataFrame, cfg: HistogramConfig): HistogramOps.Folded = {
    val values = HistogramOps.validValues(df, cfg.valueCol)
    foldCodes(cfg)(HistogramOps.valueCodes(values, cfg.method, cfg.legacyLogOffset100))
  }

  /** [[HistogramOps.fold]] under `cfg`: the spec comes from both bounds
    * when given (the reference skips its stats pass then, main.py:53-54).
    */
  private def foldCodes(cfg: HistogramConfig)(
      codes: (Double, Option[BinSpec]) => HistogramOps.Codes): HistogramOps.Folded = {
    val bounds = for (a <- cfg.minValue; b <- cfg.maxValue) yield BinSpec.derive(a, b, cfg.method)
    HistogramOps.fold(cfg.method, bounds, cfg.clampToZero, cfg.legacyLogOffset100)(codes)
  }

  /** The source-pushed pipeline over the DSv2 raster scan: the same
    * [[HistogramOps.fold]] as [[run]], one scan for every spec but log with
    * a min ≤ 0. A `mode=codes` scan bins each packed partition of tiles
    * inside the reader, and Spark merges the sparse `(code, cnt)` rows and
    * the partitions' stats rows in one aggregate: one read of each tile,
    * and only codes cross the scan boundary. `minmaxOnly` filters the scan
    * to `code IS NULL`, its stats rows: the readers count no code, and one
    * row per pack crosses. Output is bit-identical to [[run]] over the raw
    * `mode=values` scan (RasterAggSpec pins it).
    */
  def runPushed(spark: SparkSession, tileListPath: String, cfg: HistogramConfig): DataFrame =
    if (cfg.minmaxOnly)
      minMaxOnly(
        codeScan(spark, tileListPath, cfg, 0.0).filter(col("code").isNull)
          .agg(min(col("min_value")), max(col("max_value"))),
        cfg)
    else foldCodes(cfg)(scanCodes(spark, tileListPath, cfg)).histogram(spark)

  // perfbench's TilePipeline is the only caller left; it passes 0L
  @deprecated("the pixel count is unused: call runPushed(spark, tileListPath, cfg)", "0.1.0")
  def runPushed(spark: SparkSession, tileListPath: String, pixelsPerTile: Long, cfg: HistogramConfig): DataFrame =
    runPushed(spark, tileListPath, cfg)

  private val MinMaxSchema = StructType(Seq(
    StructField("min_value", DoubleType, nullable = false),
    StructField("max_value", DoubleType, nullable = false)))

  /** The `--minmax_only` answer from `agg`, a one-row `(min, max)`
    * aggregate: collected, (0.0, 0.0) without a valid value
    * ([[HistogramOps.collectMinMax]]), after `clampToZero`, as a one-row
    * `(min_value, max_value)` local relation.
    */
  private def minMaxOnly(agg: DataFrame, cfg: HistogramConfig): DataFrame = {
    val (mn, mx) = HistogramOps.clamped(HistogramOps.collectMinMax(agg), cfg.clampToZero)
    agg.sparkSession.createDataFrame(java.util.List.of(Row(mn, mx)), MinMaxSchema)
  }

  /** The rows of one `mode=codes` scan of `tileListPath`'s tiles, coded
    * with `offset`.
    */
  private def codeScan(spark: SparkSession, tileListPath: String, cfg: HistogramConfig, offset: Double): DataFrame =
    spark.read
      .format("graft.sources.raster.RasterSource")
      .option("tileListPath", tileListPath)
      .option("mode", "codes")
      .option("binMethod", cfg.method.name)
      .option("binOffset", offset.toString)
      .option("legacyLogOffset100", cfg.legacyLogOffset100.toString)
      .load()

  /** The raster code source of [[HistogramOps.fold]]: one [[codeScan]],
    * merged by [[HistogramOps.mergeCodes]]. A known `spec` filters the rows
    * to its codes, and the filter reaches the readers
    * (`RasterSource.codeRange`): their folds keep only those codes.
    */
  private def scanCodes(spark: SparkSession, tileListPath: String, cfg: HistogramConfig)(
      offset: Double,
      spec: Option[BinSpec]): HistogramOps.Codes = {
    val scan = codeScan(spark, tileListPath, cfg, offset)
    HistogramOps.mergeCodes(spec.fold(scan)(s => scan.filter(col("code").between(s.lo, s.hi))))
  }

  /** Parsed CLI surface — the reference's flags
    * (compute_histogram/main.py:17-41: `-m/--method`, `-w/--workers`,
    * `--min_value`, `--max_value`, `--minmax_only`) plus the parquet-era
    * positionals `<source> [valueCol] [outDir]`.
    */
  final case class CliArgs(
      source: String,
      outDir: String,
      workers: Int,
      cfg: HistogramConfig)

  /** Parse the full reference CLI. Positionals stay compatible with the
    * pre-round-10 shape `<source> <valueCol> [method] [outDir]` (a bare
    * `linear`/`log` third positional is still accepted as the method).
    */
  def parseArgs(args: Array[String]): CliArgs = {
    var method: Option[BinMethod] = None
    var workers = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    var minV: Option[Double] = None
    var maxV: Option[Double] = None
    var minmaxOnly = false
    val pos = scala.collection.mutable.ArrayBuffer.empty[String]
    val usage = "usage: <source> [valueCol] [outDir] " +
      "[-m linear|log] [-w N] [--min_value X] [--max_value Y] [--minmax_only]"
    // the flag's value; a flag as the last token is a usage error
    def value(i: Int): String =
      if (i + 1 < args.length) args(i + 1)
      else throw new IllegalArgumentException(s"flag ${args(i)} needs a value; $usage")
    var i = 0
    while (i < args.length) {
      args(i) match {
        case "-m" | "--method" => method = Some(BinMethod.parse(value(i))); i += 2
        case "-w" | "--workers" => workers = value(i).toInt; i += 2
        case "--min_value" => minV = Some(value(i).toDouble); i += 2
        case "--max_value" => maxV = Some(value(i).toDouble); i += 2
        case "--minmax_only" => minmaxOnly = true; i += 1
        case other if other.startsWith("--") =>
          throw new IllegalArgumentException(s"unknown flag $other; $usage")
        case p => pos += p; i += 1
      }
    }
    require(pos.nonEmpty, "missing <source>")
    val valueCol = if (pos.length > 1) pos(1) else "value"
    // legacy positional method: <source> <valueCol> log <outDir>
    val legacyMethod = pos.length > 2 && Set("linear", "log").contains(pos(2))
    if (legacyMethod) method = method.orElse(Some(BinMethod.parse(pos(2))))
    val outIdx = if (legacyMethod) 3 else 2
    val outDir = if (pos.length > outIdx) pos(outIdx) else "target/histogram_csv"
    CliArgs(
      pos(0), outDir, workers,
      HistogramConfig(valueCol, method.getOrElse(BinMethod.Linear), minV, maxV, minmaxOnly))
  }

  /** Session configs for a CLI run: the mains' [[SparkEntry.localConfigs]]
    * plus E2 (retry/backoff). The reference wraps every tile read in a
    * 7-attempt exponential-backoff retry (main.py:229-236 —
    * stop_max_attempt_number=7, 1 s base, 5 min cap); Spark's equivalent
    * resilience is task re-execution plus the S3A connector's own retry
    * policy, so the CLI session pins `spark.task.maxFailures=7` (on
    * [[master]] for the local CLI) and the matching S3A retry knobs instead
    * of hand-rolling a retry loop in engine code (SURVEY §2.8).
    */
  def sessionConfigs(workers: Int): Map[String, String] = SparkEntry.localConfigs(workers) ++ Map(
    "spark.task.maxFailures" -> "7",
    "spark.hadoop.fs.s3a.retry.limit" -> "7",
    "spark.hadoop.fs.s3a.retry.interval" -> "1s",
    "spark.hadoop.fs.s3a.attempts.maximum" -> "7")

  /** The CLI session's master. Local mode ignores `spark.task.maxFailures`
    * and takes a task's attempts from the master URL: `local[N,7]` makes
    * the 7-attempt retry of [[sessionConfigs]] real.
    */
  def master(workers: Int): String = s"local[$workers,7]"

  /** CLI-shaped main: runMain graft.HistogramRunner <source> [valueCol]
    * [outDir] [-m linear|log] [-w N] [--min_value X] [--max_value Y]
    * [--minmax_only] — the reference's full flag surface
    * (compute_histogram/main.py:17-41). Writes the reference's CSV
    * format (S5); `--minmax_only` stops after the stats pass and prints
    * `MIN_VALUE=… MAX_VALUE=…` (actually honoring the flag the reference
    * parses but never checks — main.py:29-33 vs :53-57).
    *
    * `<source>` is a Parquet table path, or a `.txt` tile list (S4 —
    * one URI per line, like the reference's bio_*_list.txt), which routes
    * through the DataSource V2 raster scan (S3) for the complete reference
    * program shape: tile list → raster scan → histogram → CSV.
    */
  def main(args: Array[String]): Unit = {
    val cli = parseArgs(args)
    // getOrCreate: under a test harness an active session is reused (and
    // NOT stopped on exit); standalone, the builder owns its session
    val preExisting = SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
    val spark = SparkEntry.session(master(cli.workers), sessionConfigs(cli.workers))
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.GraftFunctions.register(spark)
    runCli(spark, cli)
    if (preExisting.isEmpty) spark.stop()
  }

  /** The CLI body against a given session (spec-driveable). Returns the
    * result, a local relation (the min/max row for `--minmax_only`, else
    * the written histogram), so reading it starts no scan.
    * A `.txt` tile list takes the pushed scan unless `SPARK_GRAFT_PUSHED=0`.
    */
  def runCli(spark: SparkSession, cli: CliArgs): DataFrame =
    runCli(spark, cli, pushed = !sys.env.get("SPARK_GRAFT_PUSHED").contains("0"))

  /** [[runCli]] with the scan path of a `.txt` tile list given: `pushed`
    * aggregates inside the raster scan ([[runPushed]]), otherwise the
    * `mode=values` scan feeds [[run]]. Other sources ignore it.
    */
  def runCli(spark: SparkSession, cli: CliArgs, pushed: Boolean): DataFrame = {
    val path = cli.source
    val tileList = path.endsWith(".txt")
    val result =
      // a pushed tile list bins INSIDE the scan: codes, not pixels, cross
      // the scan boundary (perfbench: the tile_pushed job reads ~0.001
      // scan rows per pixel, tile_values one per pixel)
      if (tileList && pushed) runPushed(spark, path, cli.cfg)
      else {
        val source =
          if (tileList) {
            // the list path streams straight into the DSv2 scan's partition
            // planning — no driver-side collect()-and-comma-join of URIs
            // (round-1 review: at 10⁵-10⁶ tiles that was a driver bottleneck
            // and a multi-MB option string)
            spark.read
              .format("graft.sources.raster.RasterSource")
              .option("tileListPath", path)
              .load()
          } else Tables.parquet(spark, path)
        run(source, cli.cfg)
      }
    val rows = result.collect()
    if (cli.cfg.minmaxOnly)
      // the reference's click.echo surface (main.py:51-52)
      println(s"MIN_VALUE=${rows.head.getDouble(0)} MAX_VALUE=${rows.head.getDouble(1)}")
    else {
      HistogramOps.writeCsv(result, cli.outDir)
      println(s"HISTOGRAM_BINS=${rows.length} OUT=${cli.outDir}")
    }
    result
  }
}
