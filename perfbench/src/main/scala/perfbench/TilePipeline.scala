package perfbench

import java.nio.file.{Files, Path}
import java.security.MessageDigest

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, split}

import graft.{HistogramConfig, HistogramRunner}
import graft.operators.{HistogramOps, PercentileOps}

/** The reference job over a synthesized 248-tile list: `HistogramRunner.
  * runCli` (stats pass → bin spec → histogram → `histogram.csv`), then
  * `PercentileOps.deciles` over the CSV it wrote.
  *
  * `runCli` picks its scan path from the environment: the pushed
  * `mode=stats`/`mode=hist` passes by default, the generic `mode=values`
  * scan under `SPARK_GRAFT_PUSHED=0`. The launcher sets the variable per
  * workload; [[pushed]] states which one this process must see.
  */
final class TilePipeline(
    spark: SparkSession,
    pushed: Boolean,
    seed: Long,
    edge: Int,
    cores: Int,
    workDir: Path)
    extends Workload {

  private val cfg = HistogramConfig(valueCol = "value")
  private var tiles: Tiles.TileSet = _
  private val outRoot = workDir.resolve("out")

  def setup(): Map[String, Double] = {
    val envPushed = !sys.env.get("SPARK_GRAFT_PUSHED").contains("0")
    require(envPushed == pushed, s"SPARK_GRAFT_PUSHED does not match the workload (pushed=$pushed)")
    Files.createDirectories(outRoot)
    val (_, _, _, inputsS) = Workload.timed {
      tiles = Tiles.synthesize(workDir.resolve("tiles"), seed, edge, cores)
    }
    // JIT warm-up: the whole job, WarmupJobs times over the full list. A
    // job keeps getting faster for several runs after start, while compiler
    // threads compete with task threads for the cores; the first job over
    // the full list takes about a third longer than the next ones.
    val warm = outRoot.resolve("warmup")
    val (_, _, _, warmS) = Workload.timed {
      (0 until TilePipeline.WarmupJobs).foreach { _ =>
        HistogramRunner.runCli(spark, HistogramRunner.CliArgs(tiles.listFile.toString, warm.toString, cores, cfg))
        deciles(warm)
        deleteTree(warm)
      }
    }
    Map("inputs_s" -> inputsS, "warmup_s" -> warmS)
  }

  /** The reference's decile SQL over the `histogram.csv` just written. */
  private def deciles(out: Path): Array[Checks.Decile] = {
    val histo = spark.read
      .text(out.resolve("histogram.csv").toString)
      .select(split(col("value"), ", ").as("f"))
      .select(col("f")(0).cast("double").as("value"), col("f")(1).cast("long").as("cnt"))
    PercentileOps.deciles(histo).collect().map { r =>
      Checks.Decile(r.getAs[Number](0).longValue, r.getDouble(1), r.getDouble(2), r.getAs[Number](3).longValue)
    }
  }

  def cycles: Int = 2

  def cycle(index: Int, tracer: Option[Tracer], ops: mutable.ArrayBuffer[Op]): Unit = {
    val out = outRoot.resolve(s"job-$index")
    val ms0 = System.currentTimeMillis()
    val n0 = System.nanoTime()
    val cli = HistogramRunner.CliArgs(tiles.listFile.toString, out.toString, cores, cfg)
    val result =
      try {
        val (_, cli0, cli1, _) = Workload.timed(HistogramRunner.runCli(spark, cli))
        val (dec, _, _, decS) = Workload.timed(deciles(out))
        Right((cli0, cli1, dec, decS))
      } catch { case e: Exception => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)) }
    val wall = (System.nanoTime() - n0) / 1e9
    val ms1 = System.currentTimeMillis()
    ops += (result match {
      case Right((cli0, cli1, dec, decS)) =>
        Op("reference_job", ms0, ms1, wall, ok = true, None, Map("runCli" -> (cli0, cli1)),
          Map("csv_sha256" -> sha256(out.resolve("histogram.csv")), "deciles" -> dec.toSeq, "deciles_s" -> decS))
      case Left(err) =>
        Op("reference_job", ms0, ms1, wall, ok = false, Some(err), Map("runCli" -> (ms0, ms1)),
          Map("deciles_s" -> 0.0))
    })
    deleteTree(out)
  }

  /** Every job's `histogram.csv` must equal, byte for byte, the one
    * rendered from the generator, and its deciles the plain-Scala ones.
    * The other scan path (values for the pushed workload, pushed for the
    * values workload) then runs once over the sample tiles and must write
    * the bytes rendered from the generator for those tiles.
    */
  def check(ops: Seq[Op]): Check = {
    val expected = Checks.expectedHistogram(seed, edge, cores)
    val expCsv = expected.csvBytes
    val expSha = sha256(expCsv)
    val expDeciles = Checks.expectedDeciles(expected)
    val failed = ops.indices.filter { i =>
      !ops(i).ok || ops(i).facts("csv_sha256") != expSha || ops(i).facts("deciles") != expDeciles
    }.toSet
    val sampleSha = sha256(Checks.expectedHistogram(seed, edge, cores, Tiles.sample.toSeq.sorted).csvBytes)
    val other = outRoot.resolve("other-path")
    val histo =
      if (pushed)
        HistogramRunner.run(
          spark.read.format("graft.sources.raster.RasterSource")
            .option("tileListPath", tiles.sampleList.toString).load(),
          cfg)
      else HistogramRunner.runPushed(spark, tiles.sampleList.toString, 0L, cfg)
    HistogramOps.writeCsv(histo, other.toString)
    val otherSha = sha256(other.resolve("histogram.csv"))
    val otherPath = if (pushed) "value" else "pushed"
    val notes = failed.toSeq.sorted.map(i =>
      s"job $i: " + ops(i).error.getOrElse("histogram.csv or its deciles differ from the expected ones")) ++
      (if (otherSha != sampleSha) Seq(s"the $otherPath scan's histogram.csv of the sample differs from the expected one")
       else Nil)
    Check(failed, notes, Map(
      "expected_bins" -> expected.counts.length,
      "expected_valid_pixels" -> expected.counts.sum,
      "expected_csv_sha256" -> expSha,
      "sample_csv_sha256" -> sampleSha,
      "other_scan_sample_csv_sha256" -> otherSha,
      "expected_deciles" -> expDeciles.map(d => Json.obj(
        "percentile" -> d.percentile, "min_value" -> d.minValue, "max_value" -> d.maxValue, "cnt" -> d.cnt))))
  }

  def layerMetrics(cycleOps: Seq[Op], w: Tracer.Window): Map[String, Double] = {
    val op = cycleOps.head
    val (cli0, cli1) = op.spans("runCli")
    val inCli = w.jobs.filter(j => j.startMs >= cli0 && j.startMs <= cli1).sortBy(_.startMs)
    def method(s: String): String = s.takeWhile(_ != ' ')
    def step(j: Tracer.Job): String =
      method(j.execution.flatMap(w.executions.get).filter(_.nonEmpty).getOrElse(j.callSite))
    val writeIdx = inCli.indexWhere(j => Set("text", "save").contains(step(j)))
    val (stats, hist, csv) =
      if (writeIdx < 0) (Vector.empty, inCli, Vector.empty)
      else {
        val writeExec = inCli(writeIdx).execution
        val (write, after) = inCli.drop(writeIdx).partition(j => j.execution == writeExec)
        (inCli.take(writeIdx), write.init, write.lastOption.toVector ++ after)
      }
    def union(js: Seq[Tracer.Job]): Double = Tracer.unionS(js.map(j => (j.startMs, math.max(j.endMs, j.startMs))))
    val firstJob = inCli.headOption.map(_.startMs).getOrElse(cli1)
    val statsS = union(stats)
    val histS = union(hist)
    val csvS = union(csv)
    val decS = op.facts("deciles_s").asInstanceOf[Double]
    Map(
      "build.s" -> (firstJob - cli0) / 1e3,
      "pipeline.stats_s" -> statsS,
      "pipeline.hist_s" -> histS,
      "pipeline.csv_s" -> csvS,
      "pipeline.deciles_s" -> decS,
      "pipeline.driver_s" -> (op.wallS - statsS - histS - csvS - decS),
      "raster.scan_rows_per_px" -> w.rasterRows.toDouble / tiles.pixels,
      "raster.scan_stages" -> w.rasterStages.toDouble,
      "raster.scan_cpu_s" -> w.rasterCpuS,
      "raster.task_skew" -> w.rasterSkew)
  }

  /** One traced job's wall time, split into its steps, and its task CPU
    * against the decode probe: the probe's single-core rates give the CPU
    * seconds that decoding the set once per raster scan stage takes.
    */
  def timeSplit(m: Map[String, Double], wallS: Double, ops: Int): collection.Map[String, Any] = {
    val steps = Seq("stats", "hist", "csv", "deciles", "driver")
    val decodeOnceS = Tiles.Mix.map { case (e, n) =>
      n.toDouble * edge * edge / 1e6 / m(s"raster.decode_mpx_per_core.${e.name}")
    }.sum
    val decodeS = decodeOnceS * m("raster.scan_stages")
    Json.obj(
      "wall_s" -> wallS,
      "steps_s" -> Json.obj(steps.map(k => k -> m(s"pipeline.${k}_s")): _*),
      "steps_share" -> Json.obj(steps.map(k => k -> m(s"pipeline.${k}_s") / wallS): _*),
      "task_cpu_s" -> m("exec.task_cpu_s"),
      "raster_scan_stages" -> m("raster.scan_stages"),
      "raster_scan_task_cpu_s" -> m("raster.scan_cpu_s"),
      "decode_cpu_est_s" -> decodeS,
      "decode_share_of_task_cpu" -> decodeS / m("exec.task_cpu_s"),
      "definitions" -> ("stats, hist and csv are the seconds during which runCli's jobs of that step ran " +
        "(stats: before the CSV write; hist: the write's jobs but its last; csv: the write's last job " +
        "and the jobs after it); deciles is the span around the decile query over histogram.csv; " +
        "driver is the rest of the job's wall time, when no job of the run ran. decode_cpu_est_s is " +
        "the tile set's pixels per encoding over the decode probe's single-core rate, times the raster " +
        "scan stages; the rest of task_cpu_s is the in-reader aggregation and per-tile and per-task work."))
  }

  def describe: Map[String, Any] = Map(
    "sample_tiles" -> Tiles.sample.size,
    "scan" -> (if (pushed) "pushed (mode=stats, mode=hist)" else "values (mode=values)"),
    "tiles" -> tiles.uris.size,
    "tile_edge" -> edge,
    "pixels" -> tiles.pixels,
    "tile_bytes" -> tiles.bytes,
    "mix" -> Tiles.Mix.map { case (e, n) => e.name -> n }.toMap)

  private def sha256(p: Path): String = sha256(Files.readAllBytes(p))
  private def sha256(b: Array[Byte]): String =
    MessageDigest.getInstance("SHA-256").digest(b).map("%02x".format(_)).mkString

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
      finally s.close()
    }
}

object TilePipeline {

  /** Jobs over the full list before the measured ones. */
  val WarmupJobs = 1
}
