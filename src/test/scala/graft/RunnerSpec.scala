package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.core.{BinMethod, BinSpec}
import graft.operators.{HistogramOps, MaskOps}
import graft.sources.raster.GeoTiffSpec

class RunnerSpec extends SparkSpec {
  import spark.implicits._

  private lazy val lineitem =
    spark.read.parquet(s"${TestSpark.sf0001}/lineitem.parquet")

  test("minmaxOnly stops at the stats relation (fixes dead reference flag)") {
    val out = HistogramRunner
      .run(lineitem, HistogramConfig("l_quantity", minmaxOnly = true))
      .head()
    assert(out.getDouble(0) == 1.0 && out.getDouble(1) == 50.0)
  }

  test("min/max overrides skip the stats pass and set the range") {
    val histo = HistogramRunner.run(
      lineitem,
      HistogramConfig("l_quantity", minValue = Some(0.0), maxValue = Some(10.0)))
    // linear: lo = -10, hi = 1010 → 1020 dense bins regardless of data
    assert(histo.count() == 1020L)
  }

  test("clampToZero reproduces the reference zero-init bug") {
    val out = HistogramRunner
      .run(lineitem, HistogramConfig("l_extendedprice", minmaxOnly = true, clampToZero = true))
      .head()
    assert(out.getDouble(0) == 0.0) // true min ~902 clamped to 0
  }

  test("legacyLogOffset100 shifts codes like the reference bug") {
    // offset ≠ 100 data: values near 0 → derived offset 0 (all positive);
    // legacy quantizes log(v + 100) instead of log(v + 0)
    val df = Seq(1.0, 2.0).toDF("v")
    val values = HistogramOps.validValues(df, "v")
    val spec = graft.core.BinSpec(0, 10000, 0.0, BinMethod.Log)
    val strict = values
      .select(HistogramOps.quantize(col("value"), spec).as("c"))
      .collect()
      .map(_.getInt(0))
      .toSeq
    val legacy = values
      .select(HistogramOps.quantize(col("value"), spec, legacyLogOffset100 = true).as("c"))
      .collect()
      .map(_.getInt(0))
      .toSeq
    assert(strict == Seq((math.log(1.0) * 1000).toInt, (math.log(2.0) * 1000).toInt))
    assert(legacy == Seq((math.log(101.0) * 1000).toInt, (math.log(102.0) * 1000).toInt))
  }

  test("E3 CLI: full reference flag surface parses (main.py:17-41)") {
    val c = HistogramRunner.parseArgs(Array(
      "tiles.txt", "value", "out_dir",
      "-m", "log", "-w", "8", "--min_value", "0.5", "--max_value", "9.5", "--minmax_only"))
    assert(c.source == "tiles.txt" && c.outDir == "out_dir" && c.workers == 8)
    assert(c.cfg == HistogramConfig(
      "value", BinMethod.Log, Some(0.5), Some(9.5), minmaxOnly = true))
    // long-form flags
    val d = HistogramRunner.parseArgs(Array("src.parquet", "--method", "linear"))
    assert(d.cfg.method == BinMethod.Linear && d.cfg.valueCol == "value")
    // legacy positional method still accepted
    val e = HistogramRunner.parseArgs(Array("src.parquet", "l_quantity", "log", "o"))
    assert(e.cfg.method == BinMethod.Log && e.outDir == "o" &&
      e.cfg.valueCol == "l_quantity")
    intercept[IllegalArgumentException](HistogramRunner.parseArgs(Array("s", "--bogus")))
    // a value flag as the last token is a usage error, not an index error
    for (flag <- Seq("-m", "-w", "--min_value", "--max_value"))
      intercept[IllegalArgumentException](HistogramRunner.parseArgs(Array("s", flag)))
  }

  test("E3 CLI: --minmax_only and override paths run through the arg surface") {
    val mm = HistogramRunner.runCli(
      spark,
      HistogramRunner.parseArgs(Array(
        s"${TestSpark.sf0001}/lineitem.parquet", "l_quantity", "--minmax_only")))
      .head()
    assert(mm.getDouble(0) == 1.0 && mm.getDouble(1) == 50.0)
    val out = Files.createTempDirectory("cli_histo").toString
    val histo = HistogramRunner.runCli(
      spark,
      HistogramRunner.parseArgs(Array(
        s"${TestSpark.sf0001}/lineitem.parquet", "l_quantity", out,
        "--min_value", "0", "--max_value", "10")))
    assert(histo.count() == 1020L) // overrides set the range, like run()
    assert(Files.exists(Paths.get(out, "histogram.csv")))
  }

  test("CLI over an s3:// tile list with no FileSystem for s3 fails loudly, writes no histogram.csv") {
    val dir = Files.createTempDirectory("cli_s3")
    val list = dir.resolve("bio_intact_list.txt")
    Files.writeString(list, Seq("10N_010E", "10N_020E", "10N_030E")
      .map(t => s"s3://gfw-data/bio/$t.tif").mkString("\n"))
    val runs = Seq(
      ("pushed", Nil, true),
      ("values", Nil, false),
      ("minmax_pushed", Seq("--minmax_only"), true),
      ("minmax_values", Seq("--minmax_only"), false))
    for ((name, flags, pushed) <- runs) {
      val out = dir.resolve(name)
      val cli = HistogramRunner.parseArgs((Seq(list.toString, "value", out.toString) ++ flags).toArray)
      val e = intercept[Exception](HistogramRunner.runCli(spark, cli, pushed))
      assert(GeoTiffSpec.noFileSystemFor("s3", e), s"$name: " + GeoTiffSpec.causes(e).mkString("\n"))
      assert(!Files.exists(out.resolve("histogram.csv")), name)
    }
  }

  test("E2 retry config: CLI session pins task+S3A retries (main.py:229-236)") {
    val cfgs = HistogramRunner.sessionConfigs(4)
    assert(cfgs("spark.task.maxFailures") == "7") // reference: 7 attempts
    assert(cfgs("spark.hadoop.fs.s3a.retry.limit") == "7")
    assert(cfgs("spark.hadoop.fs.s3a.attempts.maximum") == "7")
    assert(cfgs("spark.sql.shuffle.partitions") == "4")
    // local mode takes a task's attempts from the master URL, not the conf
    assert(HistogramRunner.master(4) == "local[4,7]")
  }

  test("F4 mask filter: reference 3x3 fixture semantics") {
    // values [[1,2,3],[2,3,4],[3,4,5]], mask [[F,T,T],[T,F,T],[T,T,F]]
    // (test/test_histogram.py:5-6) → kept: 2,3,2,4,3,4
    val vals = Seq(1, 2, 3, 2, 3, 4, 3, 4, 5).zipWithIndex
      .map { case (v, i) => (i.toLong, v) }
      .toDF("key", "code")
    val mask = Seq(false, true, true, true, false, true, true, true, false).zipWithIndex
      .map { case (m, i) => (i.toLong, m) }
      .toDF("key", "mask")
    val kept = MaskOps.applyMask(vals, mask)
    // the fold's dense step over the kept codes' counts
    val codeCounts = kept.groupBy(col("code")).count().as[(Int, Long)].collect()
    val counts = BinSpec(0, 9, 0.0, BinMethod.Linear).dense(codeCounts).toSeq
    assert(counts == Seq(0L, 0L, 2L, 2L, 2L, 0L, 0L, 0L, 0L))
  }

  test("S5 CSV sink writes exactly one histogram.csv in the reference's %.2f format") {
    val histo = Seq((1.5, 3L), (1.51, 0L)).toDF("value", "cnt").repartition(4)
    val dir = "target/fixtures/histo_csv"
    HistogramOps.writeCsv(histo, dir)
    val dataFiles = Files
      .list(Paths.get(dir))
      .toArray
      .map(_.toString)
      .filter(_.endsWith(".csv"))
    // single data file with the reference's fixed name (np.savetxt writes
    // one "histogram.csv" — compute_histogram/main.py:124)
    assert(dataFiles.length == 1, s"expected one csv, got ${dataFiles.toSeq}")
    assert(dataFiles.head.endsWith("histogram.csv"))
    // byte-identical to np.savetxt(fmt="%1.2f, %d"): comma PLUS space
    // (compute_histogram/main.py:124)
    val lines = scala.io.Source.fromFile(dataFiles.head).getLines().toSeq.sorted
    assert(lines == Seq("1.50, 3", "1.51, 0"))
  }
}
