package graft.tools

import org.apache.spark.sql.functions._

import graft.core.{BinMethod, BinSpec}
import graft.streaming.StreamingHistogram

/** Structured-Streaming smoke: drive StreamingHistogram.windowedCounts over
  * a file stream of the events table (the real deployment shape:
  * readStream → windowed binned agg → sink), then print the final state and
  * the batch-mode result of the identical transform for comparison.
  *
  * Usage: runMain graft.tools.StreamDemo [sfDir]
  */
object StreamDemo {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val spark = graft.SparkEntry.localSession(4)
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.GraftFunctions.register(spark)

    val spec = BinSpec.derive(0.0, 500.0, BinMethod.Linear)
    val schema = spark.read.parquet(s"$sfDir/events.parquet").schema

    // generation-aware ts normalization shared with Tables.events — the
    // nanos-as-long assumption broke silently when the testdata regenerated
    // to TIMESTAMP(MICROS) (ADVICE r6); column ops apply to streaming
    // DataFrames unchanged
    def withTs(df: org.apache.spark.sql.DataFrame) =
      graft.sources.Tables.normalizeEventsTs(df)

    val stream = StreamingHistogram.windowedCounts(
      // glob form: FileStreamSource requires a directory basePath; the
      // driver tables are single files
      withTs(spark.readStream.schema(schema).parquet(s"$sfDir/events.parquet*")),
      spec,
      "1 day",
      watermarkDelay = Some("1 hour"))
    val q = stream.writeStream
      .format("memory")
      .queryName("stream_out")
      .outputMode("complete")
      .start()
    q.processAllAvailable()
    q.stop()

    val streamed = spark.table("stream_out")
    val batch = StreamingHistogram.windowedCounts(
      withTs(spark.read.parquet(s"$sfDir/events.parquet")),
      spec,
      "1 day")
    val s = streamed.agg(sum("cnt")).head().getLong(0)
    val b = batch.agg(sum("cnt")).head().getLong(0)
    val diff = streamed
      .union(batch.select(streamed.columns.toIndexedSeq.map(col): _*))
      .groupBy("win_start", "bin")
      .agg(count(lit(1)).as("n"), countDistinct(col("cnt")).as("d"))
      .filter(col("n") =!= 2 || col("d") =!= 1)
      .count()
    println(s"STREAM_ROWS=${streamed.count()} STREAM_TOTAL=$s BATCH_TOTAL=$b MISMATCHED_CELLS=$diff")
    streamed.orderBy("win_start", "bin").show(5, truncate = false)
    spark.stop()
  }
}
