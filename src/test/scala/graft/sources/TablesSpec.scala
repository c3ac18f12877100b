package graft.sources

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.types.TimestampType

import graft.TestSpark

/** The parquet schema memo behind `Tables.load`: a second load starts no
  * Spark job and gets the schema a fresh inference would, a rewritten
  * table or a changed inference conf is inferred again.
  */
class TablesSpec extends graft.SparkSpec {
  import spark.implicits._

  private lazy val tableNames = new java.io.File(TestSpark.sf0001).list().toSeq
    .filter(_.endsWith(".parquet")).map(_.stripSuffix(".parquet")).sorted

  private val jobs = new AtomicInteger
  private val jobCounter = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
  }

  /** `f`'s result and the Spark jobs it started. */
  private def countingJobs[T](f: => T): (T, Int) = {
    ListenerBusDrain(spark.sparkContext)
    jobs.set(0)
    spark.sparkContext.addSparkListener(jobCounter)
    try {
      val out = f
      ListenerBusDrain(spark.sparkContext)
      (out, jobs.get)
    } finally spark.sparkContext.removeSparkListener(jobCounter)
  }

  /** A fresh directory holding copies of the named test tables, so the
    * first load of each is a memo miss whatever ran before.
    */
  private def copyTables(names: String*): String = {
    val dir = Files.createTempDirectory("graft-tables")
    for (n <- names)
      Files.copy(Path.of(TestSpark.sf0001, s"$n.parquet"), dir.resolve(s"$n.parquet"),
        StandardCopyOption.COPY_ATTRIBUTES)
    dir.toString
  }

  test("a second load of a table starts no Spark job") {
    val dir = copyTables("orders", "events")
    val (_, inferJobs) = countingJobs(Tables.load(spark, dir, "orders"))
    assert(inferJobs >= 1, "the first load infers the footer schema in a Spark job")
    val (again, memoJobs) = countingJobs(Tables.load(spark, dir, "orders"))
    assert(memoJobs == 0)
    assert(again.count() == spark.read.parquet(s"$dir/orders.parquet").count())
    Tables.events(spark, dir)
    assert(countingJobs(Tables.events(spark, dir))._2 == 0)
  }

  test("the memoized schema equals a fresh inference, nullability included") {
    assert(tableNames.size == 10)
    for (t <- tableNames) {
      Tables.load(spark, TestSpark.sf0001, t)
      val (memo, n) = countingJobs(Tables.load(spark, TestSpark.sf0001, t).schema)
      assert(n == 0, t)
      val fresh = spark.read.parquet(s"${TestSpark.sf0001}/$t.parquet").schema
      assert(memo == fresh, t)
      assert(memo.map(_.nullable) == fresh.map(_.nullable), t)
    }
  }

  test("a table rewritten with another schema is inferred again") {
    val dir = Files.createTempDirectory("graft-rewrite").toString
    val path = s"$dir/t.parquet"
    Seq((1L, "a"), (2L, "b")).toDF("id", "name").write.parquet(path)
    assert(Tables.load(spark, dir, "t").schema.fieldNames.toSeq == Seq("id", "name"))
    Seq((2.5, true)).toDF("x", "flag").write.mode("overwrite").parquet(path)
    val rewritten = Tables.load(spark, dir, "t")
    assert(rewritten.schema == spark.read.parquet(path).schema)
    assert(rewritten.as[(Double, Boolean)].collect().toSeq == Seq((2.5, true)))
  }

  test("flipping nanosAsLong is a different memo entry: events.ts is not served as Long without it") {
    // a TIMESTAMP(NANOS) events table: the INT64-nanos generation
    val dir = Files.createTempDirectory("graft-nanos")
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 ts (TIMESTAMP(NANOS,true)); required int64 user_id; }")
    val w = ExampleParquetWriter.builder(new HPath(dir.resolve("events.parquet").toString))
      .withType(schema).build()
    try w.write(new SimpleGroupFactory(schema).newGroup()
      .append("ts", 1700000000123456789L).append("user_id", 7L))
    finally w.close()
    val conf = "spark.sql.legacy.parquet.nanosAsLong"
    def tsNs(): Long = Tables.events(spark, dir.toString).select("ts_ns").as[Long].head()
    assert(spark.conf.get(conf) == "true")
    assert(tsNs() == 1700000000123456789L)
    assert(countingJobs(Tables.events(spark, dir.toString))._2 == 0)
    spark.conf.set(conf, "false")
    try {
      // Spark 4 has no timestamp reading of nanos: without the conf the
      // load fails as a fresh inference does, instead of taking the
      // memoized LongType branch
      val e = intercept[AnalysisException](Tables.events(spark, dir.toString))
      assert(e.getMessage.contains("TIMESTAMP(NANOS"))
    } finally spark.conf.set(conf, "true")
    assert(tsNs() == 1700000000123456789L)
    // the test tables' generation, TIMESTAMP(MICROS), reads the same under either setting
    for (v <- Seq("false", "true")) {
      spark.conf.set(conf, v)
      assert(Tables.events(spark, TestSpark.sf0001).schema("ts").dataType == TimestampType, v)
    }
  }
}
