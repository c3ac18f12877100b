package graft.sources

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Thin loaders for the generated Parquet tables (TESTDATA.md).
  * Explicit-by-name so Catalyst sees a stable relation per table; schema
  * comes from Parquet footers, inferred once per table version (see
  * [[parquet]]).
  */
object Tables {
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    parquet(spark, s"$sfDir/$name.parquet")

  /** SQL confs that change the schema Parquet inference returns for the
    * same footers (`events.ts` is a Long under `nanosAsLong`, an error
    * without it).
    */
  private val InferenceConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema")

  private final case class Inferred(files: Seq[(String, Long, Long)], schema: StructType)

  /** Inferred schemas by (path, inference confs), each with the file
    * listing it was inferred from. Metadata, not query results: like a
    * catalog table's schema it outlives `clearCache()` and
    * `DedupOps.releaseAllCaches()`, and a rewritten table is caught by its
    * listing instead. One entry per path and conf setting.
    */
  private val schemas = new ConcurrentHashMap[(String, Seq[String]), Inferred]()

  /** `spark.read.parquet(path)` that pays footer inference, a Spark job of
    * ~0.1 s, once per table version. Later reads pass the memoized schema
    * (`spark.read.schema(s)`, no job) and are kept only if the listing
    * Spark made for them — sorted name, length and mtime of every file —
    * equals the one the schema came from; otherwise the table is inferred
    * again. The relation is the same either way (a file source's schema is
    * all-nullable whether inferred or given), so cached plans still match.
    */
  def parquet(spark: SparkSession, path: String): DataFrame = {
    val key = (path, InferenceConfs.map(k => spark.conf.get(k)))
    val memo = schemas.get(key)
    val hit = Option(memo).map(m => spark.read.schema(m.schema).parquet(path))
      .filter(df => fileStamps(df.queryExecution.analyzed) == memo.files)
    hit.getOrElse {
      val df = spark.read.parquet(path)
      schemas.put(key, Inferred(fileStamps(df.queryExecution.analyzed), df.schema))
      df
    }
  }

  /** (path, length, mtime) of every file under the plan's file-backed
    * relations, sorted: from the relations' own listings, no I/O.
    */
  private[graft] def fileStamps(plan: LogicalPlan): Seq[(String, Long, Long)] =
    plan.collect {
      case lr: LogicalRelation => lr.relation match {
        case fs: HadoopFsRelation =>
          fs.location.listFiles(Nil, Nil).flatMap(_.files)
            .map(f => (f.getPath.toString, f.getLen, f.getModificationTime))
        case _ => Seq.empty[(String, Long, Long)]
      }
    }.flatten.sortBy(t => (t._1, t._2, t._3))

  def lineitem(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "lineitem")
  def orders(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "orders")
  def customer(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "customer")
  def supplier(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "supplier")
  def part(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "part")
  def nation(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "nation")
  def region(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "region")
  /** events.ts has shipped as both parquet TIMESTAMP(NANOS) (read as
    * LongType under `spark.sql.legacy.parquet.nanosAsLong`) and
    * TIMESTAMP(MICROS) (read as TimestampType) across testdata generations.
    * Branch on the footer schema and normalize to the columns every
    * downstream query uses: integer `ts_us`/`ts_ns` plus a microsecond
    * `ts: timestamp`. Integer arithmetic throughout — double division would
    * lose precision above 2^53 ns.
    */
  def events(spark: SparkSession, sfDir: String): DataFrame =
    normalizeEventsTs(load(spark, sfDir, "events"))

  /** The generation branch, reusable by any loader of an events-shaped
    * relation (tools and streaming readers included — a streaming DataFrame
    * goes through the same column ops). Only the two types the generations
    * have actually shipped are accepted; anything else fails LOUDLY here
    * rather than silently casting to null timestamps downstream.
    */
  private[graft] def normalizeEventsTs(raw: DataFrame): DataFrame =
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw
          .withColumn("ts_ns", col("ts").cast("long"))
          // micros: DuckDB (the oracle) truncates parquet nanos to
          // TIMESTAMP(us), so cross-engine arithmetic sticks to microseconds
          .withColumn("ts_us", expr("ts_ns DIV 1000"))
          .withColumn("ts", timestamp_micros(col("ts_us")))
      case org.apache.spark.sql.types.TimestampType |
          org.apache.spark.sql.types.TimestampNTZType =>
        // TIMESTAMP_NTZ → TIMESTAMP is identity under the UTC session tz
        // every entrypoint sets; unix_micros then yields exact integers
        raw
          .withColumn("ts", col("ts").cast("timestamp"))
          .withColumn("ts_us", unix_micros(col("ts")))
          .withColumn("ts_ns", col("ts_us") * lit(1000L))
      case other =>
        throw new IllegalArgumentException(
          s"events.ts: unsupported parquet type $other " +
            "(known generations: INT64 nanos-as-long, TIMESTAMP micros)")
    }
  def documents(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "documents")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "embeddings")
}
