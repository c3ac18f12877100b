package graft
import org.apache.spark.sql.{SparkSession, DataFrame}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Queries are contributed by per-domain modules; each exposes a
  * `queries` map and (where DuckDB-expressible) a matching `oracle` map
  * with identical column names/order semantics.
  */
object SparkEntry {

  /** Session settings every entry point needs: non-ANSI casts (truncating
    * double→int, mirrored by `trunc()` in the oracles) and UTC timestamps.
    * Safe to call repeatedly; these are runtime SQL confs.
    */
  def tune(spark: SparkSession): SparkSession = {
    spark.conf.set("spark.sql.ansi.enabled", "false")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    // events.parquet stores ts as TIMESTAMP(NANOS); Spark has no nanos
    // timestamp type — read as LongType nanos and convert explicitly
    // (graft.sources.Tables.events).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // let AQE re-plan the fill of persisted relations too (off by default):
    // the iterative operators (connected components, pagerank) persist one
    // small generation per round, and without this every generation fill
    // runs its shuffles at the static partition count — at sf0.1 that is
    // 32-task stages over 5000-row relations, ~1 s of pure scheduling per
    // iteration. With it, AQE coalesces tiny exchanges and auto-broadcasts
    // from runtime sizes, while big corpora keep full parallelism — the
    // scale-adaptive behavior everywhere else in the engine already relies
    // on.
    spark.conf.set("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
    graft.functions.GraftFunctions.register(spark)
    spark
  }

  /** The confs of every main's local session: `cores` shuffle partitions,
    * UTC, non-ANSI casts, nanosecond parquet timestamps read as longs (see
    * [[tune]]) and no UI.
    */
  def localConfigs(cores: Int): Map[String, String] = Map(
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.ansi.enabled" -> "false",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.ui.enabled" -> "false")

  /** A `local[cores]` session with [[localConfigs]], or the active one. */
  def localSession(cores: Int): SparkSession = session(s"local[$cores]", localConfigs(cores))

  /** A session on `master` with `configs`, or the active one. */
  def session(master: String, configs: Map[String, String]): SparkSession =
    configs.foldLeft(SparkSession.builder().master(master)) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("hist_deciles")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    (CoreQueries.queries ++ TextQueries.queries ++ DedupQueries.queries ++
      SimilarityQueries.queries ++ EventsQueries.queries ++ TpchQueries.queries ++
      MediaQueries.queries ++ CurationQueries.queries ++ ProfileQueries.queries)
      .map { case (name, fn) =>
        name -> ((s: SparkSession, dir: String) => fn(tune(s), dir))
      }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    CoreQueries.oracle ++ TextQueries.oracle ++ DedupQueries.oracle ++
      SimilarityQueries.oracle ++ EventsQueries.oracle ++ TpchQueries.oracle ++
      MediaQueries.oracle ++ CurationQueries.oracle ++ ProfileQueries.oracle
}
