package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One closed-loop workload: a single client submits the next cycle only
  * after the previous one has returned.
  */
trait Workload {

  /** Build the inputs and warm the JIT; returns the seconds of each part.
    * Timed as part of `setup_s`.
    */
  def setup(): Map[String, Double]

  /** One unit of the closed loop: a reference job, or a pass over the
    * query panel. Appends one [[Op]] per user-visible request.
    */
  def cycle(index: Int, tracer: Option[Tracer], ops: mutable.ArrayBuffer[Op]): Unit

  /** Measured cycles per run: fixed, so that every run, of any build,
    * takes its best over the same cycles.
    */
  def cycles: Int

  /** Output checks for the ops run so far, outside every timed region. */
  def check(ops: Seq[Op]): Check

  /** Workload-specific per-layer numbers of one traced cycle; a metric
    * left out reads 0.
    */
  def layerMetrics(cycleOps: Seq[Op], window: Tracer.Window): Map[String, Double]

  /** Where one traced cycle's wall time went, for the record; `m` holds
    * the cycle's per-layer numbers with the decode probe's rates, and
    * `ops` its operation count.
    */
  def timeSplit(m: Map[String, Double], wallS: Double, ops: Int): collection.Map[String, Any]

  /** Size of the work in one cycle, for the record. */
  def describe: Map[String, Any]
}

/** One user-visible request: a query, or one run of the reference job.
  * Times are wall-clock milliseconds for attribution plus a precise
  * duration; `spans` holds named sub-intervals the tracer attributes.
  */
final case class Op(
    name: String,
    startMs: Long,
    endMs: Long,
    wallS: Double,
    ok: Boolean,
    error: Option[String],
    spans: Map[String, (Long, Long)],
    facts: Map[String, Any])

final case class Check(failedOps: Set[Int], notes: Seq[String], extra: Map[String, Any]) {
  def correct: Boolean = failedOps.isEmpty && notes.isEmpty
}

object Workload {

  /** Time `body`, returning its result with wall-clock bounds in ms and the
    * precise duration in seconds.
    */
  def timed[T](body: => T): (T, Long, Long, Double) = {
    val ms0 = System.currentTimeMillis()
    val n0 = System.nanoTime()
    val r = body
    val s = (System.nanoTime() - n0) / 1e9
    (r, ms0, System.currentTimeMillis(), s)
  }

  /** New lines in a bounded FIFO log between two snapshots. */
  def newLines(before: Seq[String], after: Seq[String]): Int = {
    val keep = (0 to before.size).find(k => after.startsWith(before.drop(k))).getOrElse(before.size)
    after.size - (before.size - keep)
  }

  /** The session `HistogramRunner.main` builds for `cores` workers, with
    * Spark's scratch space kept inside the work directory. Queries from
    * `SparkEntry.queries` apply their own SQL settings on every call.
    */
  def session(cores: Int, workDir: String): SparkSession = {
    val configs = graft.HistogramRunner.sessionConfigs(cores) ++ Map(
      "spark.local.dir" -> s"$workDir/spark-local",
      "spark.sql.warehouse.dir" -> s"$workDir/spark-warehouse")
    val spark = configs
      .foldLeft(SparkSession.builder().master(s"local[$cores]").appName("perfbench")) {
        case (b, (k, v)) => b.config(k, v)
      }
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.GraftFunctions.register(spark)
    spark
  }
}
