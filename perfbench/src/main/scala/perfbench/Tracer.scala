package perfbench

import scala.collection.mutable

import org.apache.spark.{Success, SparkContext}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, LogicalPlan}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** Execution-side tracing from outside the engine: a `SparkListener` for
  * jobs, stages and tasks, and a `QueryExecutionListener` for the Catalyst
  * phases and final plans of every Dataset action. Events are kept in
  * memory and attributed to the benchmark's own spans afterwards, by time:
  * the workloads are closed loops with one client, so every job that
  * starts inside a span belongs to it.
  */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val lock = new Object
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val stages = mutable.LinkedHashMap.empty[(Int, Int), Stage]
  private val executions = mutable.HashMap.empty[Long, String]
  private val plans = mutable.ArrayBuffer.empty[PlanInfo]
  @volatile private var lastEventMs = System.currentTimeMillis()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      val exec = Option(e.properties).flatMap(p => Option(p.getProperty(SqlExecutionId))).map(_.toLong)
      jobs(e.jobId) = Job(e.jobId, e.time, -1L, exec, e.stageInfos.headOption.map(_.name).getOrElse(""))
      // a stage listed again by a later job is a skipped re-use: keep its first owner
      e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
      lastEventMs = System.currentTimeMillis()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobs.get(e.jobId).foreach(j => jobs(e.jobId) = j.copy(endMs = e.time))
      lastEventMs = System.currentTimeMillis()
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
      val si = e.stageInfo
      val st = stage(si.stageId, si.attemptNumber())
      st.rasterScan = si.rddInfos.exists(_.name == "DataSourceRDD")
      st.completed = true
      lastEventMs = System.currentTimeMillis()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      val st = stage(e.stageId, e.stageAttemptId)
      val info = e.taskInfo
      st.tasks += 1
      if (e.reason != Success) st.failedTasks += 1
      st.durationsMs += info.duration
      Option(e.taskMetrics).foreach { m =>
        st.cpuNs += m.executorCpuTime
        st.gcMs += m.jvmGCTime
        st.schedDelayMs += math.max(
          0L,
          info.duration - m.executorRunTime - m.executorDeserializeTime -
            m.resultSerializationTime - (if (info.gettingResult) info.finishTime - info.gettingResultTime else 0L))
        st.shuffleRead += m.shuffleReadMetrics.localBytesRead + m.shuffleReadMetrics.remoteBytesRead
        st.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        st.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        st.recordsRead += m.inputMetrics.recordsRead
      }
      lastEventMs = System.currentTimeMillis()
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        lock.synchronized { executions(s.executionId) = s.description }
      case _ => ()
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val info = planInfo(qe)
      lock.synchronized { plans += info }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private def stage(id: Int, attempt: Int): Stage =
    stages.getOrElseUpdate((id, attempt), new Stage(id, stageJob.getOrElse(id, -1)))

  /** Attach both listeners; events are recorded until [[detach]]. */
  def attach(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  /** Wait for the events already posted, then remove both listeners. */
  def detach(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  /** Wait until every job seen has ended and the bus has been quiet for a
    * moment, so late task and stage events are in before attribution.
    */
  def drain(): Unit = {
    val deadline = System.currentTimeMillis() + 15000
    def settled = lock.synchronized(jobs.values.forall(_.endMs >= 0)) &&
      System.currentTimeMillis() - lastEventMs > 300
    while (!settled && System.currentTimeMillis() < deadline) Thread.sleep(50)
  }

  /** Plan-side facts of a query whose result the caller forced itself
    * (`toRdd` runs no Dataset action, so no listener sees it).
    */
  def record(qe: QueryExecution): Unit = {
    val info = planInfo(qe)
    lock.synchronized { plans += info }
  }

  /** Everything traced inside `[fromMs, toMs]`. */
  def window(fromMs: Long, toMs: Long): Window = lock.synchronized {
    val js = jobs.values.filter(j => j.startMs >= fromMs && j.startMs <= toMs).toVector
    val ids = js.map(_.id).toSet
    val sts = stages.values.filter(s => ids.contains(s.jobId)).toVector
    val ps = plans.filter(p => p.startMs >= fromMs && p.startMs <= toMs).toVector
    Window(js, sts, ps, js.flatMap(_.execution).distinct.map(e => e -> executions.getOrElse(e, "")).toMap)
  }
}

object Tracer {
  private val SqlExecutionId = "spark.sql.execution.id"

  final case class Job(id: Int, startMs: Long, endMs: Long, execution: Option[Long], callSite: String)

  final class Stage(val id: Int, val jobId: Int) {
    var rasterScan = false
    var completed = false
    var tasks = 0
    var failedTasks = 0
    val durationsMs: mutable.ArrayBuffer[Long] = mutable.ArrayBuffer.empty
    var cpuNs = 0L
    var gcMs = 0L
    var schedDelayMs = 0L
    var shuffleRead = 0L
    var shuffleWrite = 0L
    var spill = 0L
    var recordsRead = 0L
  }

  /** Catalyst phase times and final-plan facts of one query execution. */
  final case class PlanInfo(
      startMs: Long,
      analysisMs: Long,
      optimizationMs: Long,
      planningMs: Long,
      exchanges: Int,
      cacheScans: Int,
      relations: Int)

  private object Plans extends AdaptiveSparkPlanHelper

  def planInfo(qe: QueryExecution): PlanInfo = {
    val phases = qe.tracker.phases
    def ms(p: String): Long = phases.get(p).map(_.durationMs).getOrElse(0L)
    val start = if (phases.isEmpty) System.currentTimeMillis() else phases.values.map(_.startTimeMs).min
    val plan: SparkPlan = qe.executedPlan
    PlanInfo(
      start,
      ms("analysis"),
      ms("optimization"),
      ms("planning"),
      Plans.collectWithSubqueries(plan) { case e: ShuffleExchangeExec => e }.size,
      Plans.collectWithSubqueries(plan) { case s: InMemoryTableScanExec => s }.size,
      relationLeaves(qe.analyzed))
  }

  /** Table leaves of an analyzed plan: file sources (the parquet tables)
    * and DSv2 relations (the raster scan).
    */
  def relationLeaves(plan: LogicalPlan): Int =
    plan.collectLeaves().count {
      case _: LogicalRelation | _: DataSourceV2Relation => true
      case _: LeafNode                                    => false
    }

  /** The traced events of one span, summed. */
  final case class Window(
      jobs: Vector[Job],
      stages: Vector[Stage],
      plans: Vector[PlanInfo],
      executions: Map[Long, String]) {
    private val done = stages.filter(_.completed)
    def jobCount: Int = jobs.size
    def stageCount: Int = done.size
    def taskCount: Int = stages.map(_.tasks).sum
    def failedTasks: Int = stages.map(_.failedTasks).sum
    def cpuS: Double = stages.map(_.cpuNs).sum / 1e9
    def gcS: Double = stages.map(_.gcMs).sum / 1e3
    def schedDelayS: Double = stages.map(_.schedDelayMs).sum / 1e3
    def shuffleRead: Long = stages.map(_.shuffleRead).sum
    def shuffleWrite: Long = stages.map(_.shuffleWrite).sum
    def spill: Long = stages.map(_.spill).sum
    def rasterRows: Long = stages.filter(_.rasterScan).map(_.recordsRead).sum
    def rasterStages: Int = done.count(_.rasterScan)
    def rasterCpuS: Double = stages.filter(_.rasterScan).map(_.cpuNs).sum / 1e9
    def analysisMs: Long = plans.map(_.analysisMs).sum
    def optimizationMs: Long = plans.map(_.optimizationMs).sum
    def planningMs: Long = plans.map(_.planningMs).sum
    def exchanges: Int = plans.map(_.exchanges).sum
    def cacheScans: Int = plans.map(_.cacheScans).sum
    def relations: Int = plans.map(_.relations).sum

    /** Seconds during which at least one job ran. */
    def execS: Double = unionS(jobs.map(j => (j.startMs, math.max(j.endMs, j.startMs))))

    /** Max ÷ median task time of the heaviest raster scan stage. */
    def rasterSkew: Double = {
      val scans = done.filter(s => s.rasterScan && s.durationsMs.nonEmpty)
      if (scans.isEmpty) 0.0
      else {
        val heaviest = scans.maxBy(_.durationsMs.sum)
        val d = heaviest.durationsMs.sorted
        val med = Stats.median(d.map(_.toDouble).toSeq)
        if (med > 0) d.last / med else 0.0
      }
    }
  }

  def unionS(intervals: Seq[(Long, Long)]): Double = {
    var total = 0L
    var curStart = Long.MinValue
    var curEnd = Long.MinValue
    intervals.sortBy(_._1).foreach { case (s, e) =>
      if (s > curEnd) {
        if (curEnd > curStart) total += curEnd - curStart
        curStart = s
        curEnd = e
      } else curEnd = math.max(curEnd, e)
    }
    if (curEnd > curStart) total += curEnd - curStart
    total / 1e3
  }

  def cachedBytes(sc: SparkContext): Long =
    sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum
}
