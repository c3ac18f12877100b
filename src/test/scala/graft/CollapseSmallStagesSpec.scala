package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{CoalesceExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanHelper, ShuffleQueryStageExec}

import graft.core.{CollapseSmallStages, RouteLog}
import graft.operators.DedupOps

/** Pins the runtime small-stage collapse: a small shuffle stage reaches
  * the windows and sorts above it as one partition, a stage above the
  * byte limit and the large side of a join keep their partitioning, and
  * the engine's window-over-aggregate queries run no more stages than
  * the hand-placed collapses they replace.
  */
class CollapseSmallStagesSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private val MinPartitionSize = "spark.sql.adaptive.coalescePartitions.minPartitionSize"

  // small GROUP BY → window on other keys → ORDER BY: three exchanges
  // when nothing collapses
  private val windowOverAggregate =
    """SELECT k, s, sum(s) OVER (PARTITION BY k % 3 ORDER BY k) AS cum
      |FROM (SELECT id % 20 AS k, sum(id) AS s FROM range(0, 20000, 1, 4) GROUP BY id % 20)
      |ORDER BY k""".stripMargin

  private val expectedRows: Seq[(Long, Long, Long)] = {
    val s = (0L until 20L).map(k => k -> (0L until 20000L).filter(_ % 20 == k).sum).toMap
    (0L until 20L).map(k => (k, s(k), (0L to k).filter(_ % 3 == k % 3).map(s).sum))
  }

  private def rowsOf(df: DataFrame): Seq[(Long, Long, Long)] =
    df.collect().toSeq.map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))

  private def finalPlan(df: DataFrame): SparkPlan = df.queryExecution.executedPlan

  private def shuffleStages(p: SparkPlan): Seq[ShuffleQueryStageExec] =
    collect(p) { case s: ShuffleQueryStageExec => s }

  private def coalesces(p: SparkPlan): Seq[CoalesceExec] = collect(p) { case c: CoalesceExec => c }

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val old = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("register installs the strategy once per session") {
    graft.functions.GraftFunctions.register(spark)
    assert(spark.experimental.extraStrategies.count(_ == CollapseSmallStages) == 1)
  }

  test("a pure-SQL small aggregate reaches its window and sort as one partition") {
    RouteLog.reset()
    val df = spark.sql(windowOverAggregate)
    assert(rowsOf(df) == expectedRows)
    val plan = finalPlan(df)
    assert(shuffleStages(plan).size == 1, s"expected one shuffle stage:\n$plan")
    assert(coalesces(plan).map(_.numPartitions) == Seq(1), s"expected Coalesce 1:\n$plan")
    // announced once for the one collapsed stage, however often AQE re-planned
    assert(RouteLog.recent().count(_.startsWith(s"${CollapseSmallStages.Route}:")) == 1)
  }

  test("a stage above the byte limit keeps its downstream exchanges") {
    withConf(MinPartitionSize -> "1") {
      val df = spark.sql(windowOverAggregate)
      assert(rowsOf(df) == expectedRows)
      val plan = finalPlan(df)
      assert(coalesces(plan).isEmpty, s"no stage is under the limit:\n$plan")
      assert(shuffleStages(plan).size == 3, s"aggregate, window and sort exchanges:\n$plan")
    }
  }

  test("the large side of a join is never narrowed") {
    val limit = 64L << 10
    withConf(
        MinPartitionSize -> limit.toString,
        "spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1") {
      val df = spark.sql(
        """SELECT b.k, count(*) AS n, sum(s.c) AS c, sum(b.id) AS ids
          |FROM (SELECT id % 10 AS k, id FROM range(0, 100000, 1, 4)) b
          |JOIN (SELECT id % 10 AS k, count(*) AS c FROM range(0, 1000, 1, 4) GROUP BY id % 10) s
          |  ON b.k = s.k
          |GROUP BY b.k""".stripMargin)
      val rows = df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      assert(rows.sortBy(_._1).toSeq ==
        (0L until 10L).map(k => (k, 10000L, 1000000L, 499950000L + 10000L * k)))
      val plan = finalPlan(df)
      def bytes(s: ShuffleQueryStageExec): Long = s.mapStats.map(_.bytesByPartitionId.sum).getOrElse(0L)
      assert(shuffleStages(plan).exists(bytes(_) > limit), s"the large side must exceed the limit:\n$plan")
      for (c <- coalesces(plan); s <- c.collect { case s: ShuffleQueryStageExec => s })
        assert(bytes(s) <= limit, s"stage ${s.id} (${bytes(s)} B) narrowed above the limit:\n$plan")
    }
  }

  // executed stages per query at sf0.001, measured with the hand-placed
  // collapses this strategy replaced
  private val stagesBefore = Map(
    "auc_compare" -> 14,
    "weighted_median" -> 14,
    "events_transitions" -> 4,
    "compaction_bins" -> 3,
    "seasonal_decompose" -> 3,
    "hist_deciles" -> 9)

  test("window-over-aggregate queries run no more stages than with hand-placed collapses") {
    val completed = new AtomicInteger
    val listener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = completed.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val counts = stagesBefore.keys.toSeq.sorted.map { q =>
        spark.catalog.clearCache()
        DedupOps.releaseAllCaches()
        ListenerBusDrain(spark.sparkContext)
        val before = completed.get()
        SparkEntry.queries(q)(spark, TestSpark.sf0001).collect()
        ListenerBusDrain(spark.sparkContext)
        q -> (completed.get() - before)
      }
      for ((q, n) <- counts) assert(n <= stagesBefore(q), s"$q ran $n stages, ${stagesBefore(q)} before")
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
