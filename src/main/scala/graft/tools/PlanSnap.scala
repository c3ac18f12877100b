package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.ExplainMode

/** Snapshot the final adaptive plan (`explain("formatted")` after the
  * query has run) of named queries into a directory — the evidence files
  * the optimization rounds commit as `plans/r<N>/<query>_{before,after}.txt`.
  * The query runs first because AQE decides runtime re-plans such as
  * [[graft.core.CollapseSmallStages]] only during execution; a snapshot
  * taken before it would show the initial plan.
  * Usage: runMain graft.tools.PlanSnap <outDir> <suffix> <q1,q2,...> [sfDir]
  */
object PlanSnap {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: PlanSnap <outDir> <suffix> <q1,q2,...> [sfDir]")
    val (outDir, suffix, qcsv) = (args(0), args(1), args(2))
    val sfDir = if (args.length > 3) args(3) else "/root/testdata/sf0.1"
    val spark = graft.SparkEntry.localSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.GraftFunctions.register(spark)
    Files.createDirectories(Paths.get(outDir))
    for (q <- qcsv.split(",").map(_.trim).filter(_.nonEmpty)) {
      val df = graft.SparkEntry.queries(q)(spark, sfDir)
      df.queryExecution.toRdd.count()
      val txt = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      Files.writeString(Paths.get(outDir, s"${q}_$suffix.txt"), txt)
      println(s"PLANSNAP wrote $outDir/${q}_$suffix.txt")
      graft.operators.DedupOps.releaseShingleCaches()
    }
    spark.stop()
  }
}
