package graft.tools


/** Ad-hoc profiling entry: time a named query at a given sfDir and print
  * the formatted physical plan. Usage: runMain graft.tools.Profile <name> [sfDir]
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val spark = graft.SparkEntry.localSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.GraftFunctions.register(spark)
    if (sys.env.get("PROFILE_STAGES").contains("1")) {
      spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          val i = s.stageInfo
          val ms = (for {a <- i.completionTime; b <- i.submissionTime} yield a - b).getOrElse(-1L)
          println(f"STAGE ${i.stageId}%4d tasks=${i.numTasks}%4d ${ms / 1000.0}%7.3f s  ${i.name.takeWhile(_ != '\n')}")
        }
      })
    }
    if (sys.env.get("PROFILE_JOBS").contains("1")) {
      spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        private val starts = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
        override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          starts.put(j.jobId, System.nanoTime())
        override def onJobEnd(j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
          val t0 = Option(starts.remove(j.jobId)).getOrElse(System.nanoTime())
          println(f"JOB ${j.jobId}%3d ${(System.nanoTime() - t0) / 1e9}%.3f s")
        }
      })
    }
    // comma-separated names profile sequentially in one JVM; per-query
    // transient caches release between queries (the bench lifecycle),
    // session shingle corpora stay warm across the list
    for (q <- name.split(",").map(_.trim).filter(_.nonEmpty)) {
      val fn = graft.SparkEntry.queries(q)
      // warm-up round then 2 timed rounds
      for (i <- 0 until 3) {
        val t0 = System.nanoTime()
        // toRdd.count(), as Bench times it: forces the physical plan's full
        // row output instead of letting count() prune the projection
        val n = fn(spark, sfDir).queryExecution.toRdd.count()
        println(f"RUN$i $q rows=$n time=${(System.nanoTime() - t0) / 1e9}%.2f s")
      }
      if (sys.env.get("PROFILE_EXPLAIN").contains("1"))
        fn(spark, sfDir).explain("formatted")
      graft.operators.DedupOps.releaseShingleCaches()
    }
    spark.stop()
  }
}
