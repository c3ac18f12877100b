package graft

/** Local smoke runner: drives the driver-facing flagship entry point
  * (`SparkEntry.entry`) exactly as the driver's t1 smoke does, printing
  * the row count and the result table.
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = SparkEntry.localSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    spark.sparkContext.setLogLevel("WARN")
    val df = SparkEntry.entry(spark)
    val n = df.count()
    println(s"ENTRY_ROWS=$n")
    df.show(20, truncate = false)
    spark.stop()
  }
}
