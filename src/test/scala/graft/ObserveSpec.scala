package graft

import org.apache.spark.sql.Observation
import org.apache.spark.sql.functions._

/** `Dataset.observe` metrics — the zero-cost accounting hook a 100 TB
  * pipeline uses to count rows/nulls/dropped records INSIDE a running
  * job instead of paying a second pass. Batch metrics surface on
  * `queryExecution.observedMetrics` after the action.
  */
class ObserveSpec extends SparkSpec {

  test("observed metrics ride the histogram job: valid rows + cents sum, no extra pass") {
    val li = graft.sources.Tables.lineitem(spark, TestSpark.sf0001)
    val ingest = Observation("ingest")
    val observed = graft.operators.HistogramOps
      .validValues(li, "l_quantity")
      .observe(
        ingest,
        count(lit(1)).as("n_valid"),
        sum((col("value") * 100).cast("bigint")).as("cents_sum"))
    // the histogram's one aggregate is the action — metrics accumulate
    // during it, and the Observation reads them from that executed query
    HistogramRunner.run(observed, HistogramConfig("value", minValue = Some(1.0), maxValue = Some(50.0)))
    val m = ingest.get
    val expectValid = li.filter(col("l_quantity").isNotNull && !isnan(col("l_quantity"))).count()
    assert(m("n_valid") == expectValid)
    assert(m("cents_sum") ==
      li.select(sum((col("l_quantity") * 100).cast("bigint"))).head().getLong(0))
  }
}
