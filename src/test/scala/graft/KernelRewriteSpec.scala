package graft

import org.apache.spark.sql.functions._

import graft.plans.KernelRewrite

class KernelRewriteSpec extends SparkSpec {
  import spark.implicits._

  private def dotSql(u: String, v: String): String =
    s"aggregate(zip_with($u, $v, (x, y) -> x * y), 0D, (acc, v) -> acc + v)"

  private val HofDotSql = dotSql("a", "b")

  private def fixture = Seq(
    (Array(1.0, 2.0, 3.0), Array(0.5, -1.0, 2.0)),
    (Array(0.1, 0.2, 0.3), Array(3.0, 2.0, 1.0)))
    .toDF("a", "b")

  private def collectDoubles(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) =
    spark.sessionState
      .executePlan(plan)
      .executedPlan
      .executeCollect()
      .map(r => r.getDouble(0))
      .toSeq

  test("HOF dot product rewrites to graft_dot with identical values") {
    val hof = fixture.select(expr(HofDotSql).as("dot"))
    val analyzed = hof.queryExecution.analyzed
    val rewritten = KernelRewrite(analyzed)
    assert(rewritten.toString.contains("graft_dot"), s"no kernel in:\n$rewritten")
    assert(!rewritten.toString.contains("aggregate("), "HOF chain must be gone")
    assert(collectDoubles(rewritten) == collectDoubles(analyzed))
  }

  test("HOF cosine quotient rewrites to graft_cosine with identical values") {
    val hof = fixture.select(
      (expr(HofDotSql) /
        (sqrt(expr(dotSql("a", "a"))) * sqrt(expr(dotSql("b", "b")))))
        .as("cos"))
    val analyzed = hof.queryExecution.analyzed
    val rewritten = KernelRewrite(analyzed)
    assert(rewritten.toString.contains("graft_cosine"), s"no kernel in:\n$rewritten")
    assert(collectDoubles(rewritten) == collectDoubles(analyzed))
  }

  test("ragged pairs keep the HOF's NULL semantics after the rewrite") {
    val ragged = Seq(
      (Array(1.0, 2.0, 3.0), Array(1.0, 1.0)), // ragged → NULL
      (Array(1.0, 2.0), Array(3.0, 4.0))) // aligned → 11.0
      .toDF("a", "b")
    val analyzed = ragged.select(expr(HofDotSql).as("dot")).queryExecution.analyzed
    val rewritten = KernelRewrite(analyzed)
    assert(rewritten.toString.contains("graft_dot"))
    val rows = spark.sessionState
      .executePlan(rewritten)
      .executedPlan
      .executeCollect()
    assert(rows(0).isNullAt(0), "ragged pair must stay NULL under the kernel rewrite")
    assert(rows(1).getDouble(0) == 11.0)
  }

  test("a null element keeps the HOF's NULL semantics after the rewrite") {
    val withNull = Seq(
      (Seq(Some(1.0), None, Some(3.0)), Seq(1.0, 1.0, 1.0)), // null element → NULL
      (Seq(Some(1.0), Some(2.0)), Seq(3.0, 4.0))) // no null → 11.0
      .toDF("a", "b")
    val dot = withNull.select(expr(HofDotSql).as("dot"))
    val cos = withNull.select(
      (expr(HofDotSql) / (sqrt(expr(dotSql("a", "a"))) * sqrt(expr(dotSql("b", "b"))))).as("cos"))
    for ((df, kernel) <- Seq((dot, "graft_dot"), (cos, "graft_cosine"))) {
      val analyzed = df.queryExecution.analyzed
      val rewritten = KernelRewrite(analyzed)
      assert(rewritten.toString.contains(kernel), s"no kernel in:\n$rewritten")
      def rows(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) =
        spark.sessionState.executePlan(plan).executedPlan.executeCollect()
          .map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0))).toSeq
      val hof = rows(analyzed)
      assert(hof.head.isEmpty, s"$kernel: the HOF is NULL on a null element")
      assert(hof(1).nonEmpty)
      assert(rows(rewritten) == hof, kernel)
    }
  }

  test("non-product / non-sum lambdas are left alone") {
    val other = fixture.select(
      expr("aggregate(zip_with(a, b, (x, y) -> x + y), 0D, (acc, v) -> acc + v)").as("s"))
    val analyzed = other.queryExecution.analyzed
    assert(!KernelRewrite(analyzed).toString.contains("graft_dot"))
  }
}
