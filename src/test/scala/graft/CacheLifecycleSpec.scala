package graft

import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions._

import graft.operators.{DedupOps, ProfileOps, SimilarityOps}
import graft.sources.Tables

/** Round-4 behaviors: session-scoped dedup caches, the minhash banding
  * contract, NaN-as-missing profiling, and block-count invariance of the
  * exact embedding all-pairs plan.
  */
class CacheLifecycleSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Tables.documents(spark, TestSpark.sf0001)

  test("jaccard pair relation is session-memoized across the per-query release") {
    DedupOps.releaseAllCaches()
    val first = DedupOps.jaccardPairs(docs, 3, 0.5)
    val firstRows = first.count()
    // the per-query lifecycle (what Verify/Bench run between queries)
    // must NOT evict the memo...
    DedupOps.releaseShingleCaches()
    val second = DedupOps.jaccardPairs(docs, 3, 0.5)
    assert(second eq first, "expected the memoized instance after a transient release")
    assert(second.count() == firstRows)
    // ...while the full release must
    DedupOps.releaseAllCaches()
    val third = DedupOps.jaccardPairs(docs, 3, 0.5)
    assert(!(third eq first), "expected a fresh relation after releaseAllCaches")
    assert(third.count() == firstRows)
    DedupOps.releaseAllCaches()
  }

  test("distinct (docs, n, threshold) keys do not collide in the memo") {
    DedupOps.releaseAllCaches()
    val at05 = DedupOps.jaccardPairs(docs, 3, 0.5)
    val at03 = DedupOps.jaccardPairs(docs, 3, 0.3)
    assert(!(at05 eq at03))
    // a lower threshold can only admit MORE pairs
    assert(at03.count() >= at05.count())
    DedupOps.releaseAllCaches()
  }

  test("sessionValue memo: computes once, survives transient release, evicts on full release") {
    val df = Seq((1L, 10L), (2L, 20L)).toDF("a", "b")
    var calls = 0
    def get(): Int = DedupOps.sessionValue(df, "lifecycle-test") { calls += 1; calls }
    assert(get() == 1 && get() == 1, "second call must return the memoized value")
    DedupOps.releaseShingleCaches() // transient release must NOT evict
    assert(get() == 1)
    // a different tag or a different source plan is a different entry
    assert(DedupOps.sessionValue(df, "lifecycle-test-2") { 42 } == 42)
    assert(DedupOps.sessionValue(df.filter(col("a") > 0), "lifecycle-test") { 43 } == 43)
    DedupOps.releaseAllCaches() // full release evicts
    assert(get() == 2, "full release must force recompute")
  }

  test("a query on a second load of a cached table plans an in-memory scan") {
    val cached = Tables.orders(spark, TestSpark.sf0001).cache()
    try {
      cached.count()
      val q = Tables.orders(spark, TestSpark.sf0001).groupBy(col("o_orderstatus")).count()
      assert(q.queryExecution.withCachedData.collect { case r: InMemoryRelation => r }.nonEmpty,
        q.queryExecution.withCachedData.treeString)
      assert(q.collect().map(_.getLong(1)).sum == cached.count())
    } finally cached.unpersist(blocking = true)
  }

  test("a self-join of two loads of one table resolves its columns unambiguously") {
    val a = Tables.nation(spark, TestSpark.sf0001)
    val b = Tables.nation(spark, TestSpark.sf0001)
    val pairs = a.join(b, a("n_regionkey") === b("n_regionkey") && a("n_nationkey") =!= b("n_nationkey"))
      .select(a("n_nationkey"), b("n_nationkey"), a("n_regionkey"), b("n_regionkey"))
      .as[(Long, Long, Long, Long)].collect()
    val perRegion = a.groupBy(col("n_regionkey")).count().as[(Long, Long)].collect()
    assert(pairs.length.toLong == perRegion.map { case (_, n) => n * (n - 1) }.sum)
    assert(pairs.forall { case (l, r, lr, rr) => l != r && lr == rr })
  }

  test("minhashLsh rejects a partial trailing band (silent recall loss)") {
    val ex = intercept[IllegalArgumentException] {
      DedupOps.minhashLsh(docs, n = 3, numPerm = 16, rowsPerBand = 5, minEst = 0.5)
    }
    assert(ex.getMessage.contains("rowsPerBand"))
  }

  test("profileColumns counts NaN as missing, not as zero") {
    val df = Seq(
      (1.0, 2.0),
      (Double.NaN, 4.0),
      (3.0, Double.NaN)).toDF("x", "y")
    val out = ProfileOps.profileColumns(df, Seq("x", "y"))
      .collect()
      .map(r => r.getString(0) -> r)
      .toMap
    // NaN rows stay inside n_rows but leave every value statistic
    assert(out("x").getLong(1) == 3) // n_rows
    assert(out("x").getLong(2) == 2) // n_nonnull excludes the NaN
    assert(out("x").getLong(3) == 2) // n_distinct: {1.0, 3.0}
    assert(out("x").getDouble(4) == 1.0 && out("x").getDouble(5) == 3.0)
    assert(out("x").getLong(6) == 400) // sum_cents: 100 + 300, no NaN->0
    assert(out("y").getLong(2) == 2 && out("y").getLong(6) == 600)
  }

  test("nearDupPairs output is invariant to the block count") {
    val emb = Tables.embeddings(spark, TestSpark.sf0001)
    def pairs(b: Int) =
      SimilarityOps.nearDupPairs(emb, minCos = 0.4, blocks = b)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSet
    val auto = SimilarityOps.autoBlocks(SimilarityOps.corpus(emb))
    assert(auto >= 1)
    val b1 = pairs(1)
    assert(b1.nonEmpty)
    assert(pairs(4) == b1)
    assert(pairs(7) == b1) // non-divisor block count exercises uneven tiles
  }
}
