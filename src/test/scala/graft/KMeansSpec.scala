package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType, StructField, StructType}
import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.operators.{DedupOps, KMeansOps, SimilarityOps, TextOps}
import graft.sources.Tables

class KMeansSpec extends SparkSpec {
  import spark.implicits._

  private def check(p: Prop, n: Int): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(n), p)
    assert(res.passed, res.status.toString)
  }

  private val jobs = new AtomicInteger
  private val jobCounter = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
  }

  /** `f`'s result and the Spark jobs it started. */
  private def countingJobs[T](f: => T): (T, Int) = {
    ListenerBusDrain(spark.sparkContext)
    jobs.set(0)
    spark.sparkContext.addSparkListener(jobCounter)
    try {
      val out = f
      ListenerBusDrain(spark.sparkContext)
      (out, jobs.get)
    } finally spark.sparkContext.removeSparkListener(jobCounter)
  }

  /** A corpus whose components are exact binary fractions: `vals` row-major,
    * `dim` per vector, vec_ids 0..n-1.
    */
  private def microCorpus(vals: Seq[Int], dim: Int): DataFrame =
    vals.grouped(dim).zipWithIndex
      .map { case (v, i) => (i.toLong, v.map(_ * 0.125)) }
      .toSeq.toDF("vec_id", "embedding")

  private def bits(ci: collection.Seq[Double]): Seq[Long] =
    ci.map(java.lang.Double.doubleToRawLongBits).toSeq

  /** Driver-fold and distributed codebooks of one corpus, as
    * `(s, cid, component bits)` sets — unkeyed (`m = 0`) or over `m`
    * subspaces.
    */
  private def codebooks(emb: DataFrame, m: Int, k: Int, iters: Int) = {
    val v = KMeansOps.quantize(emb)
    val out =
      if (m == 0) {
        val fold = KMeansOps.fitCentroids(emb, k, iters).collect()
          .map(r => (0, r.getInt(0), bits(r.getSeq[Double](1)))).toSet
        val twin = KMeansTwin.fit(v, k, iters).collect()
          .map(r => (0, r.getInt(0), bits(r.getSeq[Double](1)))).toSet
        (fold, twin)
      } else {
        val dim = emb.select(size(col("embedding"))).head().getInt(0)
        val dsub = dim / m
        val train = KMeansOps.trainingSet(v, k, KMeansOps.MaxFullFitVectors)(n =>
          fail(s"a $n-vector corpus must not route"))
        val fold = (0 until m).flatMap { s =>
          KMeansOps.lloyd(train.map(_.vi.slice(s * dsub, s * dsub + dsub)), k, iters)
            .map { case (cid, ci) => (s, cid, bits(ci)) }
        }.toSet
        val sub = v
          .select(
            col("vec_id"),
            posexplode(array((0 until m).map(s => slice(col("vi"), s * dsub + 1, dsub)): _*)))
          .select(col("vec_id"), col("pos").as("s"), col("col").as("vi"))
          .withColumn("vv", graft.functions.GraftFunctions.dot(col("vi"), col("vi")))
        val twin = KMeansTwin.fitBy(sub, k, iters).collect()
          .map(r => (r.getInt(0), r.getInt(1), bits(r.getSeq[Double](2)))).toSet
        (fold, twin)
      }
    DedupOps.releaseShingleCaches()
    out
  }

  test("kmeans golden: two obvious clusters recovered") {
    // two tight groups on a 4-dim line; k=2 must separate them whatever
    // the hash picks as seeds
    val emb = Seq(
      (1L, Array(0.10f, 0.10f, 0.10f, 0.10f)),
      (2L, Array(0.11f, 0.10f, 0.10f, 0.10f)),
      (3L, Array(0.10f, 0.11f, 0.10f, 0.10f)),
      (4L, Array(0.50f, 0.50f, 0.50f, 0.50f)),
      (5L, Array(0.51f, 0.50f, 0.50f, 0.50f)),
      (6L, Array(0.50f, 0.51f, 0.50f, 0.50f)))
      .toDF("vec_id", "embedding")
    val best = KMeansOps.fitAssign(emb, k = 2, iters = 2)
    val byCluster = best
      .collect()
      .map(r => r.getLong(0) -> r.getInt(1))
      .groupBy(_._2)
      .values
      .map(_.map(_._1).toSet)
      .toSet
    DedupOps.releaseShingleCaches()
    assert(byCluster == Set(Set(1L, 2L, 3L), Set(4L, 5L, 6L)))
  }

  test("silhouette: well-separated blobs score near 1; scores bounded in [-1, 1]") {
    val emb = Seq(
      (1L, Array(0.10f, 0.10f, 0.10f, 0.10f)),
      (2L, Array(0.11f, 0.10f, 0.10f, 0.10f)),
      (3L, Array(0.10f, 0.11f, 0.10f, 0.10f)),
      (4L, Array(0.90f, 0.90f, 0.90f, 0.90f)),
      (5L, Array(0.91f, 0.90f, 0.90f, 0.90f)),
      (6L, Array(0.90f, 0.91f, 0.90f, 0.90f)))
      .toDF("vec_id", "embedding")
    val rows = KMeansOps.silhouetteSummary(emb, k = 2, iters = 2).collect()
    DedupOps.releaseShingleCaches()
    assert(rows.length == 2 && rows.map(_.getLong(1)).sum == 6L)
    assert(rows.forall(_.getDouble(2) > 0.9),
      s"separated blobs must score near 1: ${rows.mkString(",")}")
    val sf = KMeansOps.silhouetteSummary(
      Tables.embeddings(spark, TestSpark.sf0001), k = 8, iters = 2).collect()
    DedupOps.releaseShingleCaches()
    assert(sf.forall(r => r.getDouble(2) >= -1.0 && r.getDouble(2) <= 1.0))
  }

  test("kmeans is partitioning-invariant (exact integer arithmetic)") {
    val emb = Tables.embeddings(spark, TestSpark.sf0001)
    val a = KMeansOps.fitSummary(emb, k = 8, iters = 2).collect().toSeq
    DedupOps.releaseShingleCaches()
    val b = KMeansOps.fitSummary(emb.repartition(7), k = 8, iters = 2).collect().toSeq
    DedupOps.releaseShingleCaches()
    assert(a == b)
    assert(a.map(_.getLong(1)).sum == emb.count())
    assert(a.forall(_.getLong(2) >= 0L))
  }

  test("kmeans iterations do not increase inertia") {
    val emb = Tables.embeddings(spark, TestSpark.sf0001)
    def inertia(iters: Int): Long = {
      val s = KMeansOps.fitSummary(emb, k = 8, iters = iters).collect()
      DedupOps.releaseShingleCaches()
      s.map(_.getLong(2)).sum
    }
    val i1 = inertia(1)
    val i2 = inertia(2)
    val i3 = inertia(3)
    assert(i2 <= i1, s"iter2 $i2 > iter1 $i1")
    assert(i3 <= i2, s"iter3 $i3 > iter2 $i2")
  }

  test("prototypeSummary: keep fraction exact, kept+pruned distance equals inertia") {
    val emb = Tables.embeddings(spark, TestSpark.sf0001)
    val proto = KMeansOps.prototypeSummary(emb, k = 8, iters = 2).collect()
    DedupOps.releaseShingleCaches()
    val summary = KMeansOps.fitSummary(emb, k = 8, iters = 2).collect()
    DedupOps.releaseShingleCaches()
    val inertia = summary.map(r => r.getInt(0) -> r.getLong(2)).toMap
    val sizes = summary.map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(proto.length == summary.length)
    proto.foreach { r =>
      val (cid, n, keep, kept, pruned) =
        (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(n == sizes(cid))
      assert(keep == math.max(1L, n * 3 / 4))
      // the cut partitions the cluster's distance mass exactly
      assert(kept + pruned == inertia(cid))
      // kept side holds the CLOSEST members: its mean can't exceed the
      // pruned side's mean (strict ranking by distance)
      if (n > keep)
        assert(kept.toDouble / keep <= pruned.toDouble / (n - keep) + 1e-9)
    }
  }

  test("sampled-fit route (r12 verdict #1): pure decision boundaries") {
    // routes only when BOTH the ceiling and the sample target are exceeded
    assert(KMeansOps.shouldSampleFit(100001L, 4))
    assert(!KMeansOps.shouldSampleFit(100000L, 4))
    assert(!KMeansOps.shouldSampleFit(0L, 4))
    // a corpus no larger than the sample target never routes, whatever
    // the ceiling — a "sample" of everything is the full fit
    assert(!KMeansOps.shouldSampleFit(200L, 1, maxFullFit = 10L))
    assert(KMeansOps.shouldSampleFit(300L, 1, maxFullFit = 10L))
    assert(KMeansOps.sampleTarget(64) == 256L * 64)
  }

  test("sampled-fit route fires above a confirmed ceiling and equals the full fit on the sample") {
    import graft.core.RouteLog
    import graft.functions.PortableHash
    val n = 1200
    val emb = (0L until n.toLong).map { i =>
      val v = (0 until 4).map(d => (((i * 13 + d * 7) % 21).toDouble - 10.0) / 20.0)
      (i, v)
    }.toDF("vec_id", "embedding")
    val k = 2
    def count(route: String) = RouteLog.recent().count(_.startsWith(s"$route:"))
    val before = count("fitCentroids.sampledFit")
    val routed = KMeansOps
      .fitCentroids(emb, k, iters = 2, maxFullFitVectors = 10L)
      .collect().map(r => (r.getInt(0), r.getSeq[Double](1))).toSet
    assert(count("fitCentroids.sampledFit") == before + 1, "route must fire and announce itself")
    // manual twin: the UNROUTED full fit on exactly the hash-sample subset
    // must be bit-identical (quantize and the hash filter commute)
    assert(KMeansOps.sampleTarget(k) < n, "fixture must actually subsample")
    val subset = emb.filter(
      pmod(
        PortableHash.hash60(concat(lit("kms:"), col("vec_id").cast("string"))),
        lit(n.toLong)) < KMeansOps.sampleTarget(k))
    val nSub = subset.count()
    assert(nSub > 0 && nSub < n)
    val manual = KMeansOps
      .fitCentroids(subset, k, iters = 2)
      .collect().map(r => (r.getInt(0), r.getSeq[Double](1))).toSet
    DedupOps.releaseShingleCaches()
    assert(routed == manual)
    // below the default ceiling nothing routes — the oracle path is the
    // bit-exact full fit
    val quiet = count("fitCentroids.sampledFit")
    KMeansOps.fitCentroids(emb, k, iters = 1).count()
    DedupOps.releaseShingleCaches()
    assert(count("fitCentroids.sampledFit") == quiet)
  }

  test("the training sample keeps its target size when n is under twice the target") {
    // 1 in ⌊400 / 256⌋ = 1 would keep every vector
    val vecs = spark.range(400).select(col("id").as("vec_id"))
    val kept = KMeansOps.trainingSample(vecs, 1, 400L).count()
    assert(math.abs(kept - KMeansOps.sampleTarget(1)) <= 40, s"kept $kept of 400")
  }

  test("driver fold equals the distributed Lloyd rounds bit for bit") {
    // few distinct component values: ties in distance, duplicate vectors,
    // negative components, and k above the distinct count (empty clusters
    // drop out)
    val corpora = for {
      n <- Gen.chooseNum(1, 24)
      dim <- Gen.oneOf(2, 4)
      m <- Gen.oneOf(0, 1, 2)
      k <- Gen.chooseNum(1, 8)
      iters <- Gen.chooseNum(1, 3)
      vals <- Gen.listOfN(n * dim, Gen.chooseNum(-3, 3))
    } yield (vals, dim, m, k, iters)
    check(Prop.forAll(corpora) { case (vals, dim, m, k, iters) =>
      val (fold, twin) = codebooks(microCorpus(vals, dim), m, k, iters)
      Prop(fold == twin) :| s"m=$m k=$k iters=$iters vals=$vals\nfold=$fold\ntwin=$twin"
    }, n = 16)
    // all-equal vectors: every seed ties, only cid 0 ever wins, and the
    // other clusters drop out after one update
    val same = microCorpus(Seq.fill(5 * 2)(1), 2)
    for (m <- Seq(0, 2)) {
      val (fold, twin) = codebooks(same, m, k = 3, iters = 2)
      assert(fold == twin && fold.map(_._2) == Set(0))
    }
    // enough vectors for several fold chunks, merged in chunk order
    val big = microCorpus(Seq.tabulate(3000 * 4)(i => (i * 7919 % 97) - 48), 4)
    for (m <- Seq(0, 2)) {
      val (fold, twin) = codebooks(big, m, k = 5, iters = 3)
      assert(fold == twin && fold.size == (if (m == 0) 5 else 10))
    }
  }

  test("degenerate training vectors fail loudly, naming the vec_id") {
    val schema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(DoubleType, containsNull = true))))
    def corpus(bad: Row) = spark.createDataFrame(
      java.util.Arrays.asList(Row(1L, Seq(0.1, 0.2)), Row(2L, Seq(0.3, 0.4)), bad), schema)
    for ((bad, what) <- Seq(
        Row(7L, null) -> "null embedding",
        Row(7L, Seq(0.1, null)) -> "null or non-finite component",
        Row(7L, Seq(0.1, Double.NaN)) -> "null or non-finite component",
        Row(7L, Seq(Double.PositiveInfinity, 0.1)) -> "null or non-finite component",
        Row(7L, Seq(0.1, 0.2, 0.3)) -> "ragged",
        Row(1L, Seq(0.5, 0.5)) -> "more than once")) {
      val e = intercept[IllegalArgumentException](KMeansOps.fitCentroids(corpus(bad), 2, 2))
      DedupOps.releaseShingleCaches()
      assert(e.getMessage.contains(s"vec_id=${bad.getLong(0)}") && e.getMessage.contains(what),
        e.getMessage)
    }
  }

  test("a fit under the cap starts exactly one Spark job") {
    val emb = Tables.embeddings(spark, TestSpark.sf0001)
    val n = emb.count()
    val (cents, started) = countingJobs(KMeansOps.fitCentroids(emb, k = 8, iters = 3).collect())
    DedupOps.releaseShingleCaches()
    assert(started == 1, s"$started jobs")
    assert(cents.length > 0 && cents.length <= math.min(8L, n))
  }

  test("a partition over its share of the collect is re-read whole: one more job, same fit") {
    // 500 vectors in the first of 4 partitions; under a 600-vector cap each
    // partition ships at most 600/4 + 1 = 151 vectors in the first job
    val rows = (0L until 500L).map(i =>
      Row(i, (0 until 4).map(d => (((i * 13 + d * 7) % 21).toDouble - 10.0) / 20.0)))
    val schema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(DoubleType, containsNull = false))))
    val sc = spark.sparkContext
    val skewed = spark.createDataFrame(
      sc.parallelize(rows, 1).union(sc.parallelize(Seq.empty[Row], 3)), schema)
    assert(skewed.rdd.getNumPartitions == 4)
    def fit(emb: DataFrame) = {
      val out = countingJobs(
        KMeansOps.fitCentroids(emb, k = 2, iters = 2, maxFullFitVectors = 600L).collect()
          .map(r => (r.getInt(0), bits(r.getSeq[Double](1)))).toSet)
      DedupOps.releaseShingleCaches()
      out
    }
    val (got, started) = fit(skewed)
    assert(started == 2, s"$started jobs")
    assert(got == fit(spark.createDataFrame(sc.parallelize(rows, 4), schema))._1)
  }

  test("the sampled route follows the real row count, not the plan estimate") {
    import graft.core.RouteLog
    val path = Files.createTempDirectory("graft-kmeans").resolve("emb.parquet").toString
    (0L until 1200L)
      .map(i => (i, (0 until 4).map(d => (((i * 13 + d * 7) % 21).toDouble - 10.0) / 20.0)))
      .toDF("vec_id", "embedding")
      .coalesce(1)
      .write.parquet(path)
    val emb = spark.read.parquet(path)
    val ceiling = 600L // L = max(600, sampleTarget(2) = 512) < 1200 rows
    assert(SimilarityOps.estimatedVectors(emb) < ceiling,
      "fixture: the plan estimate must read below the ceiling")
    def routed = RouteLog.recent().count(_.startsWith("fitCentroids.sampledFit:"))
    val before = routed
    KMeansOps.fitCentroids(emb, k = 2, iters = 2, maxFullFitVectors = ceiling).collect()
    DedupOps.releaseShingleCaches()
    assert(routed == before + 1, "1200 rows over a 600-vector ceiling must train on the sample")
  }

  test("unigram NLL: uniform corpus scores ln(vocab), rare tokens score higher") {
    val docs = Seq(
      (1L, "aa bb cc dd"),
      (2L, "aa bb cc dd"),
      (3L, "aa bb cc rare"))
      .toDF("doc_id", "text")
    val got = TextOps
      .unigramNll(docs)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // N=12; docs 1,2: tokens n_w = 3,3,3,2 → same score; doc 3 has 'rare'
    // (n_w=1) → strictly higher NLL
    assert(got(0)._3 == got(1)._3)
    assert(got(2)._3 > got(0)._3)
    val expected1 = math.log(12.0) - (3 * math.log(3.0) + math.log(2.0)) / 4.0
    assert(math.abs(got(0)._3 - expected1) < 1e-5)
  }
}
