package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{DedupOps, KMeansOps}

/** One focused datapoint for the sampled-fit route: codebook training
  * cost at 512k vectors (ABOVE the default 10⁵ ceiling, so the DEFAULT
  * config routes — no forced threshold) with a production-ish k=64, full
  * fit vs routed fit. A fit is one bounded collect of the training set
  * plus the exact Lloyd fold on the driver (`KMeansOps.lloyd`, chunked
  * over the driver's cores): the routed fit collects and folds the
  * ~16k-vector hash sample, the forced full fit all 512k vectors. This is
  * the scale where the O(n·k·d·iters) fold term shows; at ≤32k vectors
  * (the EmbedScaleStress k=32 points) a fit is one job plus milliseconds
  * of fold.
  *
  * Usage: runMain graft.tools.FitCostPoint
  */
object FitCostPoint {
  def t(l: String)(f: => Long): Double = {
    val t0 = System.nanoTime()
    val n = f
    val sec = (System.nanoTime() - t0) / 1e9
    println(f"  $l: $sec%.2f s ($n rows)")
    sec
  }

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession
      .builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.SparkEntry.tune(spark)
    val base = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.1")
    // 2k -> 512k vectors: the route reads the row count of the training
    // collect, so anything over 1e5 routes; 512k keeps the point
    // comparable with the rounds that gated on the ~3x-low plan estimate.
    val factor = 256
    val path = s"target/stress/emb_x$factor.parquet"
    if (!new java.io.File(path).exists()) {
      (0 until factor)
        .map(c => base.select((col("vec_id") * factor + c).as("vec_id"), col("embedding"), col("label")))
        .reduce((a: DataFrame, b: DataFrame) => a.union(b))
        .write.parquet(path)
    }
    val emb = spark.read.parquet(path)
    println(s"n = ${emb.count()} vectors, k = 64, iters = 2")
    // warm both paths' codegen on the small corpus first
    KMeansOps.fitCentroids(base, 8, 1, maxFullFitVectors = Long.MaxValue).count()
    DedupOps.releaseAllCaches()
    for (rep <- 1 to 2) {
      val tf = t(s"rep $rep FULL fit (route disabled)")(
        KMeansOps.fitCentroids(emb, 64, 2, maxFullFitVectors = Long.MaxValue).count())
      DedupOps.releaseAllCaches()
      val ts = t(s"rep $rep DEFAULT config (route fires: n > 1e5)")(
        KMeansOps.fitCentroids(emb, 64, 2).count())
      require(graft.core.RouteLog.fired("fitCentroids.sampledFit"),
        "default config must route at 512k vectors")
      DedupOps.releaseAllCaches()
      println(f"  full/sampled = ${tf / ts}%.2fx")
    }
    // r13 verdict #3: knnRerank's coarse stage at the same 512k-vector
    // scale — the |Q|·N SQ8 cross join vs the DEFAULT config (route
    // fires: n > 1e5 confirmed), which scores only the probed IVF lists.
    // Fixed |Q| ≈ 500; both include every fit/assignment they need.
    val c = graft.operators.SimilarityOps.corpus(emb)
    val q = c.filter(pmod(col("vec_id"), lit(1024)) === 0)
    println(s"knn_rerank coarse stage at n = ${emb.count()}, |Q| = ${q.count()}")
    for (rep <- 1 to 2) {
      val te = t(s"rep $rep EXACT coarse (route disabled)")(
        graft.operators.SimilarityOps
          .knnRerank(q, c, 10, rerank = 50, maxExactVectors = Long.MaxValue).count())
      DedupOps.releaseAllCaches()
      val tr = t(s"rep $rep DEFAULT config (IVF shortlist route fires)")(
        graft.operators.SimilarityOps.knnRerank(q, c, 10, rerank = 50).count())
      require(graft.core.RouteLog.fired("knnRerank.ivfShortlist"),
        "default config must route the coarse stage at 512k vectors")
      DedupOps.releaseAllCaches()
      println(f"  exact/routed = ${te / tr}%.2fx")
    }
    spark.stop()
  }
}
