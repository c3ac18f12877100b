package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.PortableHash
import graft.operators.KMeansOps

/** The distributed Lloyd formulation that `KMeansOps.lloyd` folds on the
  * driver — seeds, update and their keyed `By` forms as Spark relations,
  * one job per round. Kept as the parity reference: on integer-micro
  * corpora the fold must return the same bits.
  */
object KMeansTwin {

  private def hk = PortableHash.hash60(concat(lit("km:"), col("vec_id").cast("string")))

  /** The k vectors with the smallest `(hash60("km:" vec_id), vec_id)`,
    * cluster ids 0..k-1 in that order. Input `(vec_id, vi, ..)`; output
    * `(cid, ci)`.
    */
  def seeds(vecs: DataFrame, k: Int): DataFrame =
    vecs
      .withColumn("hk", hk)
      .orderBy(col("hk"), col("vec_id"))
      .limit(k)
      .withColumn("cid", row_number().over(Window.orderBy(col("hk"), col("vec_id"))) - 1)
      .select(col("cid"), col("vi").as("ci"))

  /** Per-dimension integer mean truncated toward zero; empty clusters drop
    * out.
    */
  def update(vecs: DataFrame, best: DataFrame): DataFrame =
    vecs
      .join(best.select(col("vec_id"), col("cid")), Seq("vec_id"))
      .select(col("cid"), posexplode(col("vi")))
      .groupBy(col("cid"), col("pos"))
      .agg((sum(col("col")) / count(lit(1))).cast("long").cast("double").as("comp"))
      .groupBy(col("cid"))
      .agg(
        transform(
          sort_array(collect_list(struct(col("pos"), col("comp")))),
          s => s.getField("comp")).as("ci"))

  /** [[seeds]] within every `s` group. Input `(vec_id, s, vi)`; output
    * `(s, cid, ci)`.
    */
  def seedsBy(vecs: DataFrame, k: Int): DataFrame =
    vecs
      .withColumn("hk", hk)
      .withColumn(
        "rn",
        row_number().over(Window.partitionBy(col("s")).orderBy(col("hk"), col("vec_id"))))
      .filter(col("rn") <= k)
      .select(col("s"), (col("rn") - 1).as("cid"), col("vi").as("ci"))

  /** [[update]] within every `s` group. Input vecs `(vec_id, s, vi)`,
    * best `(vec_id, s, cid)`; output `(s, cid, ci)`.
    */
  def updateBy(vecs: DataFrame, best: DataFrame): DataFrame =
    vecs
      .join(best.select(col("vec_id"), col("s"), col("cid")), Seq("vec_id", "s"))
      .select(col("s"), col("cid"), posexplode(col("vi")))
      .groupBy(col("s"), col("cid"), col("pos"))
      .agg((sum(col("col")) / count(lit(1))).cast("long").cast("double").as("comp"))
      .groupBy(col("s"), col("cid"))
      .agg(
        transform(
          sort_array(collect_list(struct(col("pos"), col("comp")))),
          x => x.getField("comp")).as("ci"))

  /** `iters − 1` distributed rounds from the seeds: `(cid, ci)`. */
  def fit(vecs: DataFrame, k: Int, iters: Int): DataFrame =
    (1 until iters).foldLeft(seeds(vecs, k))((c, _) => update(vecs, KMeansOps.assign(vecs, c)))

  /** Keyed [[fit]] over `(vec_id, s, vi, vv)`: `(s, cid, ci)`. */
  def fitBy(vecs: DataFrame, k: Int, iters: Int): DataFrame =
    (1 until iters).foldLeft(seedsBy(vecs, k))((c, _) => updateBy(vecs, KMeansOps.assignBy(vecs, c)))
}
