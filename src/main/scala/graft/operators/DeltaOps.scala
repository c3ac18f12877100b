package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Snapshot-delta (CDC-style) operators: given two versions of a keyed
  * table, classify every key as added / removed / changed / unchanged by
  * comparing row digests — the standard "what moved between crawls"
  * primitive of an incrementally-refreshed corpus.
  *
  * Scale shape: digests are md5 of the compared columns computed
  * MAP-SIDE, so the one full-outer shuffle moves (key, 16-byte digest)
  * rows, never the payload — at 100 TB the diff costs one co-partitioned
  * join of two key+digest streams. The digest input is serialized from
  * integer/string columns only (callers quantize floats first), so the
  * DuckDB oracle reproduces every digest bit-exactly.
  */
object DeltaOps {

  /** Row digest over the given (already integer/string-typed) columns. */
  def rowDigest(cols: Seq[Column]): Column = md5(concat_ws("|", cols: _*))

  /** SCD Type-2 merge (Kimball's slowly-changing dimension): apply a
    * change batch to the OPEN rows of a versioned dimension. Per key:
    *
    *   - change with a different attribute → the open row CLOSES
    *     (`valid_to` = change time) and a new open row INSERTS;
    *   - change with the same attribute → no-op, the open row CARRIES;
    *   - no change → carries; change for an unseen key → inserts.
    *
    * `dim(k, attr, valid_from)` (open rows), `changes(k, attr, ts)` (one
    * row per key — pre-deduplicate upstream). Returns
    * `(k, attr, valid_from, valid_to, is_current, action)` — the complete
    * post-merge dimension including the closed generation.
    *
    * Scale shape: ONE full-outer co-partitioned join on the key, then a
    * per-row explode of at most two output structs — no second pass, no
    * driver-side merge loop; the attribute compare rides the join row.
    * This is the relational core of a lakehouse MERGE INTO ... WHEN
    * MATCHED/NOT MATCHED without the transaction-log machinery.
    */
  def scd2Apply(dim: DataFrame, changes: DataFrame): DataFrame = {
    val d = dim.select(col("k"), col("attr").as("d_attr"), col("valid_from").as("d_from"))
    val c = changes.select(col("k"), col("attr").as("c_attr"), col("ts"))
    val nullL = lit(null).cast("long")
    // effective change: both sides present, attribute differs
    val isChange = col("c_attr").isNotNull && col("d_attr").isNotNull &&
      col("c_attr") =!= col("d_attr")
    val rows = array(
      // the surviving/closed OLD row (absent when the key is change-only)
      struct(
        col("d_attr").isNotNull.as("keep"),
        col("d_attr").as("attr"),
        col("d_from").as("valid_from"),
        when(isChange, col("ts")).otherwise(nullL).as("valid_to"),
        (!isChange).as("is_current"),
        when(isChange, lit("closed")).otherwise(lit("carried")).as("action")),
      // the inserted NEW row (a change with a new attribute, or a new key)
      struct(
        (col("c_attr").isNotNull && (col("d_attr").isNull || isChange)).as("keep"),
        col("c_attr").as("attr"),
        col("ts").as("valid_from"),
        nullL.as("valid_to"),
        lit(true).as("is_current"),
        lit("inserted").as("action")))
    d.join(c, Seq("k"), "full_outer")
      .select(col("k"), explode(rows).as("r"))
      .filter(col("r.keep"))
      .select(col("k"), col("r.attr").as("attr"), col("r.valid_from").as("valid_from"),
        col("r.valid_to").as("valid_to"), col("r.is_current").as("is_current"),
        col("r.action").as("action"))
  }

  /** Per-key diff of two snapshots. Output one row per status present:
    * `(status, n_keys, key_checksum)` — the checksum (sum of keys) pins
    * WHICH keys landed in each class, not just how many.
    */
  def snapshotDiff(
      oldSnap: DataFrame,
      newSnap: DataFrame,
      keyCol: String,
      digestCols: Seq[Column]): DataFrame = {
    val o = oldSnap.select(col(keyCol).as("k"), rowDigest(digestCols).as("od"))
    val n = newSnap.select(col(keyCol).as("k"), rowDigest(digestCols).as("nd"))
    o.join(n, Seq("k"), "full_outer")
      .select(
        col("k"),
        when(col("od").isNull, lit("added"))
          .when(col("nd").isNull, lit("removed"))
          .when(col("od") =!= col("nd"), lit("changed"))
          .otherwise(lit("unchanged")).as("status"))
      .groupBy(col("status"))
      .agg(count(lit(1)).as("n_keys"), sum(col("k")).as("key_checksum"))
      .orderBy(col("status"))
  }
}
