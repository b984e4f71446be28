package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Table-maintenance merges — the MERGE INTO family re-expressed as
  * deterministic DataFrame plans.
  *
  * Reference scope: the reference's idempotent load (SURVEY S5,
  * `graft.nhl.Bronze.overwritePartitions`) replaces whole partitions;
  * this module is the ROW-level complement — the SCD1 overwrite-upsert
  * that dbt's `materialized='incremental', unique_key=...` models and
  * warehouse MERGE statements perform — and the row-level sibling of the
  * SCD2 interval builder (`w14_scd2_intervals`), which keeps history
  * where SCD1 overwrites it.
  */
object Merge {

  /** Deterministic SCD1 (overwrite) upsert: delta rows WIN on key
    * conflict, base rows survive otherwise, delta-only keys insert —
    * last-writer-wins where "last" is the largest `orderCols` tuple
    * within the delta (ties must be broken by the caller's ordering,
    * e.g. a revision counter; include a unique tiebreaker or equal-rev
    * duplicates are nondeterministic).
    *
    * Scale shape: only the DELTA (small by the incremental-load
    * contract) pays a window; the base pays ONE key-keyed anti-join —
    * broadcast when the delta's key set fits (AQE decides), so the base
    * never shuffles at all on the common path. The naive union-then-
    * window formulation would sort the full base per key — the shape
    * that dies at 100 TB.
    *
    * Schemas must match by name (`unionByName`); the output carries the
    * common columns.
    */
  def scd1Upsert(base: DataFrame, delta: DataFrame, keyCols: Seq[String],
                 orderCols: Seq[Column]): DataFrame = {
    require(keyCols.nonEmpty, "scd1Upsert needs at least one key column")
    require(orderCols.nonEmpty,
      "scd1Upsert needs an ordering (e.g. a revision column) to pick the last writer")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(orderCols.map(_.desc): _*)
    val latestDelta = delta
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
    base.join(latestDelta.select(keyCols.map(col): _*), keyCols, "left_anti")
      .unionByName(latestDelta)
  }

  /** The NULL field marker: exactly as wide as an md5 hex digest and
    * containing non-hex characters, so it can never equal one.
    */
  val NullFieldMarker = "##NULL##NULL##NULL##NULL##NULL##"

  /** The diff fingerprint of one row, as a column — md5 over the
    * concatenated per-column md5s (see [[snapshotDiff]]'s determinism
    * contract). Public so the streaming CDC twin
    * ([[graft.streaming.Streaming.cdcAgainstBase]]) compares the SAME
    * key a batch-built base index carries.
    */
  def rowFingerprint(trackCols: Seq[String]): Column =
    md5(concat(
      trackCols.map(c =>
        coalesce(md5(col(c).cast("string")), lit(NullFieldMarker))): _*))

  /** Row-level snapshot diff (the CDC shape): classify every key of two
    * table snapshots as `added` / `removed` / `changed`, comparing rows by
    * an md5 fingerprint of the tracked columns instead of column-by-column
    * — at 100 TB the full-outer join then moves (key, 32-byte hash) per
    * side, not the row width, and adding tracked columns never changes the
    * plan. Unchanged keys drop out (they are the overwhelming mass of any
    * real snapshot pair and nobody diffs to read them).
    *
    * Determinism contract: each tracked column hashes SEPARATELY (md5 of
    * its string form, or a fixed 32-char non-hex NULL marker), and the row
    * fingerprint is md5 over the concatenation of those fixed-width field
    * hashes. Fixed width makes the encoding injection-proof: a delimiter
    * scheme over raw values collides ('a|b','c') with ('a','b|c') and NULL
    * with a literal sentinel string, silently classifying a real change as
    * unchanged — here every field occupies exactly 32 characters and the
    * marker contains '#' (outside md5's hex alphabet), so no value, NULL
    * included, can forge a neighbour's slot. Engine-portable as long as
    * the tracked columns stringify identically — integers, strings, and
    * exact-cents longs do; raw doubles/timestamps should be normalized by
    * the caller first (see the s12 face).
    */
  def snapshotDiff(oldSnap: DataFrame, newSnap: DataFrame,
                   keyCols: Seq[String], trackCols: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty, "snapshotDiff needs at least one key column")
    require(trackCols.nonEmpty, "snapshotDiff needs at least one tracked column")
    def fingerprint(df: DataFrame, as: String): DataFrame =
      df.select(keyCols.map(col) :+ rowFingerprint(trackCols).as(as): _*)
    val o = fingerprint(oldSnap, "old_fp")
    val n = fingerprint(newSnap, "new_fp")
    o.join(n, keyCols, "full_outer")
      .withColumn("status",
        when(col("old_fp").isNull, lit("added"))
          .when(col("new_fp").isNull, lit("removed"))
          .when(col("old_fp") =!= col("new_fp"), lit("changed")))
      .filter(col("status").isNotNull)
      .select(keyCols.map(col) :+ col("status"): _*)
  }
}
