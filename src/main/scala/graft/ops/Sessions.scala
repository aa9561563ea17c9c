package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Batch temporal reshaping over event logs: gap-based sessionization
  * and slowly-changing-dimension (type 2) builds — the batch
  * counterparts of the streaming sessionizer
  * (graft.streaming.Sessionize) and the MERGE upsert (q90).
  *
  * Both are single-key-window computations: every window partitions by
  * the entity key and orders by (time, tiebreak), so the one shuffle is
  * keyed by entity and each partition's work is linear — the shape that
  * holds at any corpus size with AQE handling skewed keys. No
  * corpus-wide window, no driver state.
  */
object Sessions {

  /** Assign 1-based session ids per key: a new session starts when the
    * gap since the previous event exceeds `gapUnits` (same unit as
    * `tsCol`, typically nanos). `tieCol` makes the ordering total so
    * the assignment is deterministic under ts ties.
    */
  def sessionize(df: DataFrame, keyCol: String, tsCol: String,
      tieCol: String, gapUnits: Long): DataFrame = {
    require(gapUnits > 0, s"gap must be positive: $gapUnits")
    val w = Window.partitionBy(keyCol).orderBy(col(tsCol), col(tieCol))
    val brk = when(lag(col(tsCol), 1).over(w).isNull ||
      col(tsCol) - lag(col(tsCol), 1).over(w) > gapUnits, 1L).otherwise(0L)
    df.withColumn("__brk", brk)
      .withColumn("session_id",
        sum("__brk").over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .drop("__brk")
  }

  /** Per-session rollup: events, span. One extra keyed aggregation on
    * (key, session_id) — map-side combinable.
    */
  def sessionStats(df: DataFrame, keyCol: String, tsCol: String,
      tieCol: String, gapUnits: Long): DataFrame =
    sessionize(df, keyCol, tsCol, tieCol, gapUnits)
      .groupBy(col(keyCol), col("session_id"))
      .agg(count(lit(1)).as("n_events"),
        min(col(tsCol)).as("start_ts"),
        max(col(tsCol)).as("end_ts"))

  /** Type-2 slowly-changing dimension from a change log: one row per
    * (key, attribute run) with its validity interval. Rows where the
    * tracked attribute differs from the previous observation open a new
    * version; `valid_to` is the next version's `valid_from` (null = the
    * current version). Deterministic under ts ties via `tieCol`.
    */
  def scd2(df: DataFrame, keyCol: String, attrCol: String, tsCol: String,
      tieCol: String): DataFrame = {
    val w = Window.partitionBy(keyCol).orderBy(col(tsCol), col(tieCol))
    val changed = df
      .withColumn("__prev", lag(col(attrCol), 1).over(w))
      // null-safe change test: first row (prev null) always opens; an
      // attr transitioning to/from null is a change too
      .filter(not(col(attrCol) <=> col("__prev")))
      .drop("__prev")
    changed
      .withColumn("valid_from", col(tsCol))
      .withColumn("valid_to", lead(col(tsCol), 1).over(
        Window.partitionBy(keyCol).orderBy(col(tsCol), col(tieCol))))
      .withColumn("is_current",
        when(col("valid_to").isNull, 1L).otherwise(0L))
      .select(col(keyCol), col(attrCol), col("valid_from"), col("valid_to"),
        col("is_current"))
  }
}
