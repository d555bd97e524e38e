package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Gap-based sessionization: a conversation's turns split into
  * sessions wherever the inter-turn gap exceeds `gapSeconds` (session
  * window semantics, computed declaratively instead of with state
  * timeouts).
  *
  * Shape: one shuffle on conv_id; the lag/new-session flag and the
  * running session counter share the same (conv_id | ts, turn_idx)
  * sort, and the per-session summary aggregates on (conv_id,
  * session_idx) — a prefix of the same ordering, so at scale the only
  * wide stages are the key exchange and the final partial-agg combine.
  * Deterministic: the sort key (ts, turn_idx) is unique per
  * conversation.
  */
object Sessionize {

  /** Per-turn session assignment: `session_idx` starts at 1 and
    * increments whenever the gap from the previous turn exceeds
    * `gapSeconds` (a conversation's first turn always opens session 1).
    */
  def assign(transcripts: DataFrame, gapSeconds: Long): DataFrame = {
    TimeArith.requireUtcForNtz(transcripts, "ts")
    val w = Window.partitionBy(col("conv_id")).orderBy(col("ts"), col("turn_idx"))
    // MICROSECOND arithmetic (unix_micros over an explicit timestamp
    // cast — driver parquet is TIMESTAMP_NTZ, which refuses a bare long
    // cast; the session is pinned UTC so NTZ→LTZ is identity-valued):
    // second-granularity truncation would move sub-second gaps across
    // the threshold differently than engines computing fractional epochs
    transcripts
      .withColumn("_prev_ts", lag(col("ts"), 1).over(w))
      .withColumn("_new_session",
        when(col("_prev_ts").isNull ||
          unix_micros(col("ts").cast("timestamp")) -
            unix_micros(col("_prev_ts").cast("timestamp")) > gapSeconds * 1000000L, 1L)
          .otherwise(0L))
      .withColumn("session_idx",
        sum(col("_new_session"))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .drop("_prev_ts", "_new_session")
  }

  /** Per-session summary: bounds, turn count, duration. */
  def summarize(transcripts: DataFrame, gapSeconds: Long): DataFrame =
    assign(transcripts, gapSeconds)
      .groupBy(col("conv_id"), col("session_idx"))
      .agg(
        min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"),
        count(lit(1)).as("turns"),
        ((unix_micros(max(col("ts")).cast("timestamp")) -
          unix_micros(min(col("ts")).cast("timestamp")))
          .cast("double") / 1000000.0).as("duration_sec"))
}
