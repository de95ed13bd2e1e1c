package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Event-time transforms over the events table: tumbling-window
  * aggregation, sessionization and interval joins.
  *
  * Each is a batch DataFrame → DataFrame transform. The catalog runs
  * all four against the DuckDB oracle (q20 `hourlyStats`, q21
  * `sessionize`, q48 `intervalJoin`, q123 `intervalJoinLeftOuter`) and
  * `EventStreamsSpec` checks them on hand-built batches. No streaming
  * source is tested here; the reference's 5-second poll loop maps to
  * `RawLayer.streamingIngest` (reference: src/raw/raw_layer.py:138-159).
  *
  * Scale: windowed aggregates shuffle on (window, key); the interval
  * joins are equi-joins on user_id with the range as a post-join
  * condition.
  */
object EventStreams {

  /** Tumbling-window counts and value sums per event type. Decimal-sum
    * keeps results order-independent (double sums are not associative).
    */
  def hourlyStats(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,4)")).as("total_value"))
      .select(
        col("window.start").as("window_start"),
        col("event_type"), col("n_events"),
        col("total_value").cast("double").as("total_value"))

  /** Sessionization: events from one user with gaps < `gap` merge into
    * one session (session_window).
    */
  def sessionize(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    events
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,4)")).as("session_value"))
      .select(
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("user_id"), col("n_events"),
        col("session_value").cast("double").as("session_value"))

  /** Interval (time-bounded) join: pair each left event with right
    * events of the same user within `[left.ts - before, left.ts]`.
    */
  def intervalJoin(
      left: DataFrame, right: DataFrame, before: String): DataFrame =
    intervalJoinTyped(left, right, before, "inner")

  /** Left-outer interval join: every left event survives, unmatched
    * ones with a null right wing — the "did this click convert?"
    * shape.
    */
  def intervalJoinLeftOuter(
      left: DataFrame, right: DataFrame, before: String): DataFrame =
    intervalJoinTyped(left, right, before, "left_outer")

  private def intervalJoinTyped(
      left: DataFrame, right: DataFrame, before: String,
      joinType: String): DataFrame = {
    val l = left.select(col("user_id"), col("ts").as("l_ts"),
      col("event_type").as("l_type"), col("value").as("l_value"))
    val r = right.select(col("user_id").as("r_user"), col("ts").as("r_ts"),
      col("event_type").as("r_type"), col("value").as("r_value"))
    l.join(r,
      col("user_id") === col("r_user") &&
        col("r_ts") >= col("l_ts") - expr(s"INTERVAL $before") &&
        col("r_ts") <= col("l_ts"),
      joinType)
      .drop("r_user")
  }
}
