package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.Kpi

/** Structured Streaming variant of the KPI pipeline (SURVEY §7.1 M5): the
  * batch KPI's own normalization and group body ([[Kpi.normalizedWith]],
  * [[Kpi.aggregateBy]]), continuous.
  *
  * Streaming-specific choices:
  *  - event time = `timestamp_utc` under the batch's strict parse
  *    ([[Kpi.eventTime]]): a malformed value fails the query with the
  *    batch's named `timestamp_utc` error;
  *  - tumbling 1-day windows, whose start is the batch job's calendar-day
  *    key (`date_utc`) in the sessions' UTC time zone;
  *  - the `crossEngineExact` tier of [[Kpi.aggregate]]: an exact DECIMAL
  *    sum for the avg and the exact `Percentile` for the p90, both
  *    mergeable across micro-batches in any order, so a closed day equals
  *    `Kpi.bitacoraKpi(rows, crossEngineExact = true)` on the same rows.
  *    The faithful tier stays batch-only: its scan-order key does not
  *    survive micro-batch boundaries;
  *  - a watermark for late data (the reference is batch and has no late
  *    policy; we default to 1 hour). In `append` mode a day's KPI row is
  *    emitted once, when the watermark passes the window end; rows that
  *    arrive after that are dropped. Use `update` + foreachBatch for a
  *    continuously-revised dashboard.
  */
object StreamingKpi {

  /** Raw string-typed bitácora stream → normalized stream with event time. */
  def normalizedStream(bitacora: DataFrame): DataFrame =
    Kpi.normalizedWith(bitacora, Kpi.eventTime(col("timestamp_utc")).as("event_time"))

  /** Daily KPI over the normalized stream: the 9 batch KPI columns. */
  def kpiStream(normalized: DataFrame, watermark: String = "1 hour"): DataFrame =
    Kpi.aggregateBy(normalized.withWatermark("event_time", watermark),
      window(col("event_time"), "1 day"),
      to_date(col("window.start")).as("date_utc"), crossEngineExact = true)

  /** Per-endpoint running state for the stateful tier. */
  final case class EndpointState(
      requests: Long, errors: Long, lastStatus: Int, consecutiveErrors: Long)

  /** Alert event emitted when an endpoint crosses an error streak. */
  final case class ErrorStreakAlert(
      endpoint_base: String, consecutive_errors: Long, last_status: Int)

  /** Custom streaming state via flatMapGroupsWithState: tracks per-endpoint
    * consecutive-5xx streaks and emits an alert each time the streak
    * reaches `threshold` — the kind of operator-state logic windowed aggs
    * can't express (streaks reset on success, alerts fire mid-window).
    * State lives in the state store; one shuffle on endpoint_base. */
  def errorStreakAlerts(
      normalized: DataFrame, threshold: Long = 3): org.apache.spark.sql.Dataset[ErrorStreakAlert] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = normalized.sparkSession
    import spark.implicits._
    val typed = normalized
      .select(col("endpoint_base"), col("status_code"),
        unix_micros(col("event_time")).as("t"))
      .as[(String, Int, Long)]
    typed.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (endpoint: String, rows: Iterator[(String, Int, Long)], state: GroupState[EndpointState]) =>
          var s = state.getOption.getOrElse(EndpointState(0, 0, 0, 0))
          val alerts = scala.collection.mutable.ArrayBuffer.empty[ErrorStreakAlert]
          // Spark gives no intra-group ordering guarantee for the iterator:
          // sort the micro-batch's rows by event time so "consecutive" is
          // well-defined. (Bounded by the batch's per-group volume; for
          // unbounded groups pre-aggregate upstream.)
          rows.toArray.sortBy(_._3).foreach { case (_, status, _) =>
            val isErr = status >= 500
            val streak = if (isErr) s.consecutiveErrors + 1 else 0L
            s = EndpointState(
              s.requests + 1, s.errors + (if (isErr) 1 else 0), status, streak)
            if (isErr && streak == threshold)
              alerts += ErrorStreakAlert(endpoint, streak, status)
          }
          state.update(s)
          alerts.iterator
      }
  }
}
