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
}
