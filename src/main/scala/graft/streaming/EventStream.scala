package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Structured Streaming operators over the `events` table shape.
  *
  * The reference is strictly batch (SURVEY §2.11 - no streams anywhere),
  * so nothing here is required for parity; this module covers the stream
  * side of the engine's own surface: the same aggregations the batch
  * queries run, expressed as incremental plans with watermarks and
  * keyed state. At scale these run with `readStream` over the same
  * parquet/kafka sources; state is bounded by the watermark.
  */
object EventStream {

  case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                   event_type: String, value: Double)

  /** Watermarked tumbling-window counts per event type - the streaming
    * twin of q_e_user_stats. Late events beyond the watermark are
    * dropped; state is purged per window. */
  def windowedTypeCounts(events: DataFrame, window: String = "1 hour",
                         watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(org.apache.spark.sql.functions.window(col("ts"), window),
        col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value")).as("sum_value"))

  /** Exactly-once-per-key dedupe within the watermark horizon - the
    * streaming form of exact dedup. `dropDuplicatesWithinWatermark` is
    * required for bounded state: a plain `dropDuplicates("event_id")`
    * never evicts (the key subset lacks the event-time column, so the
    * watermark cannot expire entries and state grows without bound). */
  def dedupeEvents(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  /** Event-time sessionization: gap-based session windows per user. An
    * event extends its session while it arrives within `gap` of the
    * previous event (inclusive - windows merge when they touch, so two
    * events exactly `gap` apart share a session); the first event past
    * the gap opens a new one. The SAME plan runs in batch (used by the oracled
    * q_e_sessions registry query) and as a stream (`streaming = true`
    * adds the watermark session-window state eviction requires; run it
    * in append mode - sessions emit once, when the watermark closes
    * them). State is one open session per (user, session) key, purged at
    * close - bounded by activity, not history. */
  def sessionStats(events: DataFrame, gap: String = "15 minutes",
                   watermark: String = "2 hours",
                   streaming: Boolean = false): DataFrame = {
    val src = if (streaming) events.withWatermark("ts", watermark) else events
    src
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(
        unix_timestamp(col("session_window.start")).as("sess_start_s"),
        unix_timestamp(col("session_window.end")).as("sess_end_s"),
        col("user_id"), col("n_events"), col("sum_value"))
  }
}
