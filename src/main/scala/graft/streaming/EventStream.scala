package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

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

  case class SessionUpdate(user_id: Long, n_events: Long, sum_value: Double,
                           closed: Boolean)

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

  /** Windowed streaming HyperLogLog: per-(event-time window, register
    * bucket) max-rho registers over a value stream - the incremental
    * twin of [[graft.llm.Sketches.hllRegisters]], sharing its exact
    * md5 register definition via [[graft.llm.Sketches.hllBucketRho]].
    * `max` is the canonical streaming-safe aggregate: each micro-batch
    * folds into at most `2^p` register rows of state per window, so
    * the state store holds a bounded sketch, not the distinct values -
    * a streaming `approx distinct users per window` costs O(m) state
    * where `dropDuplicates` state would grow with cardinality. Collapse
    * to an estimate downstream with the batch report/estimate helpers. */
  def windowedHllRegisters(events: DataFrame, value: Column,
                           window: String = "1 hour",
                           watermark: String = "2 hours",
                           p: Int = 10): DataFrame = {
    val (bucket, rho) = graft.llm.Sketches.hllBucketRho(value, p)
    events
      .withWatermark("ts", watermark)
      .select(col("ts"), bucket.as("bucket"), rho.as("rho"))
      .groupBy(org.apache.spark.sql.functions.window(col("ts"), window),
        col("bucket"))
      .agg(max(col("rho")).as("m_j"))
  }

  /** The scale path for [[windowedTypeCounts]]: append-mode to a file
    * sink. Complete-mode + memory sink (used by the harness query for a
    * returnable DataFrame) accumulates every window on the driver;
    * append mode emits each window once, when the watermark closes it,
    * and the parquet sink scales with the cluster. Returns the started
    * query; callers own awaitTermination/stop. */
  def windowedTypeCountsToFiles(events: DataFrame, outDir: String,
                                checkpointDir: String, window: String = "1 hour",
                                watermark: String = "2 hours")
      : org.apache.spark.sql.streaming.StreamingQuery =
    windowedTypeCounts(events, window, watermark)
      .select(col("window.start").as("win_start"), col("event_type"),
        col("n_events"), col("sum_value"))
      .writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append())
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()

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

  /** Stream-stream interval join: left events matched to right events
    * with the same key and left.ts in [right.ts + lo, right.ts + hi] -
    * the streaming twin of
    * [[graft.operators.TemporalJoins.rangeJoinBucketed]] (clicks joined
    * to the views that preceded them, impressions to conversions).
    *
    * Both sides MUST be watermarked and the join condition MUST bound
    * event time on both sides: that pair is what lets the engine evict
    * join state (a right row can be dropped once the left watermark
    * passes right.ts + hi, and vice versa) - without it stream-stream
    * join state grows forever. Inner join; each side's columns are
    * prefixed (`l_`/`r_`) so same-named key/ts columns survive.
    */
  def intervalJoin(left: DataFrame, right: DataFrame, key: String,
                   loSec: Long, hiSec: Long, tsCol: String = "ts",
                   watermark: String = "2 hours"): DataFrame = {
    require(hiSec >= loSec, s"empty interval [$loSec, $hiSec]")
    def prefixed(df: DataFrame, p: String) =
      df.select(df.columns.toIndexedSeq.map(c => col(c).as(p + c)): _*)
    val l = prefixed(left, "l_").withWatermark(s"l_$tsCol", watermark)
    val r = prefixed(right, "r_").withWatermark(s"r_$tsCol", watermark)
    l.join(r,
      col(s"l_$key") === col(s"r_$key") &&
        col(s"l_$tsCol") >= col(s"r_$tsCol") + expr(s"INTERVAL $loSec seconds") &&
        col(s"l_$tsCol") <= col(s"r_$tsCol") + expr(s"INTERVAL $hiSec seconds"))
  }

  /** Custom keyed state: per-user running session via
    * flatMapGroupsWithState - emits an update per batch and, when a
    * processing-time timeout is configured (timeoutMs > 0), a final
    * `closed` record when the user goes idle. The
    * KeyValueGroupedDataset.mapGroupsWithState family is the engine's
    * answer to "custom state machine" stream operators.
    *
    * Note: with a timeout the engine schedules periodic timeout-check
    * batches, so `processAllAvailable` never drains - tests use
    * timeoutMs=0 (NoTimeout). */
  def userSessions(events: Dataset[Event],
                   timeoutMs: Long = 30 * 60 * 1000L): Dataset[SessionUpdate] = {
    import events.sparkSession.implicits._
    val timeoutConf =
      if (timeoutMs > 0) GroupStateTimeout.ProcessingTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[(Long, Double), SessionUpdate](
        OutputMode.Append(), timeoutConf) {
        case (userId, rows, state: GroupState[(Long, Double)]) =>
          if (state.hasTimedOut) {
            val (n, sum) = state.get
            state.remove()
            Iterator(SessionUpdate(userId, n, sum, closed = true))
          } else {
            val batch = rows.toSeq
            val (n0, sum0) = state.getOption.getOrElse((0L, 0.0))
            val updated = (n0 + batch.size, sum0 + batch.map(_.value).sum)
            state.update(updated)
            if (timeoutMs > 0) state.setTimeoutDuration(timeoutMs)
            Iterator(SessionUpdate(userId, updated._1, updated._2, closed = false))
          }
      }
  }
}
