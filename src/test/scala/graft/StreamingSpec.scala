package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.streaming.EventStream
import graft.streaming.EventStream.Event

/** Structured Streaming operators driven through MemoryStream - the
  * incremental twin of the batch event queries. Data is added BEFORE
  * start so the first micro-batch sees it; processAllAvailable drains. */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(min: Int) =
    java.sql.Timestamp.valueOf(f"2026-08-01 10:$min%02d:00")

  test("windowed type counts aggregate incrementally with a watermark") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    input.addData(
      Event(1, ts(1), 7, "click", 1.0),
      Event(2, ts(2), 7, "click", 2.0),
      Event(3, ts(12), 8, "view", 5.0))
    val query = EventStream.windowedTypeCounts(input.toDF(), "10 minutes", "20 minutes")
      .writeStream.format("memory").queryName("win_counts")
      .outputMode("update").start()
    query.processAllAvailable()
    query.stop()

    val rows = spark.sql(
      "SELECT event_type, n_events, sum_value FROM win_counts")
      .as[(String, Long, Double)].collect().toSet
    assert(rows == Set(("click", 2L, 3.0), ("view", 1L, 5.0)))
  }

  test("streaming dedupe drops replayed event ids") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    input.addData(
      Event(1, ts(1), 7, "click", 1.0),
      Event(1, ts(1), 7, "click", 1.0), // exact replay
      Event(2, ts(2), 7, "click", 2.0))
    val query = EventStream.dedupeEvents(input.toDF(), "20 minutes")
      .writeStream.format("memory").queryName("deduped")
      .outputMode("append").start()
    query.processAllAvailable()
    query.stop()

    assert(spark.sql("SELECT count(*) FROM deduped").as[Long].head() == 2L)
  }

  test("streaming dedupe equals batch dropDuplicates (same surviving set)") {
    implicit val sqlCtx = spark.sqlContext
    val events = (1 to 30).flatMap { i =>
      val e = Event(i.toLong, ts(i), i % 5, if (i % 2 == 0) "click" else "view",
        i.toDouble)
      Seq(e, e) // every event replayed once
    }
    val input = MemoryStream[Event]
    input.addData(events: _*)
    val query = EventStream.dedupeEvents(input.toDF(), "20 minutes")
      .writeStream.format("memory").queryName("dedup_vs_batch")
      .outputMode("append").start()
    query.processAllAvailable()
    query.stop()
    val streamed = spark.table("dedup_vs_batch")
      .select("event_id", "user_id", "event_type", "value")
      .as[(Long, Long, String, Double)].collect().toSeq
    val batch = events.toDF().dropDuplicates("event_id")
      .select("event_id", "user_id", "event_type", "value")
      .as[(Long, Long, String, Double)].collect().toSeq
    // set equality AND no double-emits (each key exactly once)
    assert(streamed.sorted == batch.sorted)
    assert(streamed.map(_._1).distinct.size == streamed.size)
  }

  test("session windows close at the gap and emit once on watermark") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    // user 7: events at 10:01 and 10:05 (one session, gap 10 min), then
    // 10:30 (past the gap -> second session); the 13:00 event advances
    // the watermark far enough to close and emit all of user 7's sessions
    input.addData(
      Event(1, ts(1), 7, "click", 1.0),
      Event(2, ts(5), 7, "click", 2.0),
      Event(3, ts(30), 7, "view", 4.0),
      Event(4, java.sql.Timestamp.valueOf("2026-08-01 13:00:00"), 9, "late", 1.0))
    val query = EventStream.sessionStats(input.toDF(), gap = "10 minutes",
        watermark = "30 minutes", streaming = true)
      .writeStream.format("memory").queryName("session_windows")
      .outputMode("append").start()
    query.processAllAvailable()
    query.stop()

    val rows = spark.sql(
      """SELECT user_id, n_events, sum_value,
                sess_end_s - sess_start_s AS len_s
         FROM session_windows""")
      .as[(Long, Long, Double, Long)].collect().toSet
    // session 1: 10:01-10:05 + 10-min gap = 840s span; session 2: one
    // event + gap = 600s. The 13:00 session is still open -> not emitted.
    assert(rows == Set((7L, 2L, 3.0, 840L), (7L, 1L, 4.0, 600L)))
  }

  test("batch and streaming session stats agree (same plan, same result)") {
    implicit val sqlCtx = spark.sqlContext
    val events = Seq(
      Event(1, ts(1), 7, "click", 1.0),
      Event(2, ts(5), 7, "click", 2.0),
      Event(3, ts(30), 7, "view", 4.0),
      Event(4, ts(2), 9, "view", 8.0))
    val batch = EventStream.sessionStats(events.toDF(), gap = "10 minutes")
      .as[(Long, Long, Long, Long, Double)].collect().toSet

    val input = MemoryStream[Event]
    input.addData(events: _*)
    input.addData(Event(5, java.sql.Timestamp.valueOf("2026-08-01 13:00:00"),
      1, "late", 0.0)) // watermark push so every earlier session closes
    val query = EventStream.sessionStats(input.toDF(), gap = "10 minutes",
        watermark = "30 minutes", streaming = true)
      .writeStream.format("memory").queryName("session_both")
      .outputMode("append").start()
    query.processAllAvailable()
    query.stop()
    val streamed = spark.table("session_both")
      .as[(Long, Long, Long, Long, Double)].collect().toSet

    assert(batch.filter(_._3 != 1L) == streamed.filter(_._3 != 1L))
  }

  test("prep map stages (scrub + quality filter) run unchanged on a stream") {
    implicit val sqlCtx = spark.sqlContext
    val good = "the quick brown fox jumps over the lazy dog and then " +
      "it runs away to the forest with a spring in its step for a while"
    val docs = Seq(
      (1L, good + " mail me@example.com ok"),
      (2L, "too short"))
    // stateless map stages compose onto a stream exactly as in batch -
    // the SAME code path PrepPipeline.run uses (its dedup window is the
    // one stateful stage and stays batch-side by design)
    def stages(df: org.apache.spark.sql.DataFrame) =
      graft.llm.TextAnalysis.withQualityFilter(
        graft.llm.TextAnalysis.withScrubbedText(df), "scrubbed")
        .select($"doc_id", $"n_emails", $"keep")
    val batch = stages(docs.toDF("doc_id", "text"))
      .as[(Long, Int, Int)].collect().toSet

    val input = MemoryStream[(Long, String)]
    input.addData(docs: _*)
    val q = stages(input.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("prep_stream")
      .outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("prep_stream")
      .as[(Long, Int, Int)].collect().toSet
    assert(streamed == batch && batch ==
      Set((1L, 1, 1), (2L, 0, 0)))
  }
}
