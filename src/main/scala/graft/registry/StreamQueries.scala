package graft.registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.Schemas
import graft.registry.Shared._
import graft.sources.Readers

/** Structured Streaming queries: file-source streams over the test
  * tables, each checked against the batch recomputation of its output. */
object StreamQueries {

  /** Run a streaming-query body with no-data micro-batches disabled,
    * restoring the session conf after. AvailableNow appends one final
    * NO-DATA batch after the data drains (watermark bookkeeping +
    * state eviction) - a full trigger of planning/WAL/state-commit
    * cost (measured 0.5-0.75 s per query here). Queries whose OUTPUT
    * is complete after the last data batch (exact dedup emits on first
    * sight; complete-mode aggregations re-emit the same table) skip it
    * without changing a row; append-mode watermark-emission queries
    * (q_stream_sessions) REQUIRE it and must not use this. */
  private def withoutNoDataBatches[T](s: SparkSession)(body: => T): T = {
    val key = "spark.sql.streaming.noDataMicroBatches.enabled"
    val prev = s.conf.getOption(key)
    s.conf.set(key, "false")
    try body
    finally prev match {
      case Some(v) => s.conf.set(key, v)
      case None => s.conf.unset(key)
    }
  }

  /** Built once per (session, key): the source dir contents are a pure
    * function of the key's inputs, and streaming readers re-scan the
    * dir per query (each run uses a fresh checkpoint), so rebuilding it
    * on every invocation only accumulated disk. */
  private def twoFileStreamDir(key: String, first: DataFrame,
                               second: DataFrame): String =
    graft.pipeline.Memo.once(first.sparkSession, s"streamdir:$key") {
      buildTwoFileStreamDir(key, first, second)
    }

  /** Two-micro-batch file-stream fixture: writes `first` and `second`
    * as single parquet FILES (a.parquet stamped older than b.parquet)
    * into a fresh temp dir, so a file stream with maxFilesPerTrigger=1
    * under Trigger.AvailableNow delivers exactly two data batches in
    * that order - the cross-batch state-merge path the single-batch
    * registry queries cannot reach. The dir is session scratch,
    * removed by a JVM shutdown hook like the flagship state store. */
  private def buildTwoFileStreamDir(prefix: String, first: DataFrame,
                                    second: DataFrame): String = {
    val base = scratchDir(prefix)
    def writeOne(df: DataFrame, fileName: String, mtime: Long): Unit = {
      val tmp = new java.io.File(base, fileName + "_tmp")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = tmp.listFiles().filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(part.toPath,
        new java.io.File(base, fileName).toPath)
      tmp.listFiles().foreach(_.delete()); tmp.delete()
      new java.io.File(base, fileName).setLastModified(mtime): Unit
    }
    // 2 min in the past so the stamps are strictly ordered and safely
    // below "now" (the file source orders batches by mod time)
    val t0 = System.currentTimeMillis() - 120000L
    writeOne(first, "a.parquet", t0)
    writeOne(second, "b.parquet", t0 + 60000L)
    base.toString
  }

  /** Shared DuckDB recomputation of the streaming LSH near-dup flagger
    * (md5-permutation signatures, rank-capped stored sets, >= 6/16
    * agreement) - the oracle for BOTH q_stream_neardup (single-batch
    * delivery) and q_stream_neardup_mb (two doc_id-ordered batches):
    * a correct cross-batch state merge must reproduce the identical
    * doc_id-ordered replay. */
  private val streamNearDupOracleSql: String =
    """WITH w AS (SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[^a-z0-9_]+'),
               t -> t <> '') AS ws
           FROM documents),
         g AS (SELECT doc_id,
             unnest(CASE WHEN len(ws) < 3 THEN [array_to_string(ws, ' ')]
               ELSE list_distinct(list_transform(
                 generate_series(1, len(ws) - 2),
                 i -> array_to_string(ws[i : i + 2], ' '))) END) AS shingle
           FROM w),
         shs AS (SELECT doc_id, list(shingle) AS sh FROM g GROUP BY doc_id),
         sigs AS MATERIALIZED (SELECT doc_id,
             list_transform(range(1, 17), i ->
               list_min(list_transform(sh,
                 s -> substr(md5(i || '|' || s), 1, 16)))) AS sig
           FROM shs),
         bnd AS (SELECT doc_id, b,
             array_to_string(sig[b*2+1 : b*2+2], '#') AS bandval
           FROM sigs, LATERAL (SELECT unnest(range(0, 8)) AS b)),
         rnk AS (SELECT doc_id, b, bandval,
             row_number() OVER (PARTITION BY b, bandval
               ORDER BY doc_id) AS rk
           FROM bnd),
         flg AS (SELECT l.doc_id AS id_b, a.doc_id AS id_a, a.b AS band
           FROM rnk a JOIN rnk l
             ON a.b = l.b AND a.bandval = l.bandval
             AND a.doc_id < l.doc_id AND a.rk <= 1000
           JOIN sigs sa ON sa.doc_id = a.doc_id
           JOIN sigs sb ON sb.doc_id = l.doc_id
           WHERE len(list_filter(range(1, 17),
             i -> sa.sig[i] = sb.sig[i])) >= 6)
         SELECT id_b AS doc_id, min(id_a) AS dup_of,
                count(DISTINCT band) AS n_dup_bands
         FROM flg GROUP BY id_b"""

  val all: Seq[Q] = Seq(
    // ONLINE decontamination: the same ngramOverlap plan as
    // q_contamination with the training side a real file-source STREAM
    // and the benchmark side the static batch frame - the stream-static
    // broadcast join Structured Streaming admission screens use (docs
    // screened as they are ingested, the eval set fixed). Complete-mode
    // memory sink is the harness's returnable-DataFrame convention
    // (q_stream_windowed); at scale this runs in update mode to a keyed
    // sink. Oracle: identical SQL to q_contamination - the streamed
    // incremental aggregation must land on exactly the batch answer.
    Q("q_stream_contam", (s, dir) => {
      val name = "stream_contam_" +
        java.util.UUID.randomUUID().toString.replace("-", "")
      val src = s.readStream
        .schema(Schemas.sfTable("documents"))
        .option("pathGlobFilter", "documents.parquet")
        .parquet(dir)
        .filter(col("doc_id") % 97 =!= 0)
        .repartition(shufflePartitions(s), col("doc_id"))
      val bench = Readers.table(s, dir, "documents")
        .filter(col("doc_id") % 97 === 0)
        .withColumnRenamed("doc_id", "bench_id")
      // complete-mode re-emit: the trailing no-data batch recomputes
      // the identical table (no watermark moves state) - skip it, same
      // as q_stream_dedup (withoutNoDataBatches scaladoc)
      withoutNoDataBatches(s) {
        val q = graft.llm.Contamination.ngramOverlap(src, bench, hashed = false)
          .writeStream.format("memory").queryName(name)
          .outputMode("complete")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      s.table(name)
    },
      // the stream-static screen must land on exactly the batch answer
      """WITH w AS (SELECT doc_id,
             list_filter(string_split_regex(lower(trim(text)), '\s+'),
               x -> x <> '') AS ws
           FROM documents),
         g AS (SELECT DISTINCT doc_id,
             array_to_string(ws[i : i + 2], ' ') AS shingle
           FROM w, UNNEST(generate_series(1, greatest(len(ws) - 2, 0)))
             AS t(i))
         SELECT tr.doc_id, b.doc_id AS bench_id, count(*) AS n_shared
         FROM (SELECT * FROM g WHERE doc_id % 97 <> 0) tr
         JOIN (SELECT * FROM g WHERE doc_id % 97 = 0) b USING (shingle)
         GROUP BY 1, 2 HAVING count(*) >= 2"""),

    // Structured Streaming surfaced in the registry: file-source stream
    // over the events table (explicit schema - the parquet ts column is
    // TIMESTAMP(NANOS), so event time is derived), watermarked tumbling
    // windows, AvailableNow trigger draining to a memory sink. The same
    // code runs unbounded against a directory that keeps receiving files.
    // streaming sessionization in APPEND mode (the scale path: sessions
    // emit once, when the watermark closes them). The final watermark
    // after AvailableNow drains = max event time - 2h, so the oracle
    // keeps exactly the sessions that closed before it.
    Q("q_stream_sessions", (s, dir) => {
      val name = "stream_sessions_" +
        java.util.UUID.randomUUID().toString.replace("-", "")
      val src = s.readStream
        .schema(Schemas.sfTable("events"))
        .option("pathGlobFilter", "events.parquet")
        .parquet(dir)
        .withColumn("ts", timestamp_seconds(pmod(col("event_id"), lit(86400L))))
      val q = graft.streaming.EventStream.sessionStats(src,
          gap = "15 minutes", watermark = "2 hours", streaming = true)
        .select(col("sess_start_s"), col("sess_end_s"), col("user_id"),
          col("n_events"))
        .writeStream.format("memory").queryName(name)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.table(name)
    },
      // batch recomputation of the append-mode session stream: the same
      // gap sessionization as q_e_sessions, kept only when the session
      // closed before the final watermark (max t - 7200)
      """WITH e AS (SELECT user_id, CAST(event_id % 86400 AS BIGINT) AS t
                    FROM events),
              o AS (SELECT user_id, t,
                           CASE WHEN lag(t) OVER w IS NULL
                                  OR t - lag(t) OVER w > 900
                                THEN 1 ELSE 0 END AS brk
                    FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t)),
              s AS (SELECT user_id, t,
                           sum(brk) OVER (PARTITION BY user_id ORDER BY t
                                          ROWS UNBOUNDED PRECEDING) AS sid
                    FROM o),
              g AS (SELECT CAST(min(t) AS BIGINT) AS sess_start_s,
                           CAST(max(t) + 900 AS BIGINT) AS sess_end_s,
                           user_id, count(*) AS n_events
                    FROM s GROUP BY user_id, sid)
         SELECT sess_start_s, sess_end_s, user_id, n_events FROM g
         WHERE sess_end_s <= (SELECT max(t) - 7200 FROM e)"""),

    // streaming EXACT dedup: every event duplicated in-stream (explode
    // of a dropped dummy column -> two identical rows per event), then
    // dropDuplicatesWithinWatermark on event_id keeps exactly one; the
    // DuckDB twin recomputes the surviving set as a plain projection of
    // the (unique-keyed) events table, so any row dropped twice, kept
    // twice, or mangled by the streaming state fails the compare
    Q("q_stream_dedup", (s, dir) => {
      val name = "stream_dedup_" +
        java.util.UUID.randomUUID().toString.replace("-", "")
      val src = s.readStream
        .schema(Schemas.sfTable("events"))
        .option("pathGlobFilter", "events.parquet")
        .parquet(dir)
        // +1 day: epoch-0 event time would sit exactly on the initial
        // watermark and be filtered as late before dedup state sees it
        .withColumn("ts",
          timestamp_seconds(pmod(col("event_id"), lit(86400L)) + 86400L))
        .withColumn("__copy", explode(array(lit(0), lit(1))))
        .drop("__copy")
      // exact dedup emits each survivor in its data batch; the trailing
      // no-data batch only evicts state (measured 0.5 s) - skip it
      withoutNoDataBatches(s) {
        val q = graft.streaming.EventStream.dedupeEvents(src)
          .select(col("event_id"), unix_timestamp(col("ts")).as("ts_s"),
            col("user_id"), col("event_type"), col("value"))
          .writeStream.format("memory").queryName(name)
          .outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      s.table(name)
    },
      // batch recomputation of the streaming exact dedup: the surviving
      // set of a duplicate-every-row stream is the unique-keyed table
      """SELECT event_id, CAST(event_id % 86400 + 86400 AS BIGINT) AS ts_s,
             user_id, event_type, value
         FROM events"""),

    // streaming MinHash-LSH near-dup: real file-source stream over the
    // documents table through the keyed-state flagger (signatures +
    // band explode stateless, one groupByKey(band, bandval) shuffle,
    // <=1000 stored signatures per bucket), then the per-doc roll-up
    // over the drained sink. The DuckDB twin replays the md5
    // signatures and the first-1000-per-bucket retention with a
    // rank-capped self-join, so a signature mangled by the state
    // store, a dropped flag, or an off-by-one in the stored-set cut
    // all fail the compare.
    Q("q_stream_neardup", (s, dir) => {
      val name = "stream_neardup_" +
        java.util.UUID.randomUUID().toString.replace("-", "")
      val src = s.readStream
        .schema(Schemas.sfTable("documents"))
        .option("pathGlobFilter", "documents.parquet")
        .parquet(dir)
        // one file per micro-batch = one scan task: spread the md5
        // signature map across the session parallelism (same
        // single-row-group rationale as tDocsPar)
        .repartition(shufflePartitions(s), col("doc_id"))
      val banded = graft.streaming.StreamingNearDup.bandedSigs(src)
      val q = graft.streaming.StreamingNearDup
        .flagNearDups(banded, estMinAgree = 6, maxBucketDocs = 1000)
        .writeStream.format("memory").queryName(name)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      // oracle parity requires doc_id-ordered delivery, which this
      // source guarantees only as SINGLE-batch (one file, AvailableNow,
      // no maxFilesPerTrigger); enforce rather than assume - a config
      // or source change that splits the run into multiple batches
      // must fail here, not hash-mismatch downstream
      val dataBatches = q.recentProgress.count(_.numInputRows > 0)
      require(dataBatches <= 1,
        s"q_stream_neardup needs single-batch delivery for doc_id-order " +
          s"parity with the rank-capped oracle; got $dataBatches data batches")
      import s.implicits._
      graft.streaming.StreamingNearDup.flagSummary(
        s.table(name).as[graft.streaming.StreamingNearDup.DupFlag])
    },
      // batch recomputation of the streaming LSH near-dup flagger: same
      // md5-permutation signatures and band encoding as q_d_minhash_md5's
      // oracle, "seen before" = doc_id-earlier, stored set = the first
      // 1000 docs of each bucket (rank cap = the state cap), flag when
      // >= 6 of 16 signature positions agree. sigs is MATERIALIZED - it
      // feeds the band explode and both sides of the agreement join.
      streamNearDupOracleSql),

    // streaming ANN top-k retrieval: query vectors stream against the
    // STATIC IVF-celled corpus (stateless probe-cell stream-static
    // equi-join, Spark's own cosine scoring), then k-bounded keyed
    // state per query merges candidates into the final ranked top-k.
    // The index is SERVED FROM THE PERSISTED ARTIFACT (centroids
    // loaded from the parquet index q_ann_ivfpq_artifact ships - the
    // production serving path, where a streaming retriever loads a
    // trained index rather than re-deriving it in the plan; doubles
    // round-trip bit-exact, so parity with the batch oracle is
    // unchanged). MUST return exactly the batch knnJoin rows - the
    // oracle IS q_ann_knn_join's, shared verbatim.
    Q("q_stream_ann", (s, dir) => {
      val name = "stream_ann_" +
        java.util.UUID.randomUUID().toString.replace("-", "")
      val centroids = annServedCentroids(s)
      val src = s.readStream
        .schema(Schemas.sfTable("embeddings"))
        .option("pathGlobFilter", "embeddings.parquet")
        .parquet(dir)
        .filter(col("vec_id") < 5)
        .withColumnRenamed("vec_id", "q_id")
      val cands = graft.streaming.StreamingAnn.candidates(
        src, Readers.table(s, dir, "embeddings"), centroids, nprobe = 2,
        excludeSelf = true)
      val q = graft.streaming.StreamingAnn.topK(cands, k = 5)
        .writeStream.format("memory").queryName(name)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      // append-mode top-k re-emits refined rows if a query's candidates
      // span micro-batches; exact batch parity holds single-batch only
      // (one file, AvailableNow, no maxFilesPerTrigger) - enforce it
      val dataBatches = q.recentProgress.count(_.numInputRows > 0)
      require(dataBatches <= 1,
        s"q_stream_ann needs single-batch delivery for exact batch " +
          s"parity with the knnJoin oracle; got $dataBatches data batches")
      s.table(name)
    },
      // the STREAMING retrieval path must return exactly the batch
      // knnJoin rows - same oracle, shared verbatim, so any divergence
      // between the keyed-state top-k and the window-rank batch plan
      // hash-mismatches immediately
      knnJoinOracleSql),

    // MULTI-batch streaming near-dup: the same flagger fed the SAME
    // corpus split into two micro-batches (maxFilesPerTrigger=1 over a
    // two-file source dir, lower doc_id half first). Because the split
    // respects doc_id order, "seen before" across batches still means
    // doc_id-earlier, so the CROSS-BATCH STATE MERGE (bucket signatures
    // persisted through the state store between batches) must
    // reproduce the single-batch rows exactly - the oracle is shared
    // verbatim with q_stream_neardup, and a >= 2-batch delivery is
    // asserted at run time (this query is the cross-batch complement
    // of q_stream_neardup's single-batch guard).
    Q("q_stream_neardup_mb", (s, dir) => {
      val docs = Readers.table(s, dir, "documents")
      val mid = docs.agg(max(col("doc_id"))).first().getLong(0) / 2
      val sdir = twoFileStreamDir(s"graft_neardup_mb:$dir",
        docs.filter(col("doc_id") <= mid), docs.filter(col("doc_id") > mid))
      val name = "stream_neardup_mb_" +
        java.util.UUID.randomUUID().toString.replace("-", "")
      val src = s.readStream
        .schema(Schemas.sfTable("documents"))
        .option("maxFilesPerTrigger", "1")
        .parquet(sdir)
        .repartition(shufflePartitions(s), col("doc_id"))
      val banded = graft.streaming.StreamingNearDup.bandedSigs(src)
      val q = graft.streaming.StreamingNearDup
        .flagNearDups(banded, estMinAgree = 6, maxBucketDocs = 1000)
        .writeStream.format("memory").queryName(name)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val dataBatches = q.recentProgress.count(_.numInputRows > 0)
      require(dataBatches >= 2,
        s"q_stream_neardup_mb must exercise the cross-batch state merge; " +
          s"got $dataBatches data batches")
      import s.implicits._
      graft.streaming.StreamingNearDup.flagSummary(
        s.table(name).as[graft.streaming.StreamingNearDup.DupFlag])
    },
      // the MULTI-batch run must reproduce the identical rows: the
      // doc_id-ordered two-batch split keeps "seen before" == doc_id-
      // earlier, so a correct cross-batch state merge is exactly the
      // single-batch recomputation
      streamNearDupOracleSql),

    // MULTI-batch streaming ANN with AT-LEAST-ONCE redelivery: batch 2
    // re-delivers batch 1's query vectors verbatim, so every query's
    // candidates arrive TWICE and the keyed state must dedupe by
    // neighbor id on merge - without that, a replayed candidate fills
    // two of the k slots and the re-emission diverges. Correct merge =>
    // the second emission repeats the first exactly, so the distinct
    // over the append sink equals the batch knnJoin rows (oracle shared
    // verbatim); >= 2 data batches asserted at run time.
    Q("q_stream_ann_mb", (s, dir) => {
      val emb = Readers.table(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 5)
      val sdir = twoFileStreamDir(s"graft_ann_mb:$dir", queries, queries)
      val name = "stream_ann_mb_" +
        java.util.UUID.randomUUID().toString.replace("-", "")
      // served from the same loaded-once artifact as q_stream_ann
      val centroids = annServedCentroids(s)
      val src = s.readStream
        .schema(Schemas.sfTable("embeddings"))
        .option("maxFilesPerTrigger", "1")
        .parquet(sdir)
        .withColumnRenamed("vec_id", "q_id")
      val cands = graft.streaming.StreamingAnn.candidates(
        src, emb, centroids, nprobe = 2, excludeSelf = true)
      val q = graft.streaming.StreamingAnn.topK(cands, k = 5)
        .writeStream.format("memory").queryName(name)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val dataBatches = q.recentProgress.count(_.numInputRows > 0)
      require(dataBatches >= 2,
        s"q_stream_ann_mb must exercise the redelivery merge; " +
          s"got $dataBatches data batches")
      s.table(name).distinct()
    },
      // at-least-once redelivery: a correct dedup-on-merge re-emits the
      // same ranked rows, so distinct(sink) == the batch kNN join
      knnJoinOracleSql),

    Q("q_stream_windowed", (s, dir) => {
      val name = "stream_counts_" +
        java.util.UUID.randomUUID().toString.replace("-", "")
      val src = s.readStream
        .schema(Schemas.sfTable("events"))
        .option("pathGlobFilter", "events.parquet") // file source wants a dir
        .parquet(dir)
        .withColumn("ts", timestamp_seconds(pmod(col("event_id"), lit(86400L))))
      // complete-mode re-emit: the trailing no-data batch (watermark
      // bookkeeping; complete mode never drops closed windows) rewrites
      // the identical table - skip it (withoutNoDataBatches scaladoc)
      withoutNoDataBatches(s) {
        val q = graft.streaming.EventStream.windowedTypeCounts(src)
          .writeStream.format("memory").queryName(name)
          .outputMode("complete")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      // n_events only: the float sum is still computed by the stream but a
      // cross-engine compare of an order-dependent double sum is noise.
      // Window start as epoch seconds - the memory-sink roundtrip yields
      // nanosecond timestamps while DuckDB produces microseconds, and the
      // driver compare is type-exact.
      s.table(name).select(
        unix_timestamp(col("window.start")).as("win_start_s"),
        col("event_type"), col("n_events"))
    },
      // batch recomputation of the watermarked tumbling-window stream
      """SELECT CAST(((event_id % 86400) // 3600) * 3600 AS BIGINT)
               AS win_start_s,
             event_type, count(*) AS n_events
         FROM events GROUP BY 1, 2""")
  )
}
