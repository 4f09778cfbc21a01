package graft.tools

import org.apache.spark.sql.functions._
import graft.model.Schemas
import graft.sources.Readers

/** Stagewise profile of the streaming family's fixed cost (guide §1:
  * measure first). For each profiled query shape this prints, per
  * micro-batch, the engine's own duration breakdown
  * (StreamingQueryProgress.durationMs: triggerExecution = total,
  * addBatch = run the batch job, queryPlanning = incremental Catalyst
  * re-plan, walCommit/commitOffsets = offset/commit WAL fsyncs,
  * latestOffset/getBatch = source work) plus the state-store commit
  * time (stateOperators.commitTimeMs, summed across partitions) - the
  * three buckets VERDICT r16 asked to split: planning vs state commit
  * vs sink/drain. Wall-clock around start/awaitTermination/drain rides
  * along so the un-attributed remainder (query startup: checkpoint dir
  * creation, stream resolution, thread spin-up) is visible too.
  *
  * Pure instrumentation - no registry query goes through this class.
  */
object StreamProfile {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.LocalSession("graft-stream-profile")

    val passes = sys.env.getOrElse("SPARK_GRAFT_PASSES", "3").toInt

    def profile(name: String)(run: () => Unit): Unit = {
      (1 to passes).foreach { p =>
        val t0 = System.nanoTime()
        run()
        val wall = (System.nanoTime() - t0) / 1e9
        println(f"[$name pass $p] wall=$wall%.3f s")
      }
    }

    def dumpProgress(name: String,
                     q: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
      q.recentProgress.zipWithIndex.foreach { case (pr, i) =>
        val d = pr.durationMs
        def g(k: String): Long = Option(d.get(k)).map(_.toLong).getOrElse(-1L)
        val stateCommit = pr.stateOperators.map { so =>
          Option(so.customMetrics.get("commitTimeMs")).map(_.toLong).getOrElse(0L)
        }.sum
        val stateRows = pr.stateOperators.map(_.numRowsTotal).sum
        println(s"[$name batch $i] rows=${pr.numInputRows} " +
          s"trigger=${g("triggerExecution")} addBatch=${g("addBatch")} " +
          s"plan=${g("queryPlanning")} wal=${g("walCommit")} " +
          s"commitOff=${g("commitOffsets")} latestOff=${g("latestOffset")} " +
          s"getBatch=${g("getBatch")} stateCommitMs=$stateCommit " +
          s"stateRows=$stateRows")
      }
    }

    // ---- component split (batch mode): signature stage vs keyed-state
    // machinery. bandedSigs and flatMapGroupsWithState both run on batch
    // Datasets, so the difference fullBatch - sigsOnly isolates the
    // groupByKey shuffle + object conversion + state fold.
    profile("components") { () =>
      val docs = Readers.table(spark, dir, "documents")
      val t0 = System.nanoTime()
      val banded = graft.streaming.StreamingNearDup.bandedSigs(docs)
      banded.write.format("noop").mode("overwrite").save()
      val tSigs = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      graft.streaming.StreamingNearDup
        .flagNearDups(graft.streaming.StreamingNearDup.bandedSigs(docs),
          estMinAgree = 6, maxBucketDocs = 1000)
        .write.format("noop").mode("overwrite").save()
      val tFull = (System.nanoTime() - t1) / 1e9
      // shingle+sig compute without the band explode
      val t2 = System.nanoTime()
      import org.apache.spark.sql.GraftSqlBridge
      docs.select(col("doc_id"), GraftSqlBridge.column(
          graft.functions.Md5MinHashSig(GraftSqlBridge.expression(
            graft.llm.Dedup.shingles(col("text"), 3)), 16)).as("sig"))
        .write.format("noop").mode("overwrite").save()
      val tSigOnly = (System.nanoTime() - t2) / 1e9
      println(f"[components] sigOnly=$tSigOnly%.3f banded=$tSigs%.3f " +
        f"fullBatch=$tFull%.3f")
    }

    // ---- q_stream_neardup_mb shape (the family's most expensive) ----
    profile("neardup_mb") { () =>
      val docs = Readers.table(spark, dir, "documents")
      val mid = docs.agg(max(col("doc_id"))).first().getLong(0) / 2
      val tmp = java.nio.file.Files.createTempDirectory("sprof_mb").toString
      val t0 = System.nanoTime()
      docs.filter(col("doc_id") <= mid).coalesce(1).write
        .mode("overwrite").parquet(s"$tmp/a")
      docs.filter(col("doc_id") > mid).coalesce(1).write
        .mode("overwrite").parquet(s"$tmp/b")
      val sdir = s"$tmp/src"
      new java.io.File(sdir).mkdirs()
      def onePart(sub: String, n: String): Unit = {
        val f = new java.io.File(s"$tmp/$sub").listFiles()
          .filter(_.getName.endsWith(".parquet")).head
        java.nio.file.Files.copy(f.toPath,
          java.nio.file.Paths.get(s"$sdir/$n.parquet"))
      }
      onePart("a", "0a"); onePart("b", "1b")
      val tPrep = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      val src = spark.readStream
        .schema(Schemas.sfTable("documents"))
        .option("maxFilesPerTrigger", "1")
        .parquet(sdir)
      val banded = graft.streaming.StreamingNearDup.bandedSigs(src)
      val name = "sprof_" + java.util.UUID.randomUUID().toString.replace("-", "")
      val q = graft.streaming.StreamingNearDup
        .flagNearDups(banded, estMinAgree = 6, maxBucketDocs = 1000)
        .writeStream.format("memory").queryName(name)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      val tStart = (System.nanoTime() - t1) / 1e9
      val t2 = System.nanoTime()
      q.awaitTermination()
      val tRun = (System.nanoTime() - t2) / 1e9
      val t3 = System.nanoTime()
      import spark.implicits._
      graft.streaming.StreamingNearDup.flagSummary(
        spark.table(name).as[graft.streaming.StreamingNearDup.DupFlag])
        .write.format("noop").mode("overwrite").save()
      val tDrain = (System.nanoTime() - t3) / 1e9
      dumpProgress("neardup_mb", q)
      println(f"[neardup_mb] prep=$tPrep%.3f start=$tStart%.3f " +
        f"run=$tRun%.3f drain=$tDrain%.3f")
      spark.catalog.dropTempView(name)
    }

    // ---- q_stream_dedup shape ----
    profile("dedup") { () =>
      val src = spark.readStream
        .schema(Schemas.sfTable("events"))
        .option("pathGlobFilter", "events.parquet")
        .parquet(dir)
        .withColumn("ts",
          timestamp_seconds(pmod(col("event_id"), lit(86400L)) + 86400L))
        .withColumn("__copy", explode(array(lit(0), lit(1))))
        .drop("__copy")
      val name = "sprof_" + java.util.UUID.randomUUID().toString.replace("-", "")
      val t1 = System.nanoTime()
      val q = graft.streaming.EventStream.dedupeEvents(src)
        .select(col("event_id"), unix_timestamp(col("ts")).as("ts_s"),
          col("user_id"), col("event_type"), col("value"))
        .writeStream.format("memory").queryName(name)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      val tStart = (System.nanoTime() - t1) / 1e9
      val t2 = System.nanoTime()
      q.awaitTermination()
      val tRun = (System.nanoTime() - t2) / 1e9
      val t3 = System.nanoTime()
      spark.table(name).write.format("noop").mode("overwrite").save()
      val tDrain = (System.nanoTime() - t3) / 1e9
      dumpProgress("dedup", q)
      println(f"[dedup] start=$tStart%.3f run=$tRun%.3f drain=$tDrain%.3f")
      spark.catalog.dropTempView(name)
    }

    // ---- q_stream_ann_mb shape: fixture prep vs start vs batches ----
    profile("ann_mb") { () =>
      val t0 = System.nanoTime()
      val emb = Readers.table(spark, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 5)
      val tmp = java.nio.file.Files.createTempDirectory("sprof_ann").toString
      def onePart(df: org.apache.spark.sql.DataFrame, sub: String, n: String): Unit = {
        df.coalesce(1).write.mode("overwrite").parquet(s"$tmp/$sub")
        val f = new java.io.File(s"$tmp/$sub").listFiles()
          .filter(_.getName.endsWith(".parquet")).head
        new java.io.File(s"$tmp/src").mkdirs()
        java.nio.file.Files.copy(f.toPath,
          java.nio.file.Paths.get(s"$tmp/src/$n.parquet"))
      }
      onePart(queries, "a", "0a"); onePart(queries, "b", "1b")
      val tPrep = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      val centroids = graft.llm.Ann.hyperplanes(64, 8, seed = 11L)
      val src = spark.readStream
        .schema(Schemas.sfTable("embeddings"))
        .option("maxFilesPerTrigger", "1")
        .parquet(s"$tmp/src")
        .withColumnRenamed("vec_id", "q_id")
      val cands = graft.streaming.StreamingAnn.candidates(
        src, emb, centroids, nprobe = 2, excludeSelf = true)
      val name = "sprofann_" + java.util.UUID.randomUUID().toString.replace("-", "")
      val q = graft.streaming.StreamingAnn.topK(cands, k = 5)
        .writeStream.format("memory").queryName(name)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      val tStart = (System.nanoTime() - t1) / 1e9
      val t2 = System.nanoTime()
      q.awaitTermination()
      val tRun = (System.nanoTime() - t2) / 1e9
      val t3 = System.nanoTime()
      spark.table(name).distinct()
        .write.format("noop").mode("overwrite").save()
      val tDrain = (System.nanoTime() - t3) / 1e9
      dumpProgress("ann_mb", q)
      println(f"[ann_mb] prep=$tPrep%.3f start=$tStart%.3f " +
        f"run=$tRun%.3f drain=$tDrain%.3f")
      spark.catalog.dropTempView(name)
    }

    // ---- q_stream_sessions shape, with and without map-side session
    // merge (spark.sql.streaming.sessionWindow.merge.sessions.in.local
    // .partition - guide §2.3 aggregate-before-shuffle for session
    // windows; output is value-identical, sessions merge pre-shuffle) --
    def sessionsProfile(label: String, localMerge: Boolean): Unit =
      profile(label) { () =>
        val key = "spark.sql.streaming.sessionWindow.merge.sessions.in.local.partition"
        val prev = spark.conf.getOption(key)
        spark.conf.set(key, localMerge.toString)
        try {
          val src = spark.readStream
            .schema(Schemas.sfTable("events"))
            .option("pathGlobFilter", "events.parquet")
            .parquet(dir)
            .withColumn("ts", timestamp_seconds(pmod(col("event_id"), lit(86400L))))
          val name = "sprof_" + java.util.UUID.randomUUID().toString.replace("-", "")
          val t1 = System.nanoTime()
          val q = graft.streaming.EventStream.sessionStats(src,
              gap = "15 minutes", watermark = "2 hours", streaming = true)
            .select(col("sess_start_s"), col("sess_end_s"), col("user_id"),
              col("n_events"))
            .writeStream.format("memory").queryName(name)
            .outputMode("append")
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
          val tStart = (System.nanoTime() - t1) / 1e9
          val t2 = System.nanoTime()
          q.awaitTermination()
          val tRun = (System.nanoTime() - t2) / 1e9
          val t3 = System.nanoTime()
          spark.table(name).write.format("noop").mode("overwrite").save()
          val tDrain = (System.nanoTime() - t3) / 1e9
          dumpProgress(label, q)
          println(f"[$label] start=$tStart%.3f run=$tRun%.3f drain=$tDrain%.3f")
          spark.catalog.dropTempView(name)
        } finally prev match {
          case Some(v) => spark.conf.set(key, v)
          case None => spark.conf.unset(key)
        }
      }
    sessionsProfile("sessions_localmerge", localMerge = true)

    // ---- q_stream_sessions shape ----
    profile("sessions") { () =>
      val src = spark.readStream
        .schema(Schemas.sfTable("events"))
        .option("pathGlobFilter", "events.parquet")
        .parquet(dir)
        .withColumn("ts", timestamp_seconds(pmod(col("event_id"), lit(86400L))))
      val name = "sprof_" + java.util.UUID.randomUUID().toString.replace("-", "")
      val t1 = System.nanoTime()
      val q = graft.streaming.EventStream.sessionStats(src,
          gap = "15 minutes", watermark = "2 hours", streaming = true)
        .select(col("sess_start_s"), col("sess_end_s"), col("user_id"),
          col("n_events"))
        .writeStream.format("memory").queryName(name)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      val tStart = (System.nanoTime() - t1) / 1e9
      val t2 = System.nanoTime()
      q.awaitTermination()
      val tRun = (System.nanoTime() - t2) / 1e9
      val t3 = System.nanoTime()
      spark.table(name).write.format("noop").mode("overwrite").save()
      val tDrain = (System.nanoTime() - t3) / 1e9
      dumpProgress("sessions", q)
      println(f"[sessions] start=$tStart%.3f run=$tRun%.3f drain=$tDrain%.3f")
      spark.catalog.dropTempView(name)
    }

    spark.stop()
  }
}
