package graft

object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // optional name filter for single-query timing runs
    // (SPARK_GRAFT_ONLY=q_x,q_y); empty = the full registry
    val only = graft.registry.Registry.only()
    val spark = LocalSession("graft-bench")

    // every query that threw in any pass: its time is still recorded
    // (the headline keeps its shape), but the record is stamped
    // valid:false and names it
    val failed = scala.collection.mutable.SortedSet.empty[String]

    // one pass over the selection; each query releases what it
    // materialized after its timed write (Scope)
    def pass(): Seq[(String, Double)] =
      Scope.registry(spark, sfDir, only) { (name, e) =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
      } { (_, df) =>
        // noop write forces full evaluation of every column (a bare
        // count() would let Catalyst prune the work away)
        df.write.format("noop").mode("overwrite").save()
      }.map { r =>
        if (r.failed) failed += r.name
        r.name -> r.seconds
      }

    // N full passes (SPARK_GRAFT_PASSES, default 2): the first carries
    // JVM/codegen/classloader warmup. Headline per-query numbers are the
    // per-query MIN across passes (a plan's steady-state cost; multi-job
    // flagship queries showed +-25% run-to-run GC/materialization noise
    // on the plain second pass). First/last pass totals ride along for
    // reference as cold_total/warm_total.
    val nPasses = math.max(1, sys.env.getOrElse("SPARK_GRAFT_PASSES", "2").toInt)
    // machine-state stamp (quiet-bench protocol): 1-minute system load
    // average before and after the run. A bench whose loadavg_start is
    // already >> the core count, or whose cold/warm totals disagree by
    // >25%, ran on a contended machine - re-run once and keep the min
    // (the r9 driver cold total was a 1.7x outlier by exactly this
    // signature: warm agreed with the committed run within 2%).
    // getSystemLoadAverage returns -1.0 where the platform has no load
    // average; record JSON null then, never the -1 sentinel (downstream
    // skew analysis must not ingest it as a real load)
    def loadAvg(): Option[Double] =
      Some(java.lang.management.ManagementFactory
        .getOperatingSystemMXBean.getSystemLoadAverage).filter(_ >= 0)
    // boot identity: records from different boots are NOT comparable
    // (page cache, CPU governor, and background-daemon state all reset;
    // two valid r15 records on identical code differed 20% across a
    // reboot). boot_id + uptime_sec make cross-record comparability
    // machine-checkable: same boot_id = same-boot comparison; missing
    // (non-Linux) records JSON null.
    def procLine(path: String): Option[String] =
      try Some(new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(path)), "UTF-8").trim).filter(_.nonEmpty)
      catch { case _: Throwable => None }
    val bootId = procLine("/proc/sys/kernel/random/boot_id")
    val uptimeSec = procLine("/proc/uptime")
      .flatMap(_.split("\\s+").headOption).flatMap(_.toDoubleOption)
    // quiet-retry (driver-visible): if the machine is contended at
    // start (loadavg > 2, the validity ceiling below), sleep and
    // re-sample BEFORE running rather than paying two full passes just
    // to stamp valid:false - the usual cause is the driver starting
    // bench seconds after its own verify run, and one settle window
    // self-heals it. Up to SPARK_GRAFT_QUIET_RETRIES extra samples
    // (default 1) spaced SPARK_GRAFT_QUIET_SLEEP_SEC apart (default
    // 90 s); the attempt count is stamped into the record so a
    // retried run is distinguishable from a first-sample-quiet one.
    val quietRetries = sys.env.getOrElse("SPARK_GRAFT_QUIET_RETRIES", "1").toInt
    val quietSleepS = sys.env.getOrElse("SPARK_GRAFT_QUIET_SLEEP_SEC", "90").toInt
    var attempts = 1
    var loadStart = loadAvg()
    // the FIRST load sample, stamped unconditionally: a quiet-retry
    // re-samples loadStart after sleeping, so without this the record
    // of a retried-to-valid run would show only the post-sleep value -
    // loadavg_first + attempts makes the retry fully auditable from
    // the JSON alone
    val loadFirst = loadStart
    while (attempts <= quietRetries && loadStart.exists(_ > 2.0)) {
      System.err.println(s"[bench] loadavg_start ${loadStart.get} > 2 " +
        s"(contended) - quiet-retry: sleeping ${quietSleepS}s before " +
        s"re-sampling (attempt ${attempts + 1})")
      Thread.sleep(quietSleepS * 1000L)
      loadStart = loadAvg()
      attempts += 1
    }
    // fixed pre-pass IO probe (round-14 instrumentation of the
    // driver-vs-builder cold-total gap): raw-read every parquet byte in
    // the SF dir through plain FileInputStream, timed. This measures
    // the MACHINE's disk/page-cache state at bench start - a cold page
    // cache shows up as a 10-100x slower probe than a warm one - while
    // touching no Spark code path, so JVM/codegen warmup (what
    // cold_total measures) stays comparable with earlier rounds. Side
    // effect, deliberate: the probe leaves the data files page-warm, so
    // every run's first pass starts from the same file-cache state and
    // cross-round cold_total comparisons stop depending on what the
    // driver ran just before.
    val (probeIoMb, probeIoSec) = {
      val files = Option(new java.io.File(sfDir).listFiles())
        .getOrElse(Array.empty[java.io.File])
        .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      val buf = new Array[Byte](1 << 20)
      val t0 = System.nanoTime()
      var bytes = 0L
      files.foreach { f =>
        val in = new java.io.FileInputStream(f)
        try { var r = in.read(buf); while (r >= 0) { bytes += r; r = in.read(buf) } }
        finally in.close()
      }
      (bytes / 1e6, (System.nanoTime() - t0) / 1e9)
    }
    def runPasses(firstAttempt: Boolean): Seq[Seq[(String, Double)]] =
      (1 to nPasses).map { i =>
        // what the memo built is shared within a pass only
        if (i > 1 || !firstAttempt) graft.pipeline.Memo.clear()
        pass()
      }
    def skewOf(ps: Seq[Seq[(String, Double)]]): Double = {
      val c = ps.head.map(_._2).sum
      val w = ps.last.map(_._2).sum
      if (math.min(c, w) > 0) math.abs(c - w) / math.min(c, w) else 0.0
    }
    // skew-retry (the r14 hole in the quiet gate): a run that passes
    // the loadavg gate can still burn its cold pass into a skew-invalid
    // record when contention arrives MID-run (BENCH_r14: loadavg_first
    // 2.13, final skew 0.356, valid:false). Mirror the loadavg retry:
    // on cold/warm skew > 0.25, re-run the whole pass set up to
    // SPARK_GRAFT_SKEW_RETRIES times (default 1), after the same
    // quiet-wait if the machine is loaded again. Honesty note: a
    // retried attempt's first pass runs in an already-warm JVM, so its
    // cold_total is a lukewarm lower bound on true cold - the record
    // stamps skew_attempts plus the FIRST attempt's cold total
    // (cold_total_first) so a retried record is fully auditable and
    // cross-round cold comparisons can use the honest number.
    // full-registry runs only: in a small SPARK_GRAFT_ONLY run the
    // first pass is dominated by JVM/codegen warmup, so its cold/warm
    // skew ALWAYS exceeds the gate and the retry just burns passes -
    // and filtered runs never produce the driver record the validity
    // stamp exists for
    val skewRetries =
      if (only.nonEmpty) 0
      else math.max(0, sys.env.getOrElse("SPARK_GRAFT_SKEW_RETRIES", "1").toInt)
    var allAttempts = Vector(runPasses(firstAttempt = true))
    var skewAttempts = 1
    while (skewOf(allAttempts.last) > 0.25 && skewAttempts <= skewRetries) {
      System.err.println(f"[bench] cold/warm skew ${skewOf(allAttempts.last)}%.3f" +
        " > 0.25 (mid-run contention) - skew-retry: re-running the pass set " +
        s"(attempt ${skewAttempts + 1})")
      loadAvg().filter(_ > 2.0).foreach { l =>
        System.err.println(s"[bench] loadavg $l > 2 before skew-retry - " +
          s"sleeping ${quietSleepS}s first")
        Thread.sleep(quietSleepS * 1000L)
      }
      loadStart = loadAvg() // validity reflects the attempt that counts
      allAttempts :+= runPasses(firstAttempt = false)
      skewAttempts += 1
    }
    val passes = allAttempts.last
    val coldFirstTotal = allAttempts.head.head.map(_._2).sum
    val loadEnd = loadAvg()
    // peak heap across the run (sum of per-pool peaks, MB - an UPPER
    // BOUND: pools peak at different times, so the sum can exceed the
    // true simultaneous maximum and even Xmx): the memory note for
    // scaling legs - a heap cliff shows up here before an OOM does.
    // Driver+executors share this JVM in local mode, so this bounds
    // the whole run's footprint.
    val peakHeapMb = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == java.lang.management.MemoryType.HEAP)
        .map(p => Option(p.getPeakUsage).map(_.getUsed).getOrElse(0L))
        .sum / 1e6
    }
    val cold = passes.head
    val warm = passes.last
    // per-query best = min across every pass of every attempt (a
    // disturbed pass can only lose the min, never poison it)
    val best = allAttempts.flatten.tail.foldLeft(allAttempts.head.head) { (acc, p) =>
      acc.zip(p).map { case ((k, a), (_, b)) => k -> math.min(a, b) }
    }
    // ms precision and cost-descending order: the harness keeps only the
    // TAIL of stdout, so the compact line puts expensive queries first -
    // truncation can only ever drop sub-ms noise. The complete record is
    // also written to BENCH_LATEST.json for whole-file consumers.
    def ms(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    val qs = best.sortBy(-_._2).map { case (k, v) => "\"" + k + "\":" + ms(v) }
      .mkString("{", ",", "}")
    // r17 scaling observability (ADDITION ONLY - the headline metric and
    // `queries` are untouched): per-query WARM-pass numbers, so the
    // driver's low-core leg can compare steady-state plan cost instead
    // of the cold min-of-passes, which at sf0.1 is a JVM/planning
    // overhead floor that reads as "nothing parallelizes" (PERF_r16
    // scaling block, VERDICT r16 item 2). warm = the LAST pass of the
    // attempt that produced the headline numbers.
    val qsWarm = warm.sortBy(-_._2).map { case (k, v) => "\"" + k + "\":" + ms(v) }
      .mkString("{", ",", "}")
    val total = best.map(_._2).sum
    val coldTotal = cold.map(_._2).sum
    val warmTotal = warm.map(_._2).sum
    val skew = // fractional cold/warm disagreement; >0.25 = contended run
      if (math.min(coldTotal, warmTotal) > 0)
        math.abs(coldTotal - warmTotal) / math.min(coldTotal, warmTotal)
      else 0.0
    def msOpt(v: Option[Double]): String = v.map(ms).getOrElse("null")
    // quiet-bench validity, stamped IN the record: skew <= 0.25 catches
    // asymmetric contention (one pass disturbed), but a UNIFORMLY busy
    // machine slows cold and warm equally and sails through the skew
    // gate (the r11 driver run: loadavg_start 6.35, skew 0.119, cold
    // +58% vs the quiet record). The loadavg_start <= 2 ceiling closes
    // that hole; an unknown loadavg (platform returns -1) is honest
    // "not validated", recorded false. A query that threw also voids
    // the record: its time measures the failure, not the plan.
    val valid = skew <= 0.25 && loadStart.exists(_ <= 2.0) && failed.isEmpty
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val line =
      s"""{"metric":"total","value":${ms(total)},"unit":"sec","queries":$qs,"queries_warm":$qsWarm,"cold_total":${ms(coldTotal)},"warm_total":${ms(warmTotal)},"cold_total_first":${ms(coldFirstTotal)},"loadavg_start":${msOpt(loadStart)},"loadavg_first":${msOpt(loadFirst)},"loadavg_end":${msOpt(loadEnd)},"probe_io_mb":${ms(probeIoMb)},"probe_io_sec":${ms(probeIoSec)},"cold_warm_skew":${ms(skew)},"peak_heap_mb":${ms(peakHeapMb)},"failed":$failedJson,"valid":$valid,"attempts":$attempts,"skew_attempts":$skewAttempts,"boot_id":${bootId.map("\"" + _ + "\"").getOrElse("null")},"uptime_sec":${uptimeSec.map(u => f"$u%.0f").getOrElse("null")},"sf":"$sfDir"}"""
    if (only.isEmpty) { // a filtered run must not clobber the full record
      try {
        // cwd-relative: lands in whatever checkout ran the bench
        java.nio.file.Files.write(
          java.nio.file.Paths.get("BENCH_LATEST.json"),
          (line + "\n").getBytes("UTF-8"))
      } catch { case e: Throwable =>
        System.err.println(s"[bench] BENCH_LATEST.json write failed: ${e.getMessage}")
      }
    }
    println(line)
    spark.stop()
  }
}
