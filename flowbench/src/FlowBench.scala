package flowbench

import java.io.File
import java.lang.management.ManagementFactory
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.pipeline.OrthologPipeline

/** Benchmark JVM: stages the seeded inputs, builds the flow's input
  * frames (the timed set-up), runs the workload's flow once, checks its
  * outputs and writes everything it measured to one JSON file (see
  * flowbench/run.py, which compares the outputs with the goldens and
  * prints the result).
  *
  * {{{
  * FlowBench --workload ortholog_sf01|corpus_x4 --seed N --trace 0|1
  *           --data DIR --work DIR --result FILE [--parity 0|1]
  * }}}
  */
object FlowBench {

  val SetupReps = 5

  def main(args: Array[String]): Unit = {
    val jvmS = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    val opts = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val trace = opts("trace") == "1"
    val work = opts("work")
    val parity = opts.get("parity").contains("1")
    require(Set("ortholog_sf01", "corpus_x4").contains(workload),
      s"unknown workload $workload")

    val t0 = System.nanoTime()
    val spark = session(work)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val in = s"$work/inputs"
    Inputs.stage(spark, opts("data"), in, workload, seed)
    val stageS = (System.nanoTime() - t0) / 1e9 - sessionS

    // set-up, repeated: graft builds the flow's input frames from the
    // staged tables, and every column of every frame is computed once
    // (the frames on a few threads, as the output checks run)
    var input: FlowInput = null
    val setupS = (1 to SetupReps).map { _ =>
      val t0 = System.nanoTime()
      input =
        if (workload == "corpus_x4") CorpusInput(spark.read.parquet(s"$in/documents.parquet"))
        else OrthologInput(spark, in)
      inParallel(input.frames.map { case (k, df) => k -> (() => contentHash(df)) })
        .foreach { case (k, h) => require(!h.startsWith("ERROR"), s"set-up of $k failed: $h") }
      (System.nanoTime() - t0) / 1e9
    }

    // one flow, the first in this JVM, as in a nightly run
    val flow = runFlow(spark, input, s"$work/flow", seed, trace)

    val parityOut = if (parity && workload == "ortholog_sf01")
      Some(cliParity(spark, in, s"$work/parity")) else None
    spark.stop()

    Json.write(new File(opts("result")), Map(
      "workload" -> workload, "seed" -> seed, "trace" -> trace,
      "jvm_s" -> jvmS, "session_s" -> sessionS, "stage_s" -> stageS, "setup_s" -> setupS, "flow" -> flow,
      "parity" -> parityOut.orNull))
  }

  /** The session `Cli.main` builds, on every core of the machine, with
    * Spark's scratch space inside the benchmark's work dir. */
  def session(work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${Runtime.getRuntime.availableProcessors()}]")
      .appName("graft-cli")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def runFlow(spark: SparkSession, input: FlowInput, out: String, run: Long,
              trace: Boolean): Map[String, Any] = {
    val counters = if (trace) Some(Counters.attach(spark)) else None
    val tracer = new Tracer(trace, spark.sparkContext, run)
    val f = new FlowRun(spark, out, tracer)
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    input match {
      case o: OrthologInput =>
        val phases: OrthologPipeline.PhaseStore =
          if (trace) new TimedPhases(OrthologPipeline.InProcessPhases, tracer)
          else OrthologPipeline.InProcessPhases
        OrthologFlow.run(f, o, phases)
      case c: CorpusInput => CorpusFlow.run(f, c)
    }
    val flowS = (System.nanoTime() - t0) / 1e9
    val endMs = System.currentTimeMillis()
    counters.foreach(Counters.detach(spark, _))

    val sc = spark.sparkContext
    val persisted = sc.getPersistentRDDs.size
    val storageMb = sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum / 1048576.0
    val heapMb = retainedHeapMb(sc)

    // output checks, outside the timed flow
    val c0 = System.nanoTime()
    val checks = inParallel(f.written.toSeq.map { case (k, p) =>
      s"hash:$k" -> (() => contentHash(spark.read.parquet(p)))
    } ++ f.audits.toSeq.map { case (k, v) => s"audit:$k" -> v })
    def checked(kind: String): Map[String, String] = checks.collect {
      case (k, v) if k.startsWith(kind) => k.stripPrefix(kind) -> v
    }
    val stateMb = f.written.values.map(p => dirBytes(new File(p))).sum / 1048576.0
    val checkS = (System.nanoTime() - c0) / 1e9

    Map(
      "steps" -> f.steps.map(s => Map("name" -> s.name, "ok" -> s.ok,
        "seconds" -> s.seconds, "error" -> s.error)).toSeq,
      "flow_s" -> flowS,
      "check_s" -> checkS,
      "retained_heap_mb" -> heapMb,
      "persisted_rdds" -> persisted,
      "storage_mb" -> storageMb,
      "state_mb" -> stateMb,
      "hashes" -> checked("hash:"),
      "audits" -> checked("audit:"),
      "spans" -> tracer.spans.map(s => Map("id" -> s.id, "name" -> s.name,
        "parent" -> s.parent, "run" -> s.run, "start" -> s.start,
        "end" -> s.end)).toSeq,
      "spark" -> counters.map { c =>
        c.total.toMap ++ Map(
          "planning_s" -> c.planningMs / 1e3,
          "driver_gap_s" -> c.gapMs(startMs, endMs) / 1e3,
          "cores" -> sc.defaultParallelism.toDouble)
      }.orNull,
      "span_spark" -> counters.map(_.byGroup.toMap.map { case (g, t) => g -> t.toMap }).orNull)
  }

  /** Evaluates the named checks on a few threads (their Spark jobs are
    * small and mostly query planning); a check that throws yields
    * its error text, which no golden matches. */
  def inParallel(checks: Seq[(String, () => Any)]): Map[String, String] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val futures = checks.map { case (k, v) =>
        k -> pool.submit(new java.util.concurrent.Callable[String] {
          def call(): String =
            try v().toString catch { case e: Throwable => s"ERROR ${e.getMessage}" }
        })
      }
      futures.map { case (k, fut) => k -> fut.get() }.toMap
    } finally pool.shutdown()
  }

  /** Order-independent content hash of a frame: row count plus the sum
    * of per-row xxhash64 over the columns in name order. */
  def contentHash(df: DataFrame): String = {
    val cols = df.columns.sorted.map(col)
    val r = df.agg(count(lit(1)), sum(xxhash64(cols: _*).cast("decimal(38,0)")))
      .head()
    s"${r.getLong(0)}:${Option(r.get(1)).getOrElse(0)}"
  }

  /** Used heap after full collections, once every listener event of the
    * flow has been delivered: collections repeat (up to 8) until the used
    * heap stops shrinking, so blocks the context cleaner frees after one
    * collection are gone by the next. */
  def retainedHeapMb(sc: org.apache.spark.SparkContext): Double = {
    org.apache.spark.FlowbenchBus.drain(sc)
    def used(): Double = {
      System.gc()
      Thread.sleep(100)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }
    var prev = Double.MaxValue
    var cur = used()
    var i = 1
    while (i < 8 && prev - cur > 1.0) { prev = cur; cur = used(); i += 1 }
    cur
  }

  private def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(dirBytes).sum
    else f.length()

  /** Product parity: `Cli.run` with the flags each composed step mirrors,
    * on the same staged inputs. Returns table -> (Cli hash, harness hash)
    * for the tables both write; the harness side of the load and AGR
    * comes from the same composition the flow times, and the fix is
    * applied here to the fixture state, as `Cli --fixXRefDataSet` does. */
  def cliParity(spark: SparkSession, in: String, out: String): Map[String, Any] = {
    def cli(args: String*): Int = graft.tools.Cli.run(
      (args ++ Seq("--sfDir", in)).toArray, spark)
    val codes = Seq(
      cli("--species", "rat", "--out", s"$out/cli"),
      cli("--agrOrthologs", "--out", s"$out/cli"),
      cli("--species", "rat", "--fixXRefDataSet", "--out", s"$out/cli_fix"))
    val f = new FlowRun(spark, s"$out/harness", new Tracer(false, spark.sparkContext, 0))
    val input = OrthologInput(spark, in)
    val st = input.state
    f.step("load")(OrthologFlow.speciesLoad(f, "load", st, input.relations,
      OrthologPipeline.InProcessPhases))
    f.step("agr")(OrthologFlow.agrLoad(f, "agr", st, input.allianceLines,
      OrthologPipeline.InProcessPhases))
    f.step("fix")(OrthologFlow.fixXrefDataSet(f, "fix", st.orthologs, st.associations))
    val pairs = Seq(
      "load.orthologs" -> s"$out/cli/rat/orthologs",
      "load.associations" -> s"$out/cli/rat/associations",
      "agr.agr_orthologs" -> s"$out/cli/agr_orthologs",
      "fix.orthologs" -> s"$out/cli_fix/orthologs",
      "fix.associations" -> s"$out/cli_fix/associations")
    def hash(p: String): String =
      try contentHash(spark.read.parquet(p)) catch { case e: Throwable => s"ERROR ${e.getMessage}" }
    Map("cli_exit_codes" -> codes,
      "steps_ok" -> f.steps.forall(_.ok),
      "tables" -> pairs.map { case (k, cliPath) =>
        k -> Seq(hash(cliPath), f.written.get(k).map(hash).getOrElse("missing"))
      }.toMap)
  }
}

/** Minimal JSON writer for the result file. */
object Json {
  def write(f: File, v: Any): Unit = {
    val w = new java.io.PrintWriter(f, "UTF-8")
    try w.write(enc(v)) finally w.close()
  }

  def enc(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => s"${quote(k.toString)}:${enc(x)}" }
      .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(enc).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
