package flowbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import graft.pipeline.OrthologPipeline

/** One recorded span: times in seconds since the flow started. */
final case class Span(id: Int, name: String, parent: Int, run: Long,
                      start: Double, end: Double)

/** In-memory span recorder. While a span is open its id is the thread's
  * Spark job group, so [[Counters]] can attribute every job to the
  * innermost span that submitted it. Disabled, it only runs the body. */
final class Tracer(val enabled: Boolean, sc: SparkContext, run: Long) {
  private val t0 = System.nanoTime()
  private val stack = mutable.Stack[Int]()
  private var nextId = 1
  val spans = mutable.ArrayBuffer.empty[Span]

  private def now: Double = (System.nanoTime() - t0) / 1e9

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(0)
      stack.push(id)
      sc.setJobGroup(Tracer.group(id), name)
      val start = now
      try body
      finally {
        spans += Span(id, name, parent, run, start, now)
        stack.pop()
        if (stack.isEmpty) sc.clearJobGroup()
        else sc.setJobGroup(Tracer.group(stack.head), name)
      }
    }
}

object Tracer {
  def group(spanId: Int): String = s"flowbench-span-$spanId"
}

/** The phase store `Cli` passes, with every phase call recorded as a
  * `phase.<phase>` span. */
final class TimedPhases(inner: OrthologPipeline.PhaseStore, tracer: Tracer)
    extends OrthologPipeline.PhaseStore {
  def apply(name: String, keys: Seq[String], df: DataFrame): DataFrame =
    tracer.span(s"phase.$name")(inner(name, keys, df))
}

/** Task-level totals, per job group ("" = untagged) and overall. */
final class TaskTotals {
  var jobs = 0L; var stages = 0L; var tasks = 0L; var failedTasks = 0L
  var cpuNs = 0L; var runMs = 0L; var gcMs = 0L
  var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L

  def toMap: Map[String, Double] = Map(
    "jobs" -> jobs.toDouble, "stages" -> stages.toDouble,
    "tasks" -> tasks.toDouble, "failed_tasks" -> failedTasks.toDouble,
    "task_cpu_s" -> cpuNs / 1e9, "executor_run_s" -> runMs / 1e3,
    "gc_s" -> gcMs / 1e3,
    "shuffle_write_mb" -> shuffleWrite / 1048576.0,
    "shuffle_read_mb" -> shuffleRead / 1048576.0,
    "spill_mb" -> spill / 1048576.0)
}

/** Listener-side counters for one flow: task metrics per job group,
  * job intervals (for the time with no job running) and planning time
  * from the query-execution tracker. */
final class Counters extends SparkListener with QueryExecutionListener {
  private val stageGroup = mutable.Map.empty[Int, String]
  val total = new TaskTotals
  val byGroup = mutable.Map.empty[String, TaskTotals]
  val jobIntervals = mutable.Map.empty[Int, (Long, Long)]
  var planningMs = 0L

  private def totalsFor(group: String): Seq[TaskTotals] =
    Seq(total, byGroup.getOrElseUpdate(group, new TaskTotals))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    e.stageIds.foreach(stageGroup(_) = g)
    jobIntervals(e.jobId) = (e.time, Long.MaxValue)
    totalsFor(g).foreach(_.jobs += 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobIntervals.get(e.jobId).foreach { case (s, _) => jobIntervals(e.jobId) = (s, e.time) }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    totalsFor(stageGroup.getOrElse(e.stageInfo.stageId, "")).foreach(_.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    totalsFor(stageGroup.getOrElse(e.stageId, "")).foreach { t =>
      t.tasks += 1
      if (!e.taskInfo.successful) t.failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        t.cpuNs += m.executorCpuTime
        t.runMs += m.executorRunTime
        t.gcMs += m.jvmGCTime
        t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        t.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  private def planning(qe: QueryExecution): Unit = synchronized {
    planningMs += qe.tracker.phases.values.map(_.durationMs).sum
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    planning(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    planning(qe)

  /** Wall milliseconds inside [fromMs, toMs] covered by no job. */
  def gapMs(fromMs: Long, toMs: Long): Long = synchronized {
    Counters.uncovered(fromMs, toMs, jobIntervals.values.toSeq)
  }
}

object Counters {
  /** Length of [from, to] not covered by any of `intervals` (an open
    * interval ends at Long.MaxValue and is clipped to `to`). */
  def uncovered(from: Long, to: Long, intervals: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var reach = from
    intervals.map { case (s, e) => (math.max(s, from), math.min(e, to)) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (e > reach) { covered += e - math.max(s, reach); reach = e }
      }
    (to - from) - covered
  }

  def attach(spark: SparkSession): Counters = {
    val c = new Counters
    spark.sparkContext.addSparkListener(c)
    spark.listenerManager.register(c)
    c
  }

  def detach(spark: SparkSession, c: Counters): Unit = {
    org.apache.spark.FlowbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(c)
    spark.listenerManager.unregister(c)
  }
}
