package graft.pipeline

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.SparkSession

/** Session-scoped memo for flagship pipeline results.
  *
  * The registry exposes both a full flagship result (q_pipeline_e2e,
  * q_agr_e2e) and derived projections of the same run (q_pipeline_counts,
  * q_agr_counts). In production the run's phase outputs are parquet state
  * tables that every downstream report reads; computing the pipeline once
  * per session and deriving the projections from the materialized result
  * is the same topology in-process. Without this, each registered query
  * re-executes the whole multi-phase run.
  *
  * Lifetime: ONE slot, holding the memo of the most recently used
  * session behind a WeakReference. A WeakHashMap keyed by session would
  * leak here - the cached values are DataFrames whose QueryExecution
  * strongly references their session, and a WeakHashMap entry whose
  * VALUE reaches its KEY is never collected - so sequential sessions in
  * one JVM would each pin their full memoized plans forever. With the
  * single slot, a new session's first call drops the previous session's
  * entries; at most one (possibly dead) session's memo is ever
  * retained. Two live sessions alternating would thrash the memo -
  * acceptable: every harness runs one session.
  *
  * The rule for a memoized value: it is driver data, a path, or a frame
  * rooted at files (a phase-store table, a scratch parquet). It never
  * needs a persisted RDD or cache entry, so whatever a build made
  * persistent is released with the query that ran the build, like any
  * other operator persist, and the value stays runnable after that.
  */
object Memo {
  private final class Slot(val session: java.lang.ref.WeakReference[SparkSession]) {
    val values = TrieMap.empty[String, Any]
  }
  private var slot: Slot = null

  def once[T](spark: SparkSession, key: String)(build: => T): T = synchronized {
    if (slot == null || !(slot.session.get eq spark))
      slot = new Slot(new java.lang.ref.WeakReference(spark))
    slot.values.getOrElseUpdate(key, build).asInstanceOf[T]
  }

  /** Drops every memoized result. */
  def clear(): Unit = synchronized { slot = null }
}
