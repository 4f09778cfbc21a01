package graft.pipeline

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.SparkSession
import graft.Scope

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
  * Ownership: the memo owns what its builds made persistent (the
  * minhash-pairs localCheckpoint, cache entries the flagship run left),
  * so a [[graft.Scope]] leaves it alone and the memoized plans, rooted at
  * those RDDs, stay runnable across queries. [[clear]] drops the slot and
  * then releases them. Prefix-sum pins are the exception: a pin belongs
  * to the innermost open pin scope (ShardedPrefixSum.scoped), so one a
  * build made goes when that scope exits - at the latest, at the end of
  * the query's [[graft.Scope]]. A previous session's
  * RDDs dropped with its slot are not unpersisted here; they go when
  * that session stops or the context cleaner reaches them.
  */
object Memo {
  private final class Slot(val session: java.lang.ref.WeakReference[SparkSession]) {
    val values = TrieMap.empty[String, Any]
    var owned: Scope.Held = Scope.Held.empty
  }
  private var slot: Slot = null

  def once[T](spark: SparkSession, key: String)(build: => T): T = synchronized {
    if (slot == null || !(slot.session.get eq spark))
      slot = new Slot(new java.lang.ref.WeakReference(spark))
    val s = slot
    s.values.getOrElse(key, {
      val before = Scope.held(spark)
      val v = build
      s.owned = s.owned ++ (Scope.held(spark) -- before)
      s.values.put(key, v)
      v
    }).asInstanceOf[T]
  }

  /** What the current memo of `spark` owns. */
  private[graft] def owned(spark: SparkSession): Scope.Held = synchronized {
    if (slot != null && (slot.session.get eq spark)) slot.owned
    else Scope.Held.empty
  }

  /** Drops every memoized result, then releases what their builds made
    * persistent. */
  def clear(): Unit = {
    val old = synchronized { val s = slot; slot = null; s }
    if (old != null) Option(old.session.get)
      .filterNot(_.sparkContext.isStopped)
      .foreach(Scope.release(_, old.owned))
  }
}
