package graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.CachedData
import graft.operators.ShardedPrefixSum
import graft.registry.{Q, Registry}

/** The lifecycle of one registry query, in one place.
  *
  * [[Scope.apply]] runs one query, from building its plan to its sink
  * write, and on exit releases everything the query left in the session:
  *   - prefix-sum pins: the query runs inside a
  *     [[ShardedPrefixSum.scoped]] call, which owns every pin made on
  *     this thread outside a pipeline's own scope;
  *   - Dataset cache entries and RDDs that became persistent during the
  *     query (operator persists, localCheckpoints), unpersisted with
  *     `blocking = true`;
  *   - temp views it created (the streaming queries' memory sinks).
  *
  * What a memo build made persistent goes too: a memoized value is
  * driver data, a path or a frame rooted at files, so it needs none of
  * it. So a query's cost depends on its own plan and on the memoized
  * values, never on what its neighbours left behind.
  *
  * [[Scope.registry]] is the one loop over the registry that Bench, Verify
  * and Smoke share. A scope attributes to its query everything that
  * became persistent while it ran, so run one query at a time per
  * session.
  */
object Scope {

  /** What a session holds that a query can leave behind: persistent RDDs
    * by id, Dataset cache entries, temp view names. */
  private[graft] final case class Held(rdds: Map[Int, RDD[_]],
                                       entries: Seq[CachedData],
                                       views: Set[String]) {
    // cache entries compare by identity: two entries never share a plan
    def --(o: Held): Held = Held(rdds -- o.rdds.keys,
      entries.filterNot(e => o.entries.exists(_ eq e)), views -- o.views)
    def size: Int = rdds.size + entries.size + views.size
    /** The prefix-sum pins among the cache entries: the plans that output
      * [[ShardedPrefixSum.cumBefore]]'s shard column. */
    def pins: Seq[CachedData] =
      entries.filter(_.plan.output.exists(_.name == "__pfx_shard"))
  }

  private[graft] object Held {
    val empty: Held = Held(Map.empty, Seq.empty, Set.empty)
  }

  private def classic(spark: SparkSession) =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]

  // Spark has no public listing of the Dataset cache, only lookups by plan
  private val cachedData = {
    val f = classOf[org.apache.spark.sql.execution.CacheManager]
      .getDeclaredField("cachedData")
    f.setAccessible(true)
    f
  }

  private[graft] def held(spark: SparkSession): Held = {
    val s = classic(spark)
    Held(s.sparkContext.getPersistentRDDs.toMap,
      cachedData.get(s.sharedState.cacheManager).asInstanceOf[Seq[CachedData]],
      s.sessionState.catalog.getTempViewNames().toSet)
  }

  /** Drops `h`'s temp views, uncaches its cache entries and unpersists its
    * RDDs, each blocking until the blocks are gone. The views go through
    * the session catalog: `Catalog.dropTempView` would also uncache the
    * view's plan, which may be a frame the caller persisted. */
  private[graft] def release(spark: SparkSession, h: Held): Unit = {
    val s = classic(spark)
    h.views.foreach(s.sessionState.catalog.dropTempView)
    h.entries.foreach(e => s.sharedState.cacheManager.uncacheQuery(
      s, e.plan, cascade = false, blocking = true))
    h.rdds.values.foreach(_.unpersist(blocking = true))
  }

  /** Runs `body`, then releases what it left behind. */
  def apply[T](spark: SparkSession)(body: => T): T = {
    val before = held(spark)
    var left = Held.empty
    try ShardedPrefixSum.scoped {
      // taken while the pins are still cached, so that the release
      // below blocks on their blocks too
      try body finally left = held(spark) -- before
    } finally release(spark, left)
  }

  /** One query's run: seconds from building its plan to the end of its
    * sink write (the release is not counted), and whether it threw. */
  final case class Run(name: String, seconds: Double, failed: Boolean)

  /** Runs the `only` selection of `queries` in name order, each through
    * [[apply]] and then `sink`. A query that throws is passed to
    * `onFailure`, marked failed, and the loop goes on. */
  def registry(spark: SparkSession, sfDir: String,
               only: Option[Set[String]], queries: Seq[Q] = Registry.all)(
      onFailure: (String, Throwable) => Unit)(
      sink: (String, DataFrame) => Unit): Seq[Run] =
    queries.filter(q => only.forall(_.contains(q.name))).sortBy(_.name).map { q =>
      Scope(spark) {
        val t0 = System.nanoTime()
        val failed =
          try { sink(q.name, q.plan(spark, sfDir)); false }
          catch { case e: Throwable => onFailure(q.name, e); true }
        Run(q.name, (System.nanoTime() - t0) / 1e9, failed)
      }
    }
}
