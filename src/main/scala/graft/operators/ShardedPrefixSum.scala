package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import scala.collection.mutable.ArrayBuffer

/** Distributed exact running sums: the TWO-LEVEL shard prefix sum used
  * by sequence packing ([[graft.llm.Packing]]), token-budget splits
  * ([[graft.llm.Splitting]]), surrogate keys ([[Keys]]) and the
  * distributed column profile ([[Profile.summarizeDistributed]]).
  *
  * A naive `sum(x) OVER (PARTITION BY stratum ORDER BY ord)`
  * materializes each stratum in one WindowExec task - a hot stratum
  * ("web" = most of a 100 TB corpus, or one column's whole value
  * domain) serializes through a single reducer. Instead:
  * range-partition on (stratum, ord) into `numShards` contiguous
  * slices, cumsum within each (stratum, shard) slice in parallel,
  * aggregate the tiny per-(stratum, shard) totals (~numShards rows),
  * prefix-sum THOSE on the driver-sized frame, and broadcast the
  * exclusive shard offsets back. Because the shards are contiguous
  * ranges of the (stratum, ord) order, within-shard-cumsum + shard
  * offset equals the global ordered cumsum exactly - the result is
  * invariant to where the range boundaries fall, so AQE coalescing and
  * sampling-determined splits cannot change it. Integer-only
  * arithmetic, bit-stable across engines and re-runs.
  *
  * Each call pins (persists) its range-partitioned input so that both
  * of its consumers read one sampled partitioner. One rule says who
  * releases a pin: the innermost [[scoped]] call open on the making
  * thread, when it exits; with no scope open, the caller.
  */
object ShardedPrefixSum {

  /** The pins of each [[scoped]] call open on this thread, innermost
    * first. */
  private val open = new ThreadLocal[List[ArrayBuffer[DataFrame]]] {
    override def initialValue(): List[ArrayBuffer[DataFrame]] = Nil
  }

  /** Pins released before anything executed through them (cumulative,
    * JVM-wide). A nonzero delta across a scope means some plan composed
    * against a pinned single-partitioner exchange will compile WITHOUT
    * the pin - the r13 nondeterminism reopened by lifecycle. Specs
    * assert this stays flat across the pipeline flows; callers keep it
    * flat by consuming what they compose (a phase write, a sink write)
    * inside the scope that owns its pins. */
  private val unmatReleases = new java.util.concurrent.atomic.AtomicInteger(0)
  def unmaterializedReleases: Int = unmatReleases.get

  /** Runs `body`; every pin [[cumBefore]] makes while this is the
    * innermost scope open on the current thread belongs to it and is
    * unpersisted (non-blocking) when it exits, never earlier. The
    * contract callers uphold: everything compiled against those pins is
    * EXECUTED inside the scope (the pipeline runs write each key product
    * at a phase boundary, a registry query writes its sink), so by exit
    * the pin has done its single-partitioner job. A pin released
    * unmaterialized counts in [[unmaterializedReleases]] and warns.
    * Scopes nest; an outer scope never releases an inner one's pins. */
  def scoped[T](body: => T): T = {
    val outer = open.get
    val mine = ArrayBuffer.empty[DataFrame]
    open.set(mine :: outer)
    try body
    finally {
      open.set(outer)
      // checked before any release: two pins of one plan share an entry
      val unused = mine.count(p => !sessionStopped(p) && !materialized(p))
      if (unused > 0) {
        unmatReleases.addAndGet(unused)
        System.err.println(s"[graft.pfx] WARN: $unused prefix-sum pin(s) " +
          "released before their product was ever materialized - " +
          "downstream plans compiled from here lose the " +
          "single-partitioner guarantee (consume the product before the " +
          "scope exits)")
      }
      // a stopped session (test suites) has nothing left to release
      mine.foreach(p => try p.unpersist(blocking = false) catch { case _: Throwable => () })
    }
  }

  /** Whether the pinned frame's cached column buffers were ever built,
    * i.e. some consumer executed through the pin. Reads the session
    * CacheManager's loaded flag; a missing entry (already uncached,
    * stopped session) reports false. */
  private def materialized(df: DataFrame): Boolean =
    try {
      val session = df.sparkSession
        .asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      session.sharedState.cacheManager
        .lookupCachedData(session, df.queryExecution.analyzed)
        .exists(_.cachedRepresentation.cacheBuilder.isCachedColumnBuffersLoaded)
    } catch { case _: Throwable => false }

  private def sessionStopped(df: DataFrame): Boolean =
    try df.sparkSession.sparkContext.isStopped catch { case _: Throwable => true }

  /** Adds `outCol` = sum of `tokenCol` over rows of the same stratum
    * that precede this row in `orderCol` order (exclusive running
    * offset). Ties on (stratum, order) never split across shards
    * (RangePartitioner is a function of the key), so the result is
    * well-defined per (stratum, order) group even when individual rows
    * within a tie are otherwise unordered.
    * `numShards <= 0` defaults to spark.sql.shuffle.partitions.
    *
    * The input frame is MATERIALIZED ONCE (persist - see the
    * correctness note in the body): pass a narrow projection
    * (id, stratum, token, order), not the full corpus row - every
    * column in `df` is cached for the duration of the query.
    *
    * Pin lifecycle: with a [[scoped]] call open on this thread, the
    * persisted frame belongs to the innermost one and is unpersisted
    * when it exits - consume the product inside that scope. With none
    * open it is an ordinary persist the caller owns (the single-sampled
    * partitioner then holds for as long as the caller keeps it). */
  def cumBefore(df: DataFrame, tokenCol: String,
                strataCol: String, orderCol: String,
                numShards: Int, outCol: String): DataFrame =
    cumBefore(df, tokenCol, strataCol, Seq(orderCol), numShards, outCol)

  /** Composite-order variant: the running order is the lexicographic
    * (orderCols...) ascending order within each stratum - same
    * two-level topology, with the range partition and both window
    * passes keyed on the full column list. Use a negated column for a
    * descending component (keeps the single code path). */
  def cumBefore(df: DataFrame, tokenCol: String,
                strataCol: String, orderCols: Seq[String],
                numShards: Int, outCol: String): DataFrame = {
    require(orderCols.nonEmpty, "cumBefore needs at least one order column")
    val shards =
      if (numShards > 0) numShards
      else df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    // Contiguous-range sharding: spark_partition_id() after a range
    // repartition on (stratum, ord) is monotone in that order, so each
    // (stratum, shard) cell is a contiguous slice of the stratum's
    // stream.
    //
    // The persist is CORRECTNESS, not caching: `ranged` feeds two
    // consumers (the within-shard window and the shard-totals
    // aggregate), and a logical plan is a TREE - the ranged subtree
    // appears twice, so without intervention each consumer compiles
    // its own physical range exchange. RangePartitioner samples its
    // boundaries with an RDD-id-derived seed, so two independent
    // materializations can draw DIFFERENT boundaries - the same row
    // then reads a different spark_partition_id() in each branch and
    // the offset join adds the wrong shard totals. Exchange reuse
    // usually hides this, but it is an optimization, never a
    // guarantee: measured at sf0.1 with 4 shards (sparse boundary
    // sample), the per-stratum budget query drifted 231..266 rows
    // across 15 identical runs, and pinned to the exact 261 once one
    // materialization was shared.
    //
    // persist routes both logical references through the cache
    // manager to ONE InMemoryRelation instance, whose single physical
    // exchange holds a single lazily-created ShuffleDependency - ONE
    // sampled partitioner, shared by construction. Unlike a
    // localCheckpoint pin (which truncates lineage, so an executor
    // loss or dynamic-allocation decommission after materialization
    // kills the job), lost cache blocks here recompute through the
    // SAME dependency and partitioner - cluster-safe. Lifecycle: see
    // the public docstring.
    val ranged = df
      .repartitionByRange(shards, (strataCol +: orderCols).map(col): _*)
      .withColumn("__pfx_shard", spark_partition_id())
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    open.get.headOption.foreach(_ += ranged)
    val wIn = Window
      .partitionBy(col(strataCol), col("__pfx_shard"))
      .orderBy(orderCols.map(col): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val within = sum(col(tokenCol)).over(wIn) - col(tokenCol)
    // Per-(stratum, shard) totals: at most `shards` + |strata| rows -
    // driver-sized regardless of input size.
    val totals = ranged
      .groupBy(col(strataCol).as("__pfx_strata"),
        col("__pfx_shard").as("__pfx_shard_t"))
      .agg(sum(col(tokenCol)).as("__pfx_tot"))
    val wOff = Window
      .partitionBy(col("__pfx_strata"))
      .orderBy(col("__pfx_shard_t"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = totals
      .withColumn("__pfx_off",
        coalesce(sum(col("__pfx_tot")).over(wOff), lit(0L)))
      .drop("__pfx_tot")
    ranged
      .join(broadcast(offsets),
        col(strataCol) <=> col("__pfx_strata") &&
          col("__pfx_shard") === col("__pfx_shard_t"),
        "left")
      .withColumn(outCol, within + col("__pfx_off"))
      .drop("__pfx_strata", "__pfx_shard_t", "__pfx_off",
        "__pfx_shard")
  }
}
