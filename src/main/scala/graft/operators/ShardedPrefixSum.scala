package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed exact running sums: the TWO-LEVEL shard prefix sum used
  * by sequence packing ([[graft.llm.Packing]]) and the distributed
  * column profile ([[Profile.summarizeDistributed]]).
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
  */
object ShardedPrefixSum {

  /** Cap on live cap-counted pins. */
  private val MaxPinned = 8

  /** Live pinned materializations, oldest first. Every [[cumBefore]]
    * call persists its ranged frame (the correctness pin - see the
    * body comment) and registers it here; the registry caps live
    * CAP-COUNTED pins at [[MaxPinned]] by
    * unpersisting the oldest, so a long-lived session issuing many
    * distinct packing/profile queries holds O(1) pinned entries
    * instead of leaking one session-lifetime cache entry per call.
    *
    * CAP-EXEMPT pins (capExemptPin = true) are never FIFO-evicted:
    * a pin evicted BEFORE a downstream plan is compiled removes the
    * CacheManager entry, so that later compilation plans the ranged
    * subtree twice and loses the single-sampled-partitioner guarantee
    * - the r13 bug reopened by lifecycle. Callers that hand their
    * product to third parties for ARBITRARILY LATE compilation
    * (Keys.assignSequential inside a lazily-consumed pipeline Result)
    * register exempt. Exempt pins are released by
    *  - [[withExemptScope]] - the pipeline runs wrap each unit of work
    *    that CONSUMES its key products in-scope (a phase-boundary
    *    write), so sequential runs hold O(1) live pins;
    *  - [[releaseAll]] (every [[graft.Scope]] exit) or session stop
    *    (registerPin cleanup).
    * Releasing an exempt pin whose product was never materialized
    * re-opens the dual-range-exchange nondeterminism for plans compiled
    * later; every release path checks the CacheManager's loaded flag
    * and counts + warns on such drops ([[unmaterializedReleases]]) so
    * a release between plan composition and consumption is a loud,
    * machine-visible event instead of a prose caveat. */
  private final class Pin(val df: DataFrame, val owner: Thread)
  private val pins = new java.util.ArrayDeque[Pin]()
  private val exemptPins = new java.util.ArrayDeque[Pin]()

  /** Number of currently registered pins, cap-counted + exempt
    * (introspection for specs and cache-pressure monitoring). */
  def pinnedCount: Int = pins.synchronized { pins.size + exemptPins.size }

  /** Exempt pins released before their product was ever materialized
    * (cumulative, JVM-wide). A nonzero delta across a release means some
    * plan composed against a pinned single-partitioner exchange will
    * compile WITHOUT the pin - the r13 nondeterminism reopened by
    * lifecycle. Specs assert this stays flat across the pipeline
    * flows; operators keep it flat by consuming key products (a phase
    * write) inside the scope that releases them. */
  private val unmatReleases = new java.util.concurrent.atomic.AtomicInteger(0)
  def unmaterializedReleases: Int = unmatReleases.get

  /** Unpersist and drop every registered pin, exempt ones included.
    * [[graft.Scope]] calls it when a registry query ends. Safe for
    * EXECUTED products (cached blocks recompute through their
    * already-bound shuffle dependency); plans first COMPILED after a
    * release re-plan the exchange per consumer - see the exempt-pin
    * note above. */
  def releaseAll(): Unit = pins.synchronized {
    while (!pins.isEmpty) safeUnpersist(pins.pollFirst().df)
    while (!exemptPins.isEmpty) releaseExempt(exemptPins.pollFirst())
  }

  /** Run `body`; afterwards release every CAP-EXEMPT pin the CURRENT
    * thread registered during it. The contract callers must uphold:
    * everything compiled against those pins is EXECUTED inside the
    * scope (the pipeline runs materialize each key product at a phase
    * boundary before returning), so by scope exit the pin has done its
    * single-partitioner job and the cache entry can go. A pin released
    * here that was never materialized trips the
    * [[unmaterializedReleases]] counter + stderr warning - the signal
    * that a composed-but-unconsumed key product just lost its
    * guarantee. Thread-scoped on purpose: concurrent sessions (or a
    * streaming query thread) cannot have their pins swept by another
    * thread's scope. Nests safely - an inner scope releases only its
    * own additions. */
  def withExemptScope[T](body: => T): T = {
    val me = Thread.currentThread()
    val before = pins.synchronized {
      val s = java.util.Collections.newSetFromMap(
        new java.util.IdentityHashMap[Pin, java.lang.Boolean]())
      exemptPins.forEach { p => if (p.owner eq me) { s.add(p); () } }
      s
    }
    try body
    finally pins.synchronized {
      exemptPins.removeIf { p =>
        val mine = (p.owner eq me) && !before.contains(p)
        if (mine) releaseExempt(p)
        mine
      }
    }
  }

  private def releaseExempt(p: Pin): Unit = {
    if (!sessionStopped(p.df) && !materialized(p.df)) {
      unmatReleases.incrementAndGet()
      System.err.println("[graft.pfx] WARN: cap-exempt pin released " +
        "before its key product was ever materialized - downstream " +
        "plans compiled from here lose the single-partitioner " +
        "guarantee (consume the product before the scope exit)")
    }
    safeUnpersist(p.df)
  }

  /** Whether the pinned frame's cached column buffers were ever built,
    * i.e. some consumer executed through the pin. Reads the session
    * CacheManager's loaded flag; a missing entry (already unpersisted,
    * stopped session) reports false. */
  private def materialized(df: DataFrame): Boolean =
    try {
      val session = df.sparkSession
        .asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      session.sharedState.cacheManager
        .lookupCachedData(session, df.queryExecution.analyzed)
        .exists(_.cachedRepresentation.cacheBuilder.isCachedColumnBuffersLoaded)
    } catch { case _: Throwable => false }

  private def safeUnpersist(df: DataFrame): Unit =
    // the frame may belong to a stopped session (test suites) or have
    // been released already - double-release is a no-op
    try df.unpersist(blocking = false) catch { case _: Throwable => () }

  private def sessionStopped(df: DataFrame): Boolean =
    try df.sparkSession.sparkContext.isStopped catch { case _: Throwable => true }

  private def registerPin(df: DataFrame, capExempt: Boolean): Unit = {
    pins.synchronized {
      // drop pins stranded by stopped sessions (sequential test
      // suites): they hold the dead session's plans and state
      // reachable from this JVM-global registry otherwise
      pins.removeIf(p => { val s = sessionStopped(p.df); if (s) safeUnpersist(p.df); s })
      exemptPins.removeIf(p => { val s = sessionStopped(p.df); if (s) safeUnpersist(p.df); s })
      val pin = new Pin(df, Thread.currentThread())
      if (capExempt) exemptPins.addLast(pin)
      else {
        pins.addLast(pin)
        while (pins.size > MaxPinned) safeUnpersist(pins.pollFirst().df)
      }
    }
  }

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
    * Pin lifecycle: the persisted frame is registered in a bounded
    * FIFO ([[pinnedCount]], cap [[MaxPinned]]); the
    * 9th subsequent call unpersists this one. The single-partitioner
    * guarantee covers every execution COMPILED while the pin is live -
    * an evicted pin's cached blocks recompute through the same already
    * -sampled ShuffleDependency, so running plans stay exact - but a
    * FRESH compilation of a product older than `MaxPinned` later calls
    * would re-plan the exchange per consumer and lose the guarantee.
    * Consume each product (as every library caller does, immediately)
    * before issuing `MaxPinned` further prefix sums. [[releaseAll]]
    * drops everything. */
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
                numShards: Int, outCol: String,
                capExemptPin: Boolean = false): DataFrame = {
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
    // SAME dependency and partitioner - cluster-safe. Lifecycle: the
    // cache entry is consumed within the building query and released
    // by the bounded pin registry (the cap-th subsequent cumBefore
    // call unpersists it - see the public docstring); a registry
    // query's scope (graft.Scope, via releaseAll) releases it when the
    // query ends, and a later recompilation re-registers it.
    val ranged = df
      .repartitionByRange(shards, (strataCol +: orderCols).map(col): _*)
      .withColumn("__pfx_shard", spark_partition_id())
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    registerPin(ranged, capExemptPin)
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
