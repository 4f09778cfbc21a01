package graft

import org.apache.spark.sql.functions._
import graft.operators.{Profile, ShardedPrefixSum}

/** Distributed-exact profile and the shared sharded prefix sum: value
  * equivalence with the single-reducer `percentile` path, and the plan
  * properties that make them the 100 TB exact path. */
class ProfileDistributedSpec extends SparkSpec {
  import spark.implicits._

  test("sharded prefix sum equals the naive global ordered cumsum, " +
    "at any shard count") {
    val rnd = new scala.util.Random(7)
    val d = (1 to 500).map { i =>
      (if (i % 3 == 0) "a" else "b", rnd.nextInt(40).toLong, rnd.nextInt(9).toLong)
    }.toDF("stratum", "ord", "x")
      // make (stratum, ord) keys repeat so tie handling is exercised
      .groupBy("stratum", "ord").agg(sum("x").as("x"))
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("stratum").orderBy("ord")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val naive = d.withColumn("cum", sum($"x").over(w) - $"x")
      .select("stratum", "ord", "cum")
      .as[(String, Long, Long)].collect().toSet
    for (shards <- Seq(1, 3, 16)) {
      val got = ShardedPrefixSum.cumBefore(d, "x", "stratum", "ord", shards, "cum")
        .select("stratum", "ord", "cum")
        .as[(String, Long, Long)].collect().toSet
      assert(got == naive, s"shards=$shards")
    }
  }

  test("composite-order cumBefore equals the naive multi-key window " +
    "cumsum on random frames, at any shard count") {
    import org.apache.spark.sql.expressions.Window
    for (seed <- Seq(3, 17, 99)) {
      val rnd = new scala.util.Random(seed)
      // duplicate (stratum, k1) pairs with distinct k2 tie-breakers so
      // the composite order genuinely matters
      val d = (1 to 400).map { i =>
        (s"s${rnd.nextInt(3)}", rnd.nextInt(12).toLong, i.toLong,
          rnd.nextInt(7).toLong)
      }.toDF("stratum", "k1", "k2", "x")
      val w = Window.partitionBy("stratum").orderBy("k1", "k2")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val naive = d.withColumn("cum", sum($"x").over(w) - $"x")
        .select("stratum", "k1", "k2", "cum")
        .as[(String, Long, Long, Long)].collect().toSet
      for (shards <- Seq(1, 5, 16)) {
        val got = ShardedPrefixSum
          .cumBefore(d, "x", "stratum", Seq("k1", "k2"), shards, "cum")
          .select("stratum", "k1", "k2", "cum")
          .as[(String, Long, Long, Long)].collect().toSet
        assert(got == naive, s"seed=$seed shards=$shards")
      }
    }
  }

  test("cumBefore's two references to the ranged frame read ONE pinned " +
    "materialization (shard boundaries cannot disagree between branches)") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
    // correctness depends on both plan references to `ranged` agreeing
    // on shard assignment: RangePartitioner samples with a per-RDD-id
    // seed, so two INDEPENDENT materializations could place boundaries
    // differently and corrupt the cumsum. Exchange reuse proved
    // insufficient (the sf0.1 Verify plan shape materialized the range
    // exchange twice - see LlmSpec "sharded prefix sum is run-stable"),
    // so cumBefore pins ONE materialization via persist: the cache
    // manager resolves both logical references to one InMemoryRelation
    // whose single physical exchange holds a single sampled
    // partitioner. This asserts the pin is in the executed plan: both
    // branches are cache scans SHARING one CachedRDDBuilder, and no
    // live range exchange remains above them to re-sample boundaries.
    val d = (1 to 500).map(i => ((i % 5).toString, i.toLong, 1L))
      .toDF("stratum", "ord", "x")
    val out = ShardedPrefixSum.cumBefore(d, "x", "stratum", "ord", 8, "cum")
    try {
      out.collect() // execute so AQE finalizes the inspected plan
      def flatten(p: SparkPlan): Seq[SparkPlan] = {
        val next = p match {
          case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
          case q: QueryStageExec => Seq(q.plan)
          case r: ReusedExchangeExec => Seq(r.child)
          case _ => p.children
        }
        p +: next.flatMap(flatten)
      }
      val all = flatten(out.queryExecution.executedPlan)
      val cacheScans = all.collect { case s: InMemoryTableScanExec => s }
      assert(cacheScans.nonEmpty, all.map(_.nodeName).mkString("\n"))
      // every cache-scan reference must share ONE materialization (one
      // CachedRDDBuilder => one exchange instance => one partitioner)
      assert(cacheScans.map(s =>
          System.identityHashCode(s.relation.cacheBuilder)).distinct.size == 1,
        out.queryExecution.executedPlan.toString)
      // and the executed plan carries NO range exchange above the pin -
      // nothing left that could re-sample boundaries per branch
      val liveRange = all.collect {
        case s: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
          if s.outputPartitioning.isInstanceOf[RangePartitioning] => s
      }
      assert(liveRange.isEmpty, out.queryExecution.executedPlan.toString)
    } finally spark.sharedState.cacheManager.clearCache()
  }

  test("pin lifecycle: 25 distinct prefix sums in one scope are each " +
    "exact, and the scope's exit leaves no pin behind") {
    import org.apache.spark.sql.expressions.Window
    // every cumBefore call persists its ranged frame (the r13
    // single-partitioner pin); a scope owns the pins made inside it and
    // releases them all when it exits, so a long run of distinct
    // packing/profile prefix sums leaves no session-lifetime entries
    val pins0 = livePins
    val w = Window.partitionBy("stratum").orderBy("ord")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ShardedPrefixSum.scoped {
      for (i <- 1 to 25) {
        val d = (1 to 200).map(j =>
          ((j % 3).toString, j.toLong, (j % 7).toLong + i)).toDF("stratum", "ord", "x")
        val naive = d.withColumn("cum", sum($"x").over(w) - $"x")
          .select("stratum", "ord", "cum")
          .as[(String, Long, Long)].collect().toSet
        val got = ShardedPrefixSum.cumBefore(d, "x", "stratum", "ord", 6, "cum")
          .select("stratum", "ord", "cum")
          .as[(String, Long, Long)].collect().toSet
        assert(got == naive, s"call $i")
      }
      assert(livePins == pins0 + 25, "a pin went before its scope exited")
    }
    assert(livePins == pins0)
  }

  test("a key product composed early in a scope and compiled only after " +
    "10 more prefix sums still reads its pin: the keys are exact") {
    import org.apache.spark.sql.functions.col
    // key products are handed to callers for late compilation (a
    // pipeline Result's association branch); a pin released before
    // that compilation would re-open the dual-range-exchange
    // nondeterminism. Nothing but the scope's exit releases a pin, so
    // heavy prefix-sum traffic in between cannot take it.
    val pins0 = livePins
    val unmat0 = ShardedPrefixSum.unmaterializedReleases
    val rows = (1 to 300).map(i => (i * 7 % 1000, s"v$i")).distinct
    ShardedPrefixSum.scoped {
      val keyed = graft.operators.Keys.assignSequential(
        rows.toDF("a", "b"), "key", 500L, Seq(col("a"), col("b")))
      for (i <- 1 to 10) {
        val d = (1 to 100).map(j =>
          ((j % 3).toString, j.toLong, (j % 5).toLong + i)).toDF("stratum", "ord", "x")
        ShardedPrefixSum.cumBefore(d, "x", "stratum", "ord", 4, "cum").collect()
      }
      assert(livePins == pins0 + 11)
      val got = keyed.select("a", "b", "key")
        .as[(Int, String, Long)].collect().sortBy(r => (r._1, r._2))
      val want = rows.sorted.zipWithIndex.map { case ((a, b), i) =>
        (a, b, 500L + i + 1) }
      assert(got.toSeq == want)
    }
    assert(livePins == pins0)
    assert(ShardedPrefixSum.unmaterializedReleases == unmat0)
  }

  test("summarizeDistributed returns the exact summarize rows " +
    "bit-for-bit on integer columns, nulls and all-null included") {
    val rnd = new scala.util.Random(11)
    val rows = (1 to 1000).map { i =>
      (if (i % 7 == 0) null else java.lang.Long.valueOf(rnd.nextInt(200).toLong),
        java.lang.Long.valueOf(rnd.nextInt(5).toLong),
        null.asInstanceOf[java.lang.Long])
    }
    val t = rows.toDF("a", "b", "c")
    val cols = Seq("a", "b", "c")
    def byName(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getString(0) -> r.toSeq.drop(1)).toMap
    val exact = byName(Profile.summarize(t, cols))
    val dist = byName(Profile.summarizeDistributed(t, cols))
    assert(dist == exact)
    // all-null column: null quartiles/min/max, full null count
    assert(dist("c")(1) == 1000L && dist("c")(5) == null && dist("c")(7) == null)
  }

  test("summarizeDistributed quartiles interpolate exactly like " +
    "percentile at every n mod 4") {
    for (n <- 5 to 9) {
      val t = (1 to n).map(i => i.toLong * 10).toDF("a")
      val e = Profile.summarize(t, Seq("a")).collect().head.toSeq
      val d = Profile.summarizeDistributed(t, Seq("a")).collect().head.toSeq
      assert(d == e, s"n=$n")
    }
  }

  test("summarizeDistributed plans with no object-hash percentile " +
    "buffer and no single-partition window") {
    val t = (1 to 100).map(i => (i.toLong, (i % 10).toLong)).toDF("a", "b")
    val plan = Profile.summarizeDistributed(t, Seq("a", "b"))
      .queryExecution.executedPlan.toString
    // the exact-percentile path plans an ObjectHashAggregate whose
    // buffer is a per-column value-count map; the distributed path
    // must not
    assert(!plan.contains("ObjectHashAggregate"), plan)
    assert(!plan.contains("percentile"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    // every window is keyed by (col_name, shard) - never an empty or
    // column-only partition spec that would serialize a whole column
    // through one task
    val winLines = plan.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(winLines.forall(l => l.contains("__pfx_shard") || l.contains("__pfx_shard_t")),
      winLines.mkString("\n"))
  }
}
