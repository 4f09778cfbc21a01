package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.ShardedPrefixSum
import graft.pipeline.Memo
import graft.registry.{Q, Registry}

/** A registry query run through [[Scope]] releases everything it
  * materialized - pins, operator persists, checkpoints, memory-sink
  * views - memo builds included: a memoized value stays runnable
  * without any of them. */
class ScopeSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  private def persistent: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet
  private def views: Set[String] =
    spark.catalog.listTables().collect().filter(_.isTemporary).map(_.name).toSet
  private def cacheEntries: Int = Scope.held(spark).entries.size

  /** Drops every cache entry and persistent RDD of the session. */
  private def dropAll(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  /** Starts a test from an empty session: earlier suites share it. */
  private def clean(): Unit = {
    Memo.clear()
    dropAll()
  }

  private val noop: (String, DataFrame) => Unit =
    (_, df) => df.write.format("noop").mode("overwrite").save()

  private def runOne(name: String, queries: Seq[Q] = Registry.all)(
      sink: (String, DataFrame) => Unit = noop): Scope.Run = {
    val runs = Scope.registry(spark, dir, Some(Set(name)), queries) { (n, e) =>
      fail(s"$n failed: ${e.getMessage}")
    }(sink)
    assert(runs.map(_.name) == Seq(name))
    runs.head
  }

  /** Order-independent content of a result. */
  private def content(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  // q_pack_chunks: a prefix-sum pin; q_llm_prep_e2e: an operator persist;
  // q_d_dedup_e2e: the connected-components checkpoint and the minhash
  // memo build's shingle persist; q_stream_contam: a memory-sink view
  for (name <- Seq("q_pack_chunks", "q_llm_prep_e2e", "q_d_dedup_e2e",
    "q_stream_contam")) {
    test(s"$name leaves no persistent RDD, pin, cache entry or temp view") {
      clean()
      val (rdds0, pins0, views0, entries0) =
        (persistent, livePins, views, cacheEntries)
      assert(!runOne(name)().failed)
      assert(persistent == rdds0)
      assert(livePins == pins0)
      assert(views == views0)
      assert(cacheEntries == entries0)
    }
  }

  // memo builds included: the session holds what it held before
  test("q_pipeline_counts and q_d_minhash_md5 leave no persistent RDD or cache entry") {
    clean()
    val (rdds0, entries0) = (persistent, cacheEntries)
    runOne("q_pipeline_counts")()
    runOne("q_d_minhash_md5")()
    assert(persistent == rdds0)
    assert(cacheEntries == entries0)
  }

  // the memoized pairs are rooted at files, not at a checkpoint
  test("q_d_minhash_md5 reruns after every persistent RDD and cache entry is dropped") {
    clean()
    var rows = Seq.empty[Seq[String]]
    runOne("q_d_minhash_md5")((_, df) => rows :+= content(df))
    dropAll()
    runOne("q_d_minhash_md5")((_, df) => rows :+= content(df))
    assert(rows.size == 2 && rows.head.nonEmpty && rows(0) == rows(1))
  }

  test("a query whose plan throws at execution leaves nothing behind and " +
    "is reported failed") {
    val boom = Q("q_boom", (s, _) => {
      val base = s.range(200).toDF("id")
        .withColumn("g", col("id") % 3).withColumn("tok", lit(1L)).persist()
      base.count()
      base.createOrReplaceTempView("boom_view")
      ShardedPrefixSum.cumBefore(base, "tok", "g", "id", 2, "off")
        .withColumn("x", when(col("id") === 150, raise_error(lit("boom")))
          .otherwise(lit(1)))
    }, "SELECT 1")
    clean()
    val (rdds0, pins0, views0, entries0) =
      (persistent, livePins, views, cacheEntries)
    var errors = Seq.empty[String]
    val runs = Scope.registry(spark, dir, None, Seq(boom)) { (n, e) =>
      errors :+= s"$n: ${e.getMessage}"
    }(noop)
    assert(runs.map(r => (r.name, r.failed)) == Seq(("q_boom", true)))
    assert(errors.size == 1 && errors.head.startsWith("q_boom:") &&
      errors.head.contains("boom"))
    assert(persistent == rdds0)
    assert(livePins == pins0)
    assert(views == views0)
    assert(cacheEntries == entries0)
  }

  // a frame persisted before the scope and passed to cumBefore is the
  // caller's: the scope releases the pin over it, never the frame
  for (throws <- Seq(false, true)) {
    test("a caller-persisted cumBefore input keeps its cache entry when " +
      s"the consuming job ${if (throws) "throws" else "succeeds"}") {
      clean()
      val input = spark.range(200).toDF("id")
        .withColumn("g", col("id") % 3).withColumn("tok", lit(1L)).persist()
      try {
        input.count()
        val held0 = Scope.held(spark)
        val pins0 = livePins
        val run = scala.util.Try(Scope(spark) {
          ShardedPrefixSum.cumBefore(input, "tok", "g", "id", 2, "off")
            .withColumn("x", when(lit(throws) && col("id") === 150,
              raise_error(lit("boom"))).otherwise(lit(1)))
            .write.format("noop").mode("overwrite").save()
        })
        assert(run.isFailure == throws)
        assert(livePins == pins0)
        val held1 = Scope.held(spark)
        assert(held0.entries.forall(e => held1.entries.exists(_ eq e)),
          "the scope dropped a cache entry it did not make")
        assert(held1.rdds.keySet == held0.rdds.keySet)
      } finally input.unpersist(blocking = true)
    }
  }

  test("a temp view the scope made over a caller-persisted frame goes " +
    "with the scope; the frame keeps its cache entry") {
    clean()
    val input = spark.range(200).toDF("id").persist()
    try {
      input.count()
      val held0 = Scope.held(spark)
      Scope(spark) {
        input.createOrReplaceTempView("scope_input_view")
        spark.table("scope_input_view").write.format("noop").mode("overwrite").save()
      }
      val held1 = Scope.held(spark)
      assert(held1.views == held0.views)
      assert(held0.entries.forall(e => held1.entries.exists(_ eq e)),
        "dropping the view uncached the caller's frame")
    } finally input.unpersist(blocking = true)
  }
}
