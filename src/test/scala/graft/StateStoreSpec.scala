package graft

import graft.sources.StateStore

/** Bucketed state tables: equi-joins on the bucket key must plan with NO
  * shuffle of the bucketed sides (the 100 TB co-location contract). */
class StateStoreSpec extends SparkSpec {
  import spark.implicits._

  test("bucket-key join of two bucketed state tables plans without exchanges") {
    val dir = java.nio.file.Files.createTempDirectory("graft_buckets").toString
    val orths = (1 to 1000).map(i => (i, i + 1, "NCBI")).toDF(
      "srcRgdId", "destRgdId", "xrefDataSrc")
    val genes = (1 to 1200).map(i => (i, s"g$i")).toDF("srcRgdId", "geneSymbol")

    try {
      StateStore.writeBucketed(orths, "t_orth", Seq("srcRgdId"),
        buckets = 8, path = Some(s"$dir/orth"))
      StateStore.writeBucketed(genes, "t_gene", Seq("srcRgdId"),
        buckets = 8, path = Some(s"$dir/gene"))

      // broadcast would hide the property under test - disable it
      val thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val joined = StateStore.read(spark, "t_orth")
          .join(StateStore.read(spark, "t_gene"), Seq("srcRgdId"))
        assert(joined.count() == 1000)
        val plan = joined.queryExecution.executedPlan.toString
        assert(!plan.contains("Exchange"),
          s"bucketed join must not shuffle either side:\n$plan")
        // and the bucket-sorted layout feeds SortMergeJoin without sorts
        assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"))
      } finally {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
      }
    } finally {
      spark.sql("DROP TABLE IF EXISTS t_orth")
      spark.sql("DROP TABLE IF EXISTS t_gene")
    }
  }
}
