package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // SPARK_GRAFT_ONLY=q_a,q_b restricts the dump for local iteration
    // (same convention as Bench); the driver never sets it.
    val only = graft.registry.Registry.only()
    val spark = LocalSession("graft-verify")
    new java.io.File(outDir).mkdirs()
    val selected = SparkEntry.queries.filter(kv => only.forall(_.contains(kv._1)))
    // periodic trim, same shape as Bench's within-pass sweep: several
    // operators persist internal frames whose lifecycle is the
    // caller's, so a full 170-query dump used to accumulate every
    // query's cached blocks and prefix-sum pins for the session's
    // lifetime. Checkpointed RDDs stay (the pipeline memo roots there);
    // releaseAll is sweep-safe - pipeline products are store-backed and
    // an exempt pin dropped before its product materialized warns and
    // counts (ShardedPrefixSum.unmaterializedReleases).
    val trimEvery = sys.env.getOrElse("SPARK_GRAFT_TRIM_EVERY", "16").toInt
    val failed = Seq.newBuilder[String]
    selected.toSeq.sortBy(_._1).zipWithIndex.foreach { case ((name, fn), i) =>
      if (trimEvery > 0 && i > 0 && i % trimEvery == 0) {
        graft.operators.ShardedPrefixSum.releaseAll()
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values
          .filterNot(_.isCheckpointed)
          .foreach(_.unpersist(blocking = false))
      }
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        failed += name
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // one summary line, so a failure deep in the per-query log is not
    // missed; the exit code stays 0 (the oracle compare reports the
    // missing outputs)
    val failedNames = failed.result()
    System.err.println(s"[verify] failed ${failedNames.size}: ${failedNames.mkString(",")}")
    spark.stop()
  }
}
