package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each registry query's result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // SPARK_GRAFT_ONLY=q_a,q_b restricts the dump for local iteration
    // (same convention as Bench); the driver never sets it.
    val only = graft.registry.Registry.only()
    val spark = LocalSession("graft-verify")
    new java.io.File(outDir).mkdirs()
    val failed = Scope.registry(spark, sfDir, only) { (name, e) =>
      System.err.println(s"[verify] $name failed: ${e.getMessage}")
    } { (name, df) =>
      df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
    }.filter(_.failed).map(_.name)
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
    System.err.println(s"[verify] failed ${failed.size}: ${failed.mkString(",")}")
    spark.stop()
  }
}
