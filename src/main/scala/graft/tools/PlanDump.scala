package graft.tools

import org.apache.spark.sql.execution.ExplainMode

/** Dump `explain("formatted")` for named registry queries to files -
  * the optimization round's before/after plan artifacts
  * (plans/rNN/<query>_<tag>.txt).
  *
  * Usage: runMain graft.tools.PlanDump <outDir> <tag> <query>[,<query>...]
  *        [sfDir]
  *
  * The session is graft.LocalSession, as in graft.Bench, so the dumped
  * plan is the benched plan. The dump is the ANALYZED initial physical
  * plan (AQE `isFinalPlan=false`) - the shape Catalyst commits to before
  * runtime re-optimization, which is what plan-level claims (join strategy,
  * exchange count, pushdown) are checked against.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: PlanDump <outDir> <tag> <q1,q2,...> [sfDir]")
    val outDir = args(0)
    val tag = args(1)
    val names = args(2).split(",").map(_.trim).filter(_.nonEmpty)
    val sfDir = if (args.length > 3) args(3) else "/root/testdata/sf0.1"
    val spark = graft.LocalSession("graft-plan-dump")

    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { name =>
      graft.SparkEntry.queries.get(name) match {
        case None => System.err.println(s"[plandump] no such query: $name")
        case Some(fn) =>
          val df = fn(spark, sfDir)
          val txt = df.queryExecution.explainString(
            ExplainMode.fromString("formatted"))
          java.nio.file.Files.write(
            java.nio.file.Paths.get(outDir, s"${name}_$tag.txt"),
            txt.getBytes("UTF-8"))
          println(s"[plandump] wrote $outDir/${name}_$tag.txt " +
            s"(${txt.linesIterator.size} lines)")
      }
    }
    spark.stop()
  }
}
