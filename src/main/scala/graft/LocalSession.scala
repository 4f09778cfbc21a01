package graft

import org.apache.spark.sql.SparkSession

/** The one local-mode session builder: Bench, Verify, `Cli.main` and
  * every tool start their session here, so a plan dumped or audited by a
  * tool is planned under the same configuration the bench times.
  *
  *   - master `local[cores]`, cores = `SPARK_GRAFT_CPUS`, else the JVM's
  *     available processors;
  *   - `spark.sql.shuffle.partitions` = `shufflePartitions` (default: the
  *     core count);
  *   - UTC session time zone, UI off, log level WARN. AQE stays at its
  *     Spark default (on).
  */
object LocalSession {

  private def cores: Int =
    sys.env.get("SPARK_GRAFT_CPUS").flatMap(_.trim.toIntOption).filter(_ > 0)
      .getOrElse(Runtime.getRuntime.availableProcessors)

  def apply(app: String, shufflePartitions: Int = cores): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(app)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
