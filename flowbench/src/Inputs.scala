package flowbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Stages the benchmark's input tables from `flowbench/data`.
  *
  * `flowbench/data` holds the columns that `graft.pipeline.Fixtures` and
  * the corpus flow read from the sf0.1 test tables (`part`, `orders`,
  * `lineitem`, `documents`), with every row of those tables. Staging
  * writes each table as the single file `<dir>/<name>.parquet` that
  * `Fixtures` reads. The workload seed only permutes the staged row
  * order, so every seed must give the same outputs.
  */
object Inputs {

  val OrthologTables = Seq("part", "orders", "lineitem")
  val DocCopies = 4

  /** `graft.tools.ScaleGen`'s key stride between copies. */
  private val Stride = 20000000L

  /** The rows of `df` in the seed's order: sorted by a hash of the seed
    * and the row's position in the committed file. */
  def permuted(df: DataFrame, seed: Long): DataFrame =
    df.withColumn("_pos", monotonically_increasing_id())
      .withColumn("_key", xxhash64(lit(seed), col("_pos")))
      .repartition(1).sortWithinPartitions("_key")
      .drop("_pos", "_key")

  /** `copies` copies of the documents, built the way `graft.tools.ScaleGen`
    * builds its scaled documents: copy c offsets `doc_id` by c * stride
    * and suffixes every 5th word, so copies are not near-duplicates of
    * each other. */
  def scaledDocuments(docs: DataFrame, copies: Int): DataFrame =
    (0 until copies).map { c =>
      val d = docs.withColumn("doc_id", col("doc_id") + lit(Stride * c))
      if (c == 0) d
      else d
        .withColumn("text", array_join(
          transform(split(col("text"), "\\s+"),
            (w, i) => when(pmod(i, lit(5)) === lit(c % 5), concat(w, lit(s"zq$c")))
              .otherwise(w)), " "))
        .withColumn("n_chars", length(col("text")).cast("long"))
    }.reduce(_ unionByName _)

  /** Stage the workload's tables from `data` into `dir`. */
  def stage(spark: SparkSession, data: String, dir: String, workload: String,
            seed: Long): Unit = {
    def read(name: String) = spark.read.parquet(s"$data/$name.parquet")
    val tables =
      if (workload == "corpus_x4")
        Seq("documents" -> scaledDocuments(read("documents"), DocCopies))
      else OrthologTables.map(t => t -> read(t))
    FlowBench.inParallel(tables.map { case (name, df) =>
      name -> (() => permuted(df, seed).write.mode("overwrite").parquet(s"$dir/$name.parquet"))
    }).foreach { case (name, r) => require(r == "()", s"staging $name failed: $r") }
  }
}
