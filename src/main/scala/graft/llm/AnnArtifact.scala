package graft.llm

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** ANN index-artifact persistence: IVF coarse centroids and PQ
  * codebooks as parquet tables under one directory - the train ->
  * ship -> search round trip an ANN index needs across sessions,
  * completing the model-artifact story [[BpeArtifact]] started for
  * tokenizers. An index built once (k-means over a 100 TB corpus
  * sample) is served by many later sessions; recomputing centroids
  * per session is both wasted work and a correctness hazard (a
  * re-trained index silently re-buckets the corpus).
  *
  * Layout: centroids as (cell, dim, value) rows, codebooks as
  * (codebook, code, dim, value) rows - long-form so the schema is
  * engine-neutral and the tables stay model-sized (cells x dim and
  * m x 2^bits x subDim rows, never corpus-sized; the single-file
  * coalesce is free and the load is driver-cheap). Doubles round-trip
  * bit-exact through parquet's DOUBLE, so a loaded index reproduces
  * the plan-time-literal index EXACTLY - same cells, same ADC tables,
  * same ranked results.
  */
object AnnArtifact {

  def save(spark: SparkSession, centroids: Seq[Seq[Double]],
           codebooks: Seq[Seq[Seq[Double]]], dir: String): Unit = {
    import spark.implicits._
    centroids.zipWithIndex
      .flatMap { case (c, cell) =>
        c.zipWithIndex.map { case (v, d) => (cell, d, v) } }
      .toDF("cell", "dim", "value")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/centroids")
    codebooks.zipWithIndex
      .flatMap { case (cb, j) => cb.zipWithIndex.flatMap { case (c, code) =>
        c.zipWithIndex.map { case (v, d) => (j, code, d, v) } } }
      .toDF("codebook", "code", "dim", "value")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/codebooks")
  }

  /** Centroids in (cell, dim) order - the shape [[Ann.ivfAssign]] /
    * [[Ann.ivfPqTopK]] consume. Driver-side model state, like the
    * trained index itself. */
  def loadCentroids(spark: SparkSession, dir: String): Seq[Seq[Double]] = {
    import spark.implicits._
    spark.read.parquet(s"$dir/centroids")
      .select(col("cell").cast("int"), col("dim").cast("int"), col("value"))
      .as[(Int, Int, Double)].collect().toSeq
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (_, rows) => rows.sortBy(_._2).map(_._3) }
  }

  /** Codebooks in (codebook, code, dim) order - the
    * [[Ann.pqAssign]] / [[Ann.ivfPqTopK]] shape. */
  def loadCodebooks(spark: SparkSession,
                    dir: String): Seq[Seq[Seq[Double]]] = {
    import spark.implicits._
    spark.read.parquet(s"$dir/codebooks")
      .select(col("codebook").cast("int"), col("code").cast("int"),
        col("dim").cast("int"), col("value"))
      .as[(Int, Int, Int, Double)].collect().toSeq
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (_, cb) =>
        cb.groupBy(_._2).toSeq.sortBy(_._1)
          .map { case (_, rows) => rows.sortBy(_._3).map(_._4) } }
  }
}
