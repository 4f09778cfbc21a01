package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed surrogate-key assignment.
  *
  * The reference draws keys from Oracle sequences
  * (OrthologRelationDao.java:621-642 and the GENETOGENE insert wrapper);
  * set-wise, new rows get startAt+1..startAt+N in a deterministic order.
  * The naive `row_number().over(Window.orderBy(...))` computes that rank
  * on a SINGLE partition (Spark warns "No Partition Defined for Window
  * operation") - a scale-killer for large insert sets. Here the rank is
  * the two-level sharded prefix sum of a constant-1 token over the order
  * columns ([[ShardedPrefixSum.cumBefore]] with one stratum): range-
  * partition on the order, count within each contiguous shard in
  * parallel, broadcast the tiny per-shard offsets back. Fully
  * declarative - unlike the previous RDD `zipWithIndex` formulation it
  * builds NO eager job at call time (zipWithIndex runs its
  * partition-size count when the RDD is constructed, which forced every
  * pipeline that merely COMPOSED an insert plan to execute it), and the
  * result stays inside the SQL optimizer, so consumers keep pushdown,
  * codegen, and exchange reuse.
  *
  * `order` must be a UNIQUE total order over `df` of plain ASCENDING
  * column expressions for the assignment to be deterministic: rows tied
  * on every order column get DISTINCT keys in arbitrary,
  * run-to-run-unstable within-tie order (the running sum is a ROWS
  * frame - same undefined-under-ties behavior as the zipWithIndex
  * formulation this replaced).
  *
  * Pin lifecycle: the prefix sum pins the FULL input frame
  * (MEMORY_AND_DISK; project before calling when the row is wide), and
  * the pin follows ShardedPrefixSum's one rule - the innermost open
  * ShardedPrefixSum.scoped call releases it on exit, never earlier, so
  * a key product compiled late inside that scope still reads its pin.
  * OrthologPipeline.runSpecies and AgrPipeline.run each open one scope
  * around the whole run and consume each key product at a phase write
  * inside it (sequential runs hold no pins between runs); a registry
  * query's graft.Scope opens one around the whole query.
  * A release that drops a never-materialized pin warns and counts.
  * With no scope open the pin is an ordinary persist the caller owns.
  */
object Keys {

  /** Keys startAt+1..startAt+N in `order` order, as column `keyCol`
    * (LongType). Lazy: composes into the caller's plan. */
  def assignSequential(df: DataFrame, keyCol: String, startAt: Long,
                       order: Seq[Column]): DataFrame =
    ranked(df, keyCol, lit(startAt), order)

  /** As [[assignSequential]], but the sequence base is read from
    * `startFrame` - a ONE-ROW frame whose single column holds the
    * current max key (typically `state.agg(max(key))`). The base
    * attaches as a broadcast scalar (the repo-wide scalar-attach
    * convention: a global aggregate build side is <=1 row at any data
    * size), so the max-key lookup stays lazy instead of forcing a
    * blocking driver action while the pipeline plan is still being
    * composed. */
  def assignSequentialFrom(df: DataFrame, keyCol: String,
                           startFrame: DataFrame,
                           order: Seq[Column]): DataFrame = {
    val start = startFrame.toDF("__seq_start")
    val joined = df.crossJoin(broadcast(start))
    ranked(joined, keyCol, col("__seq_start").cast("long"), order)
      .drop("__seq_start")
  }

  private def ranked(df: DataFrame, keyCol: String, base: Column,
                     order: Seq[Column]): DataFrame = {
    val ordNames = order.indices.map(i => s"__seq_ord_$i")
    val withOrd = order.zip(ordNames).foldLeft(df) {
      case (d, (c, n)) => d.withColumn(n, c)
    }.withColumn("__seq_tok", lit(1L)).withColumn("__seq_strat", lit(1))
    ShardedPrefixSum
      .cumBefore(withOrd, "__seq_tok", "__seq_strat", ordNames,
        numShards = 0, "__seq_rank")
      .withColumn(keyCol, base + col("__seq_rank") + lit(1L))
      .drop("__seq_tok" +: "__seq_strat" +: "__seq_rank" +: ordNames: _*)
  }
}
