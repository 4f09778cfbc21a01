package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.registry.Registry
import graft.registry.CoreQueries.pipelinePicks

/** The engine's query surface: the flagship `entry` plus the query
  * registry. Each query is one [[graft.registry.Q]] (name, Spark plan,
  * DuckDB oracle) in a per-family module under `graft.registry`;
  * `queries` and `oracleSql` are name-keyed views of that one list. */
object SparkEntry {

  /** Flagship: the picks stage of the --species pipeline (resolve ->
    * group -> complement -> cascade) over ortholog-shaped fixtures
    * derived from the sf0.001 test tables; returns the strong-ortholog
    * picks. */
  def entry(spark: SparkSession): DataFrame =
    pipelinePicks(spark, "/root/testdata/sf0.001").strongPicks

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Registry.all.map(q => q.name -> q.plan).toMap

  def oracleSql: Map[String, String] =
    Registry.all.map(q => q.name -> q.oracle).toMap
}
