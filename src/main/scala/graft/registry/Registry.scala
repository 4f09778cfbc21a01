package graft.registry

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered query: its Spark plan over an sf dir, and the DuckDB
  * SQL that recomputes the same rows. Column names and types are aligned
  * on both sides (the oracle compare, tools/compare_oracle.py, sorts
  * columns by name and hashes values). */
final case class Q(name: String, plan: (SparkSession, String) => DataFrame,
                   oracle: String)

object Registry {

  /** Every registered query, family by family. */
  val all: Seq[Q] =
    CoreQueries.all ++ TextQueries.all ++ DedupQueries.all ++ AnnQueries.all ++
      MmQueries.all ++ StreamQueries.all ++ SampleQueries.all

  /** The `SPARK_GRAFT_ONLY` selection, comma-separated query names.
    * `None` selects every query: the value is unset or names nothing.
    * A name that is not registered stops the run, so a misspelled
    * filter cannot pass for an empty run. */
  def only(value: Option[String] = sys.env.get("SPARK_GRAFT_ONLY")): Option[Set[String]] = {
    val names = value.map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .filter(_.nonEmpty)
    val unknown = names.fold(Set.empty[String])(_ -- all.map(_.name))
    require(unknown.isEmpty,
      s"SPARK_GRAFT_ONLY names unknown queries: ${unknown.toSeq.sorted.mkString(",")}")
    names
  }
}
