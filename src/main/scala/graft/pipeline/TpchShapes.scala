package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Readers

/** TPC-H-derived fixture frames for the oracle-checked operator queries.
  *
  * Each builder derives a pipeline-shaped table (ortholog state, incoming
  * relations, gene dimension, association state, ...) from the driver's
  * TPC-H parquet tables using pure column arithmetic, so the DuckDB
  * oracle can reproduce the exact same frame as a CTE and independently
  * recompute what the REAL operator (Merge.reconcile,
  * Resolve.resolveRelations, Cascade.run, WeakSync.syncDiff, ...) must
  * produce. This upgrades the mutation/repair operator family from
  * unit-test-only coverage to the driver's row/schema/hash oracle gate.
  *
  * Every derivation is mirrored by a CTE in the oracle SQL of the
  * graft.registry.CoreQueries entry that reads it.
  */
object TpchShapes {

  val ts0: java.sql.Timestamp = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
  val runTs: java.sql.Timestamp = java.sql.Timestamp.valueOf("2026-08-01 00:00:00")

  /** Evidence CSV with 1-3 tokens banded on a price column. */
  private def evBand(price: Column): Column =
    when(price > 200000, "a,b,c").when(price > 100000, "a,b").otherwise("a")

  /** Gene dimension from customer: rgdId=c_custkey, symbol=c_name,
    * allele type for the MACHINERY segment (F5 exclusion food), species
    * 1/3 by key parity. */
  def genes(s: SparkSession, dir: String): DataFrame =
    Readers.table(s, dir, "customer").select(
      col("c_custkey").cast("int").as("rgdId"),
      col("c_name").as("geneSymbol"),
      col("c_name").as("geneName"),
      when(col("c_mktsegment") === "MACHINERY", "allele")
        .otherwise("protein-coding").as("geneTypeLc"),
      when(col("c_custkey") % 2 === 0, 1).otherwise(3).as("speciesTypeKey"),
      upper(col("c_name")).as("ensemblGeneSymbol"))

  /** Ortholog-state rows for Merge.reconcile from orders (o_orderkey%4=0),
    * deduped to one row per (src, dest) so the W3 ranking is a total
    * order. src in 0..299, dest in 0..1999 (some outside the customer
    * range -> null dest symbols exercise the nulls-last branch). */
  def m1State(s: SparkSession, dir: String): DataFrame = {
    val base = Readers.table(s, dir, "orders").filter(col("o_orderkey") % 4 === 0).select(
      col("o_orderkey").as("key"),
      (col("o_custkey") % 300).cast("int").as("srcRgdId"),
      (col("o_orderkey") % 2000).cast("int").as("destRgdId"),
      lit(1).as("srcSpeciesTypeKey"), lit(3).as("destSpeciesTypeKey"),
      when(col("o_orderstatus") === "O", "NCBI")
        .when(col("o_orderstatus") === "F", "HGNC")
        .otherwise("RGD").as("xrefDataSrc"),
      evBand(col("o_totalprice")).as("xrefDataSet"),
      lit(11).as("orthologTypeKey"),
      lit(70).as("createdBy"), lit(ts0).as("createdDate"),
      lit(70).as("lastModifiedBy"), lit(ts0).as("lastModifiedDate"))
    val w = Window.partitionBy(col("srcRgdId"), col("destRgdId")).orderBy(col("key"))
    base.withColumn("rn0", row_number().over(w)).filter(col("rn0") === 1).drop("rn0")
  }

  /** Incoming relations for Merge.reconcile from orders (o_orderkey%4=1);
    * never manual (NCBI/HGNC only), same (src, dest) dedupe. */
  def m1Incoming(s: SparkSession, dir: String): DataFrame = {
    val base = Readers.table(s, dir, "orders").filter(col("o_orderkey") % 4 === 1).select(
      col("o_orderkey").as("okey"),
      (col("o_custkey") % 300).cast("int").as("srcRgdId"),
      (col("o_orderkey") % 2000).cast("int").as("destRgdId"),
      lit(1).as("srcSpeciesTypeKey"), lit(3).as("destSpeciesTypeKey"),
      when(col("o_orderstatus") === "O", "NCBI").otherwise("HGNC").as("xrefDataSrc"),
      evBand(col("o_totalprice")).as("xrefDataSet"))
    val w = Window.partitionBy(col("srcRgdId"), col("destRgdId")).orderBy(col("okey"))
    base.withColumn("rn0", row_number().over(w)).filter(col("rn0") === 1)
      .drop("rn0", "okey")
  }

  /** Post-complement relations for the WeakSync incoming build, from
    * lineitem (l_orderkey%3=0). */
  def m4Relations(s: SparkSession, dir: String): DataFrame =
    Readers.table(s, dir, "lineitem").filter(col("l_orderkey") % 3 === 0).select(
      (col("l_orderkey") % 400).cast("int").as("srcRgdId"),
      (col("l_partkey") % 400).cast("int").as("destRgdId"),
      when(col("l_partkey") % 2 === 0, "HGNC").otherwise("NCBI").as("dataSource"),
      when(col("l_partkey") % 3 === 0, "Ensembl")
        .when(col("l_partkey") % 3 === 1, "HomoloGene")
        .otherwise("OMA").as("dataSetName"))

  /** Downgraded orthologs feeding the WeakSync incoming build, from
    * orders (o_orderkey%4=2). */
  def m4Downgraded(s: SparkSession, dir: String): DataFrame =
    Readers.table(s, dir, "orders").filter(col("o_orderkey") % 4 === 2).select(
      (col("o_custkey") % 400).cast("int").as("srcRgdId"),
      (col("o_orderkey") % 400).cast("int").as("destRgdId"),
      when(col("o_orderstatus") === "O", "NCBI").otherwise("HGNC").as("xrefDataSrc"),
      evBand(col("o_totalprice")).as("xrefDataSet"))

  /** Strong-ortholog pairs that knock out weak candidates (J4), from
    * orders (o_orderkey%7=0). */
  def m4Strong(s: SparkSession, dir: String): DataFrame =
    Readers.table(s, dir, "orders").filter(col("o_orderkey") % 7 === 0).select(
      (col("o_custkey") % 400).cast("int").as("srcRgdId"),
      (col("o_orderkey") % 400).cast("int").as("destRgdId"))

  /** Association state for the syncDiff, from orders (o_orderkey%3=0);
    * P-status rows get a NULL subtype (the null-subtype match branch). */
  def m4AssocState(s: SparkSession, dir: String): DataFrame =
    Readers.table(s, dir, "orders").filter(col("o_orderkey") % 3 === 0).select(
      col("o_orderkey").as("assocKey"),
      lit("weak_ortholog").as("assocType"),
      when(col("o_orderstatus") === "O", "Ensembl")
        .when(col("o_orderstatus") === "F", "HomoloGene")
        .otherwise(lit(null).cast("string")).as("assocSubType"),
      (col("o_custkey") % 400).cast("int").as("masterRgdId"),
      (col("o_orderkey") % 400).cast("int").as("detailRgdId"),
      when(col("o_totalprice") > 150000, "HGNC").otherwise("NCBI").as("srcPipeline"),
      lit(ts0).as("creationDate"))

  // ---- Resolve.resolveRelations fixtures ----

  /** EntrezGene xref crosswalk from customer: custkey pairs (2k, 2k+1)
    * share one EG id, so per-id candidate fan-out is 1-2 and every
    * resolution outcome (matched / multiple / withdrawn / replacement)
    * occurs at gate scale. Every 7th row carries a non-EG xdb key
    * (filtered out by the operator). */
  def resolveXrefs(s: SparkSession, dir: String): DataFrame =
    Readers.table(s, dir, "customer").select(
      col("c_custkey").as("accXdbKey"),
      col("c_custkey").cast("int").as("rgdId"),
      when(col("c_custkey") % 7 === 0, 5).otherwise(3).as("xdbKey"),
      concat(lit("EG"), col("c_custkey") - col("c_custkey") % 2).as("accId"),
      lit("x").as("srcPipeline"),
      lit(ts0).as("modificationDate"))

  /** Object registry from customer: negative balances are WITHDRAWN. */
  def resolveRgdIds(s: SparkSession, dir: String): DataFrame =
    Readers.table(s, dir, "customer").select(
      col("c_custkey").cast("int").as("rgdId"),
      when(col("c_acctbal") < 0, "WITHDRAWN").otherwise("ACTIVE").as("objectStatus"),
      when(col("c_custkey") % 2 === 0, 1).otherwise(3).as("speciesTypeKey"))

  /** Object registry over the repair/cascade fixture id space (0..1800,
    * covering cascade src 0..499 / dest 1..1500 and d1 src 0..399 /
    * dest 400..796): every 23rd id WITHDRAWN; evens human, odds rat.
    * DuckDB twin: range(0, 1801). */
  def wideRgdIds(s: SparkSession): DataFrame =
    s.range(0, 1801).select(
      col("id").cast("int").as("rgdId"),
      when(col("id") % 23 === 0, "WITHDRAWN")
        .otherwise("ACTIVE").as("objectStatus"),
      when(col("id") % 2 === 0, 1).otherwise(3).as("speciesTypeKey"))

  /** Withdrawn-id history: each withdrawn id replaced by its successor
    * (which may itself be withdrawn or absent). */
  def resolveHistory(s: SparkSession, dir: String): DataFrame =
    Readers.table(s, dir, "customer").filter(col("c_acctbal") < 0).select(
      col("c_custkey").cast("int").as("oldRgdId"),
      (col("c_custkey") + 1).cast("int").as("newRgdId"))

  /** Raw relations keyed by external EG ids, from lineitem. The EG space
    * (even ids 0..1998) is wider than the crosswalk's, so unmatched ids
    * and dest-side failures occur alongside the matched bulk. */
  def resolveRelations(s: SparkSession, dir: String): DataFrame = {
    def eg(c: Column) = concat(lit("EG"), (c % 2000) - (c % 2000) % 2)
    Readers.table(s, dir, "lineitem").filter(col("l_orderkey") % 2 === 0).select(
      eg(col("l_orderkey")).as("srcOtherId"),
      eg(col("l_partkey")).as("destOtherId"),
      lit(1).as("srcSpeciesTypeKey"), lit(3).as("destSpeciesTypeKey"),
      when(col("l_partkey") % 2 === 0, "HGNC").otherwise("NCBI").as("dataSource"),
      lit("Ensembl").as("dataSetName"))
  }

  // ---- Cascade.run fixtures ----

  /** Post-complement relations for the cascade, from lineitem
    * (l_orderkey%4=0). dataSource/evidence/dest all derive from l_partkey
    * so duplicate (group, dest) rows are full-row duplicates (the ranking
    * stays a total order). */
  def cascadeRelations(s: SparkSession, dir: String): DataFrame =
    Readers.table(s, dir, "lineitem").filter(col("l_orderkey") % 4 === 0).select(
      (col("l_orderkey") % 500).cast("int").as("groupId"),
      (col("l_orderkey") % 500).cast("int").as("srcRgdId"),
      (col("l_partkey") % 1500 + 1).cast("int").as("destRgdId"),
      lit(1).as("srcSpeciesTypeKey"), lit(3).as("destSpeciesTypeKey"),
      when(col("l_partkey") % 2 === 0, "HGNC").otherwise("NCBI").as("dataSource"),
      when(col("l_partkey") % 3 === 0, "Ensembl")
        .when(col("l_partkey") % 3 === 1, "Ensembl,HomoloGene")
        .otherwise("Ensembl,HomoloGene,OMA").as("dataSetName"))

  /** Manual (tier-4) ortholog state rows, from orders (o_orderkey%10=0). */
  def cascadeOrthologs(s: SparkSession, dir: String): DataFrame =
    Readers.table(s, dir, "orders").filter(col("o_orderkey") % 10 === 0).select(
      (col("o_custkey") % 500).cast("int").as("srcRgdId"),
      (col("o_orderkey") % 1500 + 1).cast("int").as("destRgdId"),
      lit(3).as("destSpeciesTypeKey"),
      lit("RGD").as("xrefDataSrc"),
      lit("curated").as("xrefDataSet"))

  /** AGR mutual-best state (tier 3): O-status high-price orders are
    * mutual best; the rest fail one of the two flags. */
  def cascadeAgr(s: SparkSession, dir: String): DataFrame =
    Readers.table(s, dir, "orders").select(
      (col("o_custkey") % 500).cast("int").as("geneRgdId1"),
      (col("o_orderkey") % 1500 + 1).cast("int").as("geneRgdId2"),
      lit("high").as("confidence"),
      when(col("o_orderstatus") === "O", "Y").otherwise("N").as("isBestScore"),
      when(col("o_totalprice") > 100000, "Y").otherwise("N").as("isBestRevScore"),
      lit("OrthoFinder|PANTHER").as("methodsMatched"),
      lit(ts0).as("createdDate"), lit(ts0).as("lastUpdateDate"))

  // ---- WeakSync.repairOrthologSymmetry (D1) fixtures ----

  /** Forward (1->3) ortholog rows from orders; src in 0..399, dest in
    * 400..796 so base rows can never accidentally mirror each other. */
  def d1Base(s: SparkSession, dir: String): DataFrame =
    Readers.table(s, dir, "orders").select(
      col("o_orderkey").as("key"),
      (col("o_custkey") % 400).cast("int").as("srcRgdId"),
      (col("o_orderkey") % 397 + 400).cast("int").as("destRgdId"),
      lit(1).as("srcSpeciesTypeKey"), lit(3).as("destSpeciesTypeKey"),
      when(col("o_orderkey") % 3 === 0, "RGD")
        .when(col("o_orderkey") % 3 === 1, "NCBI")
        .otherwise("HGNC").as("xrefDataSrc"),
      evBand(col("o_totalprice")).as("xrefDataSet"),
      lit(11).as("orthologTypeKey"), lit(70).as("createdBy"),
      lit(ts0).as("createdDate"), lit(70).as("lastModifiedBy"),
      lit(ts0).as("lastModifiedDate"))

  /** Ortholog state = forward rows + mirrored reverses for key%5=0. */
  def d1State(s: SparkSession, dir: String): DataFrame = {
    val base = d1Base(s, dir)
    base.unionByName(base.filter(col("key") % 5 === 0).select(
      (col("key") + 1000000).as("key"),
      col("destRgdId").as("srcRgdId"), col("srcRgdId").as("destRgdId"),
      lit(3).as("srcSpeciesTypeKey"), lit(1).as("destSpeciesTypeKey"),
      lit("NCBI").as("xrefDataSrc"), col("xrefDataSet"),
      col("orthologTypeKey"), col("createdBy"), col("createdDate"),
      col("lastModifiedBy"), col("lastModifiedDate")))
  }

  /** Reverse weak assocs exist for key%7=0 forward rows. */
  def d1Assoc(s: SparkSession, dir: String): DataFrame =
    d1Base(s, dir).filter(col("key") % 7 === 0).select(
      (col("key") + 2000000).as("assocKey"),
      lit("weak_ortholog").as("assocType"),
      lit("Ensembl").as("assocSubType"),
      col("destRgdId").as("masterRgdId"),
      col("srcRgdId").as("detailRgdId"),
      lit("NCBI").as("srcPipeline"),
      lit(ts0).as("creationDate"))

  // ---- WeakSync.repairAssocSymmetry (D2) fixtures ----

  /** Weak assoc base rows: master = customer key (species by parity),
    * detail in 1..140 (always inside the customer range). */
  def d2Base(s: SparkSession, dir: String): DataFrame =
    Readers.table(s, dir, "orders").select(
      col("o_orderkey").as("assocKey"),
      lit("weak_ortholog").as("assocType"),
      when(col("o_orderstatus") === "O", "Ensembl")
        .when(col("o_orderstatus") === "F", "HomoloGene")
        .otherwise("OMA").as("assocSubType"),
      col("o_custkey").cast("int").as("masterRgdId"),
      (col("o_orderkey") % 140 + 1).cast("int").as("detailRgdId"),
      lit("NCBI").as("srcPipeline"),
      lit(ts0).as("creationDate"))

  /** Assoc state = base + mirrored reverses for key%4=0. */
  def d2AssocState(s: SparkSession, dir: String): DataFrame = {
    val base = d2Base(s, dir)
    base.unionByName(base.filter(col("assocKey") % 4 === 0).select(
      (col("assocKey") + 1000000).as("assocKey"),
      col("assocType"), col("assocSubType"),
      col("detailRgdId").as("masterRgdId"),
      col("masterRgdId").as("detailRgdId"),
      col("srcPipeline"), col("creationDate")))
  }

  /** Reverse orthologs that take (master, detail) pairs out of D2 scope. */
  def d2Orthologs(s: SparkSession, dir: String): DataFrame =
    Readers.table(s, dir, "orders").filter(col("o_orderkey") % 6 === 0).select(
      (col("o_orderkey") % 140 + 1).cast("int").as("srcRgdId"),
      col("o_custkey").cast("int").as("destRgdId"))

  /** Delete queue: forward %5=0 rows plus reversed %10=0 rows (the
    * overlap creates both-directions-queued pairs). */
  def d2Deletes(s: SparkSession, dir: String): DataFrame = {
    val base = d2Base(s, dir)
    base.filter(col("assocKey") % 5 === 0)
      .select(col("masterRgdId"), col("detailRgdId"))
      .unionByName(base.filter(col("assocKey") % 10 === 0)
        .select(col("detailRgdId").as("masterRgdId"),
          col("masterRgdId").as("detailRgdId")))
  }
}
