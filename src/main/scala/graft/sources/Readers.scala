package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.{Schemas, Species}
import graft.functions.Exprs

/** Schema'd readers for the reference's external file formats (S2-S4),
  * with the taxon filters (F1-F3) and projections (F4) pushed into the
  * declarative plan so Catalyst applies them during the scan.
  *
  * Spark reads .gz transparently, so the reference's hand-rolled
  * GZIPInputStream line loop (OrthologRelationParser.java:106-121)
  * becomes a plain `spark.read.csv`. At cluster scale a single .gz file
  * is unsplittable - one task per file - so production inputs should be
  * staged to parquet/uncompressed once; these readers accept either.
  */
object Readers {

  /** An sfDir table, `<dir>/<name>.parquet`, read with its declared
    * schema (`Schemas.sfTables`). The one place graft reads those
    * tables: a declared schema plans without the footer-reading job
    * that inference starts, so a read costs the same whatever ran
    * earlier in the JVM. */
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.schema(Schemas.sfTable(name)).parquet(s"$dir/$name.parquet")

  /** HCOP 16-column file scan (S2) + taxon filter (F1) + projection to
    * relation records (F4). Output schema matches OrthologRelation minus
    * the yet-unresolved rgd ids.
    * Ref: OrthologRelationParser.java:57-83,138-153. */
  def readHcop(spark: SparkSession, path: String, destSpeciesTypeKey: Int,
               xrefDataSrc: String = "HGNC"): DataFrame = {
    val taxId = Species.taxonId(destSpeciesTypeKey).toString
    spark.read
      .option("sep", "\t")
      .schema(Schemas.hcop)
      .csv(path)
      .filter(col("ortho_taxon_id") === taxId) // F1: pushed to the scan
      .select(
        col("human_eg_id").as("srcOtherId"),
        col("ortho_eg_id").as("destOtherId"),
        lit(Species.HUMAN).as("srcSpeciesTypeKey"),
        lit(destSpeciesTypeKey).as("destSpeciesTypeKey"),
        lit(xrefDataSrc).as("dataSource"),
        // X2: dedupe+sort the assert-sources CSV at parse time
        Exprs.sanitizeEvidence(col("ortho_assert_sources")).as("dataSetName"))
  }

  /** NCBI gene_orthologs scan (S2) + taxon-pair filter (F2) + projection
    * (F4). Ref: OrthologRelationParser.java:84-101,155-166. */
  def readNcbi(spark: SparkSession, path: String, destSpeciesTypeKey: Int): DataFrame = {
    val humanTax = Species.taxonId(Species.HUMAN).toString
    val taxId = Species.taxonId(destSpeciesTypeKey).toString
    spark.read
      .option("sep", "\t")
      .option("comment", "#") // header line is '#tax_id ...'
      .schema(Schemas.ncbi)
      .csv(path)
      .filter(col("tax_id") === humanTax && col("other_tax_id") === taxId) // F2
      .select(
        col("gene_id").as("srcOtherId"),
        col("other_gene_id").as("destOtherId"),
        lit(Species.HUMAN).as("srcSpeciesTypeKey"),
        lit(destSpeciesTypeKey).as("destSpeciesTypeKey"),
        lit("NCBI").as("dataSource"),
        col("relationship").as("dataSetName"))
  }

  /** Union of HCOP + NCBI relations for an HCOP species (U1).
    * Ref: OrthologRelationParser.java:37-41. */
  def readHcopPlusNcbi(spark: SparkSession, hcopPath: String, ncbiPath: String,
                       destSpeciesTypeKey: Int): DataFrame =
    readHcop(spark, hcopPath, destSpeciesTypeKey)
      .unionByName(readNcbi(spark, ncbiPath, destSpeciesTypeKey))

  /** Alliance combined orthology TSV scan (S3): drop '#' comment lines and
    * the header, filter to the configured species set (F3), sort the
    * algorithm list (X3), transliterate Greek symbols (X4).
    * Ref: AgrTsvLoader.java:72-140,231-260. */
  def readAlliance(spark: SparkSession, path: String,
                   processedSpeciesKeys: Set[Int] = Species.dim.map(_._1).toSet): DataFrame = {
    val nameToKey = Species.dim.map(d => (d._4, d._1)).toMap
    val keys = processedSpeciesKeys
    // species name -> key map is tiny: inline it as a CASE expression so
    // the filter stays in the scan stage (no join, no UDF)
    def spKey(c: org.apache.spark.sql.Column) =
      nameToKey.foldLeft(lit(-1)) { case (acc, (name, key)) =>
        when(c === name, lit(key)).otherwise(acc)
      }
    spark.read
      .option("sep", "\t")
      .option("comment", "#")
      .option("header", "true") // first non-comment line is the header
      .schema(Schemas.alliance)
      .csv(path)
      .withColumn("speciesTypeKey1", spKey(col("gene1_species_name")))
      .withColumn("speciesTypeKey2", spKey(col("gene2_species_name")))
      .filter(col("speciesTypeKey1").isin(keys.toSeq: _*) &&
              col("speciesTypeKey2").isin(keys.toSeq: _*)) // F3
      .select(
        col("gene1_id").as("curie1"),
        Exprs.transliterateGreek(col("gene1_symbol")).as("geneSymbol1"),
        col("speciesTypeKey1"),
        col("gene2_id").as("curie2"),
        Exprs.transliterateGreek(col("gene2_symbol")).as("geneSymbol2"),
        col("speciesTypeKey2"),
        Exprs.sortAlgorithms(col("algorithms")).as("algorithms"),
        col("algorithms_match").as("algorithmsMatch"),
        col("out_of_algorithms").as("outOfAlgorithms"),
        (col("is_best_score") === "Yes").as("isBestScore"),
        (col("is_best_rev_score") === "Yes").as("isBestRevScore"))
  }

  /** HomoloGene fixed-column scan (S4) - deprecated loader's format.
    * Ref: HomologeneLoader.java:70-95. */
  def readHomologene(spark: SparkSession, path: String): DataFrame =
    spark.read
      .option("sep", "\t")
      .schema(Schemas.homologene)
      .csv(path)

  /** Sanity floor (D4): abort when the parsed relation volume is
    * implausibly low. A driver-side scalar count - the one place a
    * `count()` to the driver is the right tool.
    * Ref: OrthologRelationParser.java:47-49. */
  def requireSanityFloor(relations: DataFrame, floor: Long = 5000): DataFrame = {
    val n = relations.count()
    require(n >= floor,
      s"POSSIBLE PROBLEM WITH SOURCE FILE: only $n relations found (floor $floor)")
    relations
  }
}
