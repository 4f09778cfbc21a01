package graft.model

import org.apache.spark.sql.types._

/** Data model for the ortholog analytics engine.
  *
  * Mirrors the reference's flat record types (see
  * `/root/reference/src/main/java/edu/mcw/rgd/dataload/OrthologRelation.java:7-15`
  * and the rgdcore `Ortholog`/`Association` beans) re-expressed as Spark
  * case classes + schemas. The Oracle tables of the reference become
  * Parquet-backed DataFrames: each pipeline flow is a pure function
  * `(sources, stateIn) => (stateOut, audit)`.
  */

/** A raw ortholog relation parsed from HCOP / NCBI files.
  * Ref: OrthologRelation.java:7-15. */
case class OrthologRelation(
    srcRgdId: Int,
    destRgdId: Int,
    srcSpeciesTypeKey: Int,
    destSpeciesTypeKey: Int,
    srcOtherId: String,
    destOtherId: String,
    dataSource: String, // "HGNC" | "NCBI"
    dataSetName: String // evidence CSV, e.g. "Ensembl, HomoloGene, OMA"
)

/** A strong ortholog row (reference table GENETOGENE_RGD_ID_RLT).
  * Ref: rgdcore `edu.mcw.rgd.datamodel.Ortholog` (javap).
  *
  * `percentHomology` and `groupId` are nullable passthroughs for
  * column-level parity with the reference bean: the reference pipelines
  * never WRITE percentHomology, and groupId is populated from the
  * cascade's group (the human gene id) on inserted picks while prior
  * state keeps whatever it carried. */
case class Ortholog(
    key: Long,
    srcRgdId: Int,
    destRgdId: Int,
    srcSpeciesTypeKey: Int,
    destSpeciesTypeKey: Int,
    xrefDataSrc: String, // RGD | Alliance | HGNC | NCBI
    xrefDataSet: String,
    orthologTypeKey: Int,
    createdBy: Int,
    createdDate: java.sql.Timestamp,
    lastModifiedBy: Int,
    lastModifiedDate: java.sql.Timestamp,
    percentHomology: Option[Double],
    groupId: Option[Int]
)

/** A weak-ortholog association row (reference table RGD_ASSOCIATIONS).
  * Unique key = (masterRgdId, detailRgdId, assocType, srcPipeline),
  * per rgdcore `Association.equals` (javap). */
case class Association(
    assocKey: Long,
    assocType: String, // "weak_ortholog"
    assocSubType: String,
    masterRgdId: Int,
    detailRgdId: Int,
    srcPipeline: String,
    creationDate: java.sql.Timestamp
)

/** AGR mutual-best ortholog row (reference table AGR_ORTHOLOGS).
  * Ref: OrthologRelationDao.java:825-877. */
case class AgrOrtholog(
    geneRgdId1: Int,
    geneRgdId2: Int,
    confidence: String,
    isBestScore: String, // "Y"/"N"
    isBestRevScore: String,
    methodsMatched: String,
    createdDate: java.sql.Timestamp,
    lastUpdateDate: java.sql.Timestamp
)

object Species {
  // Dense integer species keys; ref: rgdcore SpeciesType constants (javap).
  val HUMAN = 1; val MOUSE = 2; val RAT = 3; val DOG = 6
  val ZEBRAFISH = 8; val PIG = 9; val FRUITFLY = 10
  val ROUNDWORM = 11; val YEAST = 12; val ALL = 0

  /** (speciesTypeKey, commonName, ncbiTaxonId, taxonomicName).
    * Taxon ids are the public NCBI taxonomy ids used by the HCOP / NCBI /
    * Alliance files themselves (ref: OrthologRelationParser.java:64-67,
    * AgrTsvLoader.java:96-102). Replaces rgdcore's DB-backed SpeciesType
    * dimension with a broadcastable in-memory table.
    */
  val dim: Seq[(Int, String, Int, String)] = Seq(
    (1, "human", 9606, "Homo sapiens"),
    (2, "mouse", 10090, "Mus musculus"),
    (3, "rat", 10116, "Rattus norvegicus"),
    (6, "dog", 9615, "Canis lupus familiaris"),
    (8, "zebrafish", 7955, "Danio rerio"),
    (9, "pig", 9823, "Sus scrofa"),
    (10, "fruitfly", 7227, "Drosophila melanogaster"),
    (11, "roundworm", 6239, "Caenorhabditis elegans"),
    (12, "yeast", 559292, "Saccharomyces cerevisiae")
  )

  def taxonId(speciesTypeKey: Int): Int =
    dim.find(_._1 == speciesTypeKey).map(_._3)
      .getOrElse(sys.error(s"unknown species type key $speciesTypeKey"))

  /** Parse a species name / taxonomic name to a species key (rgdcore
    * SpeciesType.parse equivalent); -1 if unknown. */
  def parse(name: String): Int = {
    val n = Option(name).getOrElse("").trim.toLowerCase
    dim.find(d => d._2 == n || d._4.toLowerCase == n).map(_._1).getOrElse(-1)
  }

  val directOrthologTypeKey = 11 // human-involved pairs; ref AppConfigure.xml:21
  val transitiveOrthologTypeKey = 13 // non-human pairs; ref AppConfigure.xml:22
}

object Schemas {
  // HCOP human_all_hcop_sixteen_column.txt: 16 tab-separated columns.
  // Ref: OrthologRelationParser.java:15-21,138-153.
  val hcop: StructType = StructType(Seq(
    StructField("ortho_taxon_id", StringType),   // col 0
    StructField("human_eg_id", StringType),      // col 1
    StructField("human_ensembl", StringType),
    StructField("human_hgnc", StringType),
    StructField("human_gene_name", StringType),
    StructField("human_gene_symbol", StringType),
    StructField("human_chr", StringType),
    StructField("human_assert_ids", StringType),
    StructField("ortho_eg_id", StringType),      // col 8
    StructField("ortho_ensembl", StringType),
    StructField("ortho_ext_id", StringType),
    StructField("ortho_gene_name", StringType),
    StructField("ortho_gene_symbol", StringType),
    StructField("ortho_chr", StringType),
    StructField("ortho_assert_ids", StringType),
    StructField("ortho_assert_sources", StringType) // col 15, CSV
  ))

  // NCBI gene_orthologs: 5 tab-separated columns, '#'-prefixed header.
  // Ref: OrthologRelationParser.java:85-100.
  val ncbi: StructType = StructType(Seq(
    StructField("tax_id", StringType),
    StructField("gene_id", StringType),
    StructField("relationship", StringType),
    StructField("other_tax_id", StringType),
    StructField("other_gene_id", StringType)
  ))

  // Alliance ORTHOLOGY-ALLIANCE_COMBINED.tsv: 13 tab-separated columns,
  // '#' comments + one header line. Ref: AgrTsvLoader.java:95-128,242-253.
  val alliance: StructType = StructType(Seq(
    StructField("gene1_id", StringType),
    StructField("gene1_symbol", StringType),
    StructField("gene1_species_taxon_id", StringType),
    StructField("gene1_species_name", StringType),
    StructField("gene2_id", StringType),
    StructField("gene2_symbol", StringType),
    StructField("gene2_species_taxon_id", StringType),
    StructField("gene2_species_name", StringType),
    StructField("algorithms", StringType), // '|'-separated
    StructField("algorithms_match", StringType),
    StructField("out_of_algorithms", StringType),
    StructField("is_best_score", StringType),     // "Yes"/"No"
    StructField("is_best_rev_score", StringType)
  ))

  // HomoloGene homologene.data: group id, taxon id, gene id (first 3 cols).
  // Ref: HomologeneLoader.java:75-88.
  val homologene: StructType = StructType(Seq(
    StructField("homologene_group_id", IntegerType),
    StructField("tax_id", IntegerType),
    StructField("gene_id", StringType)
  ))

  // ---- state-table schemas (Parquet-backed "database") ----

  val orthologs: StructType = StructType(Seq(
    StructField("key", LongType),
    StructField("srcRgdId", IntegerType),
    StructField("destRgdId", IntegerType),
    StructField("srcSpeciesTypeKey", IntegerType),
    StructField("destSpeciesTypeKey", IntegerType),
    StructField("xrefDataSrc", StringType),
    StructField("xrefDataSet", StringType),
    StructField("orthologTypeKey", IntegerType),
    StructField("createdBy", IntegerType),
    StructField("createdDate", TimestampType),
    StructField("lastModifiedBy", IntegerType),
    StructField("lastModifiedDate", TimestampType)
  ))

  val associations: StructType = StructType(Seq(
    StructField("assocKey", LongType),
    StructField("assocType", StringType),
    StructField("assocSubType", StringType),
    StructField("masterRgdId", IntegerType),
    StructField("detailRgdId", IntegerType),
    StructField("srcPipeline", StringType),
    StructField("creationDate", TimestampType)
  ))

  val agrOrthologs: StructType = StructType(Seq(
    StructField("geneRgdId1", IntegerType),
    StructField("geneRgdId2", IntegerType),
    StructField("confidence", StringType),
    StructField("isBestScore", StringType),
    StructField("isBestRevScore", StringType),
    StructField("methodsMatched", StringType),
    StructField("createdDate", TimestampType),
    StructField("lastUpdateDate", TimestampType)
  ))

  // RGD_ACC_XDB external-id crosswalk. xdb_key: 3=EntrezGene, 63=AGR_GENE,
  // 5=MGD, 21=HGNC (rgdcore XdbId constants, javap).
  val xrefs: StructType = StructType(Seq(
    StructField("accXdbKey", LongType),
    StructField("rgdId", IntegerType),
    StructField("xdbKey", IntegerType),
    StructField("accId", StringType),
    StructField("srcPipeline", StringType),
    StructField("modificationDate", TimestampType)
  ))

  val genes: StructType = StructType(Seq(
    StructField("rgdId", IntegerType),
    StructField("geneSymbol", StringType),
    StructField("geneName", StringType),
    StructField("geneTypeLc", StringType),
    StructField("speciesTypeKey", IntegerType),
    StructField("ensemblGeneSymbol", StringType)
  ))

  val rgdIds: StructType = StructType(Seq(
    StructField("rgdId", IntegerType),
    StructField("objectStatus", StringType), // ACTIVE | WITHDRAWN | RETIRED
    StructField("speciesTypeKey", IntegerType)
  ))

  val rgdIdHistory: StructType = StructType(Seq(
    StructField("oldRgdId", IntegerType),
    StructField("newRgdId", IntegerType)
  ))

  // ---- sfDir tables: the driver's read-only `<dir>/<name>.parquet` ----
  // (FIXTURES.md §C). Declared so that a read never starts a schema-
  // inference job; each DDL is `spark.read.parquet(p).schema.toDDL`.
  // `events` leaves out its TIMESTAMP(NANOS) `ts`, which Spark's
  // parquet reader rejects. Read them with `Readers.table`.
  val sfTables: Map[String, StructType] = Map(
    "region" -> "r_regionkey INT,r_name STRING",
    "nation" -> "n_nationkey INT,n_name STRING,n_regionkey INT",
    "customer" -> ("c_custkey BIGINT,c_name STRING,c_nationkey INT," +
      "c_acctbal DOUBLE,c_mktsegment STRING"),
    "supplier" -> "s_suppkey BIGINT,s_name STRING,s_nationkey INT,s_acctbal DOUBLE",
    "part" -> ("p_partkey BIGINT,p_name STRING,p_brand STRING,p_type STRING," +
      "p_size INT,p_retailprice DOUBLE"),
    "orders" -> ("o_orderkey BIGINT,o_custkey BIGINT,o_orderstatus STRING," +
      "o_totalprice DOUBLE,o_orderdate TIMESTAMP_NTZ,o_orderpriority STRING"),
    "lineitem" -> ("l_orderkey BIGINT,l_partkey BIGINT,l_suppkey BIGINT," +
      "l_linenumber INT,l_quantity DOUBLE,l_extendedprice DOUBLE," +
      "l_discount DOUBLE,l_tax DOUBLE,l_returnflag STRING," +
      "l_linestatus STRING,l_shipdate TIMESTAMP_NTZ"),
    "events" -> ("event_id BIGINT,user_id BIGINT,event_type STRING," +
      "value DOUBLE,props STRING"),
    "documents" -> "doc_id BIGINT,text STRING,lang STRING,source STRING,n_chars BIGINT",
    "embeddings" -> "vec_id BIGINT,embedding ARRAY<FLOAT>,label INT"
  ).map { case (name, ddl) => name -> StructType.fromDDL(ddl) }

  /** The declared schema of sfDir table `name`. */
  def sfTable(name: String): StructType =
    sfTables.getOrElse(name,
      throw new IllegalArgumentException(s"no declared schema for sfDir table '$name'"))
}

object XdbKeys {
  val ENTREZGENE = 3 // rgdcore XdbId.XDB_KEY_ENTREZGENE
  val MGD = 5        // rgdcore XdbId.XDB_KEY_MGD
  val HGNC = 21      // rgdcore XdbId.XDB_KEY_HGNC
  val AGR_GENE = 63  // OrthologRelationDao.java:43
}
