package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.Species
import graft.sources.Readers

/** Deterministic ortholog-shaped fixtures derived from the driver's
  * TPC-H-ish test tables - the flagship query runs the full pipeline on
  * these (no synthetic data generated outside /root/testdata; every row
  * derives 1:1 from a testdata row).
  *
  * Mapping: `part` rows become genes (even keys human, odd keys rat),
  * `lineitem` rows become HCOP/NCBI ortholog relations between them,
  * `orders` rows seed the AGR mutual-best table.
  */
object Fixtures {

  /** Gene dimension: rgdId = p_partkey + 1000 (reserve low ids), species
    * by parity, symbol from p_name. */
  def genes(spark: SparkSession, dir: String): DataFrame =
    Readers.table(spark, dir, "part").select(
      (col("p_partkey") + 1000).cast("int").as("rgdId"),
      col("p_name").as("geneSymbol"),
      col("p_name").as("geneName"),
      when(col("p_partkey") % 37 === 0, "allele")
        .otherwise("protein-coding").as("geneTypeLc"),
      when(col("p_partkey") % 2 === 0, Species.HUMAN)
        .otherwise(Species.RAT).cast("int").as("speciesTypeKey"),
      upper(col("p_name")).as("ensemblGeneSymbol"))

  /** Object registry: every 17th gene WITHDRAWN, the rest ACTIVE. */
  def rgdIds(spark: SparkSession, dir: String): DataFrame =
    genes(spark, dir).select(
      col("rgdId"),
      when(col("rgdId") % 17 === 0, "WITHDRAWN").otherwise("ACTIVE")
        .as("objectStatus"),
      col("speciesTypeKey"))

  /** EntrezGene xrefs: accId "EG<rgdId>". */
  def xrefs(spark: SparkSession, dir: String): DataFrame =
    genes(spark, dir).select(
      col("rgdId").cast("long").as("accXdbKey"),
      col("rgdId"),
      lit(graft.model.XdbKeys.ENTREZGENE).as("xdbKey"),
      concat(lit("EG"), col("rgdId")).as("accId"),
      lit("fixture").as("srcPipeline"),
      lit(java.sql.Timestamp.valueOf("2026-01-01 00:00:00")).as("modificationDate"))

  /** Withdrawn -> replacement: next even/odd id two above (same parity,
    * usually ACTIVE). */
  def history(spark: SparkSession, dir: String): DataFrame =
    rgdIds(spark, dir).filter(col("objectStatus") === "WITHDRAWN")
      .select(col("rgdId").as("oldRgdId"),
        (col("rgdId") + 2).cast("int").as("newRgdId"))

  /** HCOP/NCBI-shaped relations from lineitem: human gene from
    * l_orderkey, rat gene from l_partkey; source by line parity;
    * evidence CSV from the flags. */
  def relations(spark: SparkSession, dir: String): DataFrame = {
    val li = Readers.table(spark, dir, "lineitem")
    val humanId = (pmod(col("l_orderkey"), lit(100)) * 2 + 1000).cast("int")
    val ratId = (pmod(col("l_partkey"), lit(100)) * 2 + 1001).cast("int")
    li.select(
      concat(lit("EG"), humanId).as("srcOtherId"),
      concat(lit("EG"), ratId).as("destOtherId"),
      lit(Species.HUMAN).as("srcSpeciesTypeKey"),
      lit(Species.RAT).as("destSpeciesTypeKey"),
      when(col("l_linenumber") % 2 === 1, "HGNC").otherwise("NCBI").as("dataSource"),
      when(col("l_linenumber") % 2 === 1,
        concat_ws(", ",
          when(col("l_returnflag") === "R", "OrthoDB").otherwise("Ensembl"),
          when(col("l_linestatus") === "F", "OMA").otherwise("HomoloGene")))
        .otherwise(lit("Ortholog")).as("dataSetName"))
  }

  /** AGR mutual-best rows from orders (sparse: every 5th order). */
  def agrOrthologs(spark: SparkSession, dir: String): DataFrame = {
    val o = Readers.table(spark, dir, "orders").filter(col("o_orderkey") % 5 === 0)
    val ts = java.sql.Timestamp.valueOf("2026-06-01 00:00:00")
    o.select(
      (pmod(col("o_orderkey"), lit(100)) * 2 + 1000).cast("int").as("geneRgdId1"),
      (pmod(col("o_custkey"), lit(100)) * 2 + 1001).cast("int").as("geneRgdId2"),
      lit("stringent").as("confidence"),
      when(col("o_orderstatus") =!= "P", "Y").otherwise("N").as("isBestScore"),
      when(col("o_totalprice") > 50000, "Y").otherwise("N").as("isBestRevScore"),
      lit("Ensembl Compara|InParanoid|OMA").as("methodsMatched"),
      lit(ts).as("createdDate"),
      lit(ts).as("lastUpdateDate"))
  }

  /** Prior ortholog state: a handful of manual rows (every 50th human
    * gene) so the manual tier and F11 guards are exercised. */
  def orthologs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ts = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    val derived = genes(spark, dir)
      .filter(col("speciesTypeKey") === Species.HUMAN && col("rgdId") % 50 === 0)
      .select(
        col("rgdId").cast("long").as("key"),
        col("rgdId").as("srcRgdId"),
        (col("rgdId") + 1).cast("int").as("destRgdId"),
        lit(Species.HUMAN).as("srcSpeciesTypeKey"),
        lit(Species.RAT).as("destSpeciesTypeKey"),
        lit("RGD").as("xrefDataSrc"),
        lit("curated").as("xrefDataSet"),
        lit(Species.directOrthologTypeKey).as("orthologTypeKey"),
        lit(1).as("createdBy"), lit(ts).as("createdDate"),
        lit(1).as("lastModifiedBy"), lit(ts).as("lastModifiedDate"),
        lit(null).cast("double").as("percentHomology"),
        lit(null).cast("int").as("groupId"))
    // planted status-visibility rows (r16 cluster; keys 1-3 sit below
    // the rgdId-derived key range so max-key insert numbering is
    // untouched at every SF). All planted ids exist at every SF and
    // keep their status by the global %17 rule:
    //  - key 3: a MANUAL row whose dest 1037 (=17*61) is WITHDRAWN -
    //    invisible to the reconcile, scoped out of the cascade's manual
    //    tier (src 1002 has live relations, so an unscoped tier-4 would
    //    steal that pick), and never a D1 candidate; it must ride
    //    through to the final state byte-identical.
    //  - keys 1+2: a no-incoming-key duplicate pair in the CLI flows
    //    ((1010, rat) has no TSV relation): conflict cleanup must NOT
    //    fire (no incoming), the depleting sweep deletes the LOWER key
    //    first and blocks at one active row, and the survivor - key 2,
    //    evidence "C", NOT the W3-best - is what D1 then downgrades,
    //    so the association subtype records which row survived.
    val planted = Seq(
      (1L, 1010, 1011, "NCBI", "A, B"),
      (2L, 1010, 1013, "NCBI", "C"),
      (3L, 1002, 1037, "RGD", "curated"))
      .toDF("key", "srcRgdId", "destRgdId", "xrefDataSrc", "xrefDataSet")
      .select(col("key"), col("srcRgdId"), col("destRgdId"),
        lit(Species.HUMAN).as("srcSpeciesTypeKey"),
        lit(Species.RAT).as("destSpeciesTypeKey"),
        col("xrefDataSrc"), col("xrefDataSet"),
        lit(Species.directOrthologTypeKey).as("orthologTypeKey"),
        lit(1).as("createdBy"), lit(ts).as("createdDate"),
        lit(1).as("lastModifiedBy"), lit(ts).as("lastModifiedDate"),
        lit(null).cast("double").as("percentHomology"),
        lit(null).cast("int").as("groupId"))
    derived.unionByName(planted)
  }

  /** Alliance-combined-TSV-shaped lines pairing each human gene with its
    * odd-id rat neighbor: the human side resolves via the M5 symbol step
    * (unknown curie, known symbol), the rat side via the RGD: special-id
    * parse - so the flagship AGR query exercises both cascade branches. */
  def allianceLines(spark: SparkSession, dir: String): DataFrame = {
    val humans = genes(spark, dir).filter(col("speciesTypeKey") === Species.HUMAN)
    humans.select(
      concat(lit("AGR:H"), col("rgdId")).as("curie1"),
      col("geneSymbol").as("geneSymbol1"),
      lit(Species.HUMAN).as("speciesTypeKey1"),
      concat(lit("RGD:"), col("rgdId") + 1).as("curie2"),
      lit("ratsym").as("geneSymbol2"),
      lit(Species.RAT).as("speciesTypeKey2"),
      // VARIED per line (one value matching the prior-state constant):
      // a constant algorithms column made both sides' methodsMatched
      // literals, Catalyst folded the upsert's key equality to FALSE,
      // and the full-outer degenerated to a condition-false
      // BroadcastNestedLoopJoin - O(|incoming| x |state|), 250s at 10x
      // vs ~1s as an equi-join (found by the round-9 10x scaling gate;
      // parquet-scanned production columns can never fold this way)
      element_at(array(lit("OMA|PANTHER"),
          lit("Ensembl Compara|InParanoid|OMA"), lit("PANTHER|PhylomeDB")),
        (pmod(col("rgdId"), lit(3)) + 1).cast("int")).as("algorithms"),
      lit("2").as("algorithmsMatch"),
      lit("9").as("outOfAlgorithms"),
      (col("rgdId") % 4 === 0).as("isBestScore"),
      lit(true).as("isBestRevScore"))
  }

  def associations(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val ts = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    // planted prior-state rows: the S6 sync scope must carry (a) an
    // out-of-scope species PAIR (human<->human - as another run's rows
    // would be) and (b) an out-of-scope assoc TYPE on the run pair
    // through a rat run byte-identical, while (c) in-scope stale weak
    // rows classify as the run's deletes (WeakSync.syncScope; the
    // unscoped-diff bug class deleted (a) too - the CLI golden locks
    // the distinction in). All ids live in the sf gene dimension
    // (1001..1200 at sf0.001): evens human, odds rat, none withdrawn.
    // (d) r16 status-visibility plant: a mirrored weak pair whose one
    // master (1003 = 17*59) is WITHDRAWN. The reverse-assoc existence
    // check joins the registry on the DETAIL side, so the
    // inactive-master row sees its existing reverse as MISSING: D2 must
    // insert a duplicate mirror (master=1002, detail=1003) even though
    // that row already exists - exactly what the reference does - while
    // the active-master row sees its reverse and hits the both-queued
    // rule. A status-blind reverse check would insert nothing.
    Seq(
      (900001L, "weak_ortholog", "OldEvidence", 1002, 1004, "NCBI", ts),
      (900002L, "annotation", "x", 1002, 1003, "NCBI", ts),
      (900003L, "weak_ortholog", "Stale", 1004, 1005, "NCBI", ts),
      (900004L, "weak_ortholog", "Stale", 1005, 1004, "NCBI", ts),
      (900005L, "weak_ortholog", "Mirror", 1003, 1002, "NCBI", ts),
      (900006L, "weak_ortholog", "Mirror", 1002, 1003, "NCBI", ts)
    ).toDF("assocKey", "assocType", "assocSubType", "masterRgdId",
      "detailRgdId", "srcPipeline", "creationDate")
  }

  /** Full prior-state snapshot for the flagship run. */
  def state(spark: SparkSession, dir: String): OrthologPipeline.State =
    OrthologPipeline.State(
      orthologs = orthologs(spark, dir),
      associations = associations(spark),
      agrOrthologs = agrOrthologs(spark, dir),
      xrefs = xrefs(spark, dir),
      genes = genes(spark, dir),
      rgdIds = rgdIds(spark, dir),
      history = history(spark, dir))
}
