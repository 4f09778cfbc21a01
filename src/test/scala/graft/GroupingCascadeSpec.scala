package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{Cascade, Grouping}

/** A3 merge semantics (OrthologGroup.java:20-60), U2 complement
  * (:66-91), W4 cascade + W2 best-fit
  * (OrthologRelationLoader.java:454-578). */
class GroupingCascadeSpec extends SparkSpec {
  import spark.implicits._

  private def rel(src: Int, dest: Int, ds: String, dsn: String) =
    (src, dest, 1, 3, ds, dsn)

  private def relDf(rows: (Int, Int, Int, Int, String, String)*): DataFrame =
    rows.toDF("srcRgdId", "destRgdId", "srcSpeciesTypeKey",
      "destSpeciesTypeKey", "dataSource", "dataSetName")

  test("A3: same-source duplicates union evidence tokens, sorted+deduped") {
    val m = Grouping.mergeRelations(relDf(
      rel(1, 2, "HGNC", "OrthoDB, Ensembl"),
      rel(1, 2, "HGNC", "OMA, Ensembl")))
      .select("dataSource", "dataSetName").as[(String, String)].collect()
    assert(m.toSeq == Seq(("HGNC", "Ensembl, OMA, OrthoDB")))
  }

  test("A3: HGNC+NCBI merge appends the literal token NCBI (OrthologGroup:39-46)") {
    val m = Grouping.mergeRelations(relDf(
      rel(1, 2, "HGNC", "OrthoDB"),
      rel(1, 2, "NCBI", "Ortholog")))
      .select("dataSource", "dataSetName").as[(String, String)].collect()
    assert(m.toSeq == Seq(("HGNC", "NCBI, OrthoDB")))
  }

  test("A3: tokens split on comma + ONE whitespace, exactly like " +
    "mergeDataSetNames (OrthologGroup.java:55-58)") {
    // "OrthoDB,HomoloGene" (no space after the comma) is ONE token in
    // the reference - its split regex is \,\s, not \,\s*
    val m = Grouping.mergeRelations(relDf(
      rel(1, 2, "HGNC", "OrthoDB,HomoloGene"),
      rel(1, 2, "HGNC", "Ensembl, OMA")))
      .select("dataSetName").as[String].collect()
    assert(m.toSeq == Seq("Ensembl, OMA, OrthoDB,HomoloGene"))
  }

  test("A3: NCBI-only pair keeps NCBI source and its own dataset") {
    val m = Grouping.mergeRelations(relDf(rel(1, 2, "NCBI", "Ortholog")))
      .select("dataSource", "dataSetName").as[(String, String)].collect()
    assert(m.toSeq == Seq(("NCBI", "Ortholog")))
  }

  test("U2: complement mirrors each relation with swapped keys/species") {
    val c = Grouping.withComplementaryRelations(
      Grouping.mergeRelations(relDf(rel(1, 2, "HGNC", "OrthoDB"))))
    val rows = c.select("srcRgdId", "destRgdId", "srcSpeciesTypeKey",
      "destSpeciesTypeKey", "groupId").as[(Int, Int, Int, Int, Int)]
      .collect().toSet
    assert(rows == Set((1, 2, 1, 3, 1), (2, 1, 3, 1, 1)))
  }

  // ---- cascade fixtures ----
  private def emptyOrthologs = Fixture.emptyOrthologs(spark)
  private def emptyAgr = Fixture.emptyAgr(spark)

  private def genes(rows: (Int, String)*): DataFrame =
    rows.map { case (id, sym) => (id, sym, sym, "protein-coding", 3, sym) }
      .toDF("rgdId", "geneSymbol", "geneName", "geneTypeLc",
        "speciesTypeKey", "ensemblGeneSymbol")

  /** Runs EVERY tie-break case through both pick implementations (the
    * window-based and the aggregation-based one) and asserts they agree -
    * the two must stay interchangeable. */
  private def pick(relations: DataFrame, orthologs: DataFrame = null,
                   agr: DataFrame = null, gs: DataFrame = null): Seq[(Int, String, String)] = {
    val withGroup = relations.withColumn("groupId", col("srcRgdId"))
    val gdim = Option(gs).getOrElse(genes((2, "g2"), (3, "g3"), (4, "g4"), (1, "g1")))
    val cands = Cascade.candidates(withGroup,
      Option(orthologs).getOrElse(emptyOrthologs),
      Option(agr).getOrElse(emptyAgr), gdim)
    def out(df: DataFrame): Seq[(Int, String, String)] =
      df.select("destRgdId", "xrefDataSrc", "method")
        .as[(Int, String, String)].collect().toSeq.sortBy(_._1)
    val windowed = out(Cascade.pickStrongOrthologs(cands, gdim))
    val agged = out(Cascade.pickStrongOrthologsAgg(cands, gdim))
    assert(windowed == agged,
      s"window vs aggregation cascade picks diverge: $windowed != $agged")
    windowed
  }

  test("W2 rule 0: singleton wins (oneRel)") {
    assert(pick(relDf(rel(1, 2, "NCBI", "Ortholog"))) ==
      Seq((2, "NCBI", "oneRel")))
  }

  test("W2 rule 1: strictly-max evidence wins (longestEvidence)") {
    assert(pick(relDf(
      rel(1, 2, "NCBI", "A, B, C"),
      rel(1, 3, "NCBI", "A, B"))) == Seq((2, "NCBI", "longestEvidence")))
  }

  test("W2 rule 2: evidence tie -> dest symbol matching src symbol wins") {
    val gs = genes((1, "Abc"), (2, "zzz"), (3, "ABC"))
    assert(pick(relDf(
      rel(1, 2, "NCBI", "A, B"),
      rel(1, 3, "NCBI", "C, D")), gs = gs) == Seq((3, "NCBI", "symbolMatch")))
  }

  test("W2 rule 3: no strict max, no symbol match -> min ci symbol over ALL " +
    "candidates (even lower-evidence ones)") {
    val gs = genes((1, "src"), (2, "bbb"), (3, "ccc"), (4, "AAA"))
    // 2 and 3 tie at evidence 2; 4 has less evidence but smallest symbol:
    // the reference's final sort ranks ALL relations by symbol (Loader:568-575)
    assert(pick(relDf(
      rel(1, 2, "NCBI", "A, B"),
      rel(1, 3, "NCBI", "C, D"),
      rel(1, 4, "NCBI", "E")), gs = gs) == Seq((4, "NCBI", "shortestSymbol")))
  }

  test("W4: HGNC tier beats NCBI tier regardless of evidence") {
    assert(pick(relDf(
      rel(1, 2, "NCBI", "A, B, C, D"),
      rel(1, 3, "HGNC", "X"))) == Seq((3, "HGNC", "oneRel")))
  }

  test("W4: manual ortholog wins over everything; manual conflict -> no pick") {
    val manual1 = Seq((10L, 1, 4, 1, 3, "RGD", "curated", 11, 1)).toDF(
      "key", "srcRgdId", "destRgdId", "srcSpeciesTypeKey",
      "destSpeciesTypeKey", "xrefDataSrc", "xrefDataSet", "orthologTypeKey",
      "createdBy")
    assert(pick(relDf(rel(1, 2, "HGNC", "X")), orthologs = manual1) ==
      Seq((4, "RGD", "tierPick")))

    val manual2 = Seq(
      (10L, 1, 4, 1, 3, "RGD", "curated", 11, 1),
      (11L, 1, 3, 1, 3, "RGD", "curated", 11, 1)).toDF(
      "key", "srcRgdId", "destRgdId", "srcSpeciesTypeKey",
      "destSpeciesTypeKey", "xrefDataSrc", "xrefDataSet", "orthologTypeKey",
      "createdBy")
    // >1 manual candidate: CONFLICT -> no pick at all (Loader:468-471)
    assert(pick(relDf(rel(1, 2, "HGNC", "X")), orthologs = manual2).isEmpty)
  }

  test("W4: Alliance mutual-best outranks HGNC; non-mutual-best ignored") {
    val agr = Seq(
      (1, 3, "stringent", "Y", "Y", "OMA|PANTHER"),
      (1, 4, "stringent", "Y", "N", "OMA")).toDF(
      "geneRgdId1", "geneRgdId2", "confidence", "isBestScore",
      "isBestRevScore", "methodsMatched")
    assert(pick(relDf(rel(1, 2, "HGNC", "X")), agr = agr) ==
      Seq((3, "Alliance", "tierPick")))
  }

  test("W4 conflict: >1 mutual-best partner yields NO pick and does not " +
    "fall through to lower tiers") {
    val agr = Seq(
      (1, 3, "stringent", "Y", "Y", "OMA"),
      (1, 4, "stringent", "Y", "Y", "OMA")).toDF(
      "geneRgdId1", "geneRgdId2", "confidence", "isBestScore",
      "isBestRevScore", "methodsMatched")
    // tier-2 HGNC candidate exists, but the tier-3 conflict masks it
    assert(pick(relDf(rel(1, 2, "HGNC", "X")), agr = agr) == Seq())
  }

  test("SCALE: a hub gene's partner list pre-aggregates to a bounded " +
    "candidate count (1 row if sole partner, 2 if conflict)") {
    // 500 mutual-best partners for gene 1 (a degenerate hub), 1 for gene 9
    val hub = (101 to 600).map(d => (1, d, "stringent", "Y", "Y", "OMA"))
    val agr = (hub :+ ((9, 101, "stringent", "Y", "Y", "OMA"))).toDF(
      "geneRgdId1", "geneRgdId2", "confidence", "isBestScore",
      "isBestRevScore", "methodsMatched")
    val gdim = genes(((101 to 600) :+ 1 :+ 9).map(i => (i, s"g$i")): _*)
    val rels = relDf(rel(1, 101, "HGNC", "X"), rel(9, 101, "HGNC", "X"))
      .withColumn("groupId", col("srcRgdId"))
    val cands = Cascade.candidates(rels, emptyOrthologs, agr, gdim)
    val tier3 = cands.filter(col("tier") === 3)
      .groupBy("srcRgdId").count().as[(Int, Long)].collect().toMap
    assert(tier3(1) == 2L, "hub conflict collapses to exactly 2 marker rows")
    assert(tier3(9) == 1L, "sole partner stays a single candidate")
    // end-to-end: hub -> conflict (no pick), sole partner -> tierPick
    val picks = pick(rels.drop("groupId"), agr = agr, gs = gdim)
    assert(picks == Seq((101, "Alliance", "tierPick")))
  }

  test("property: a pick always comes from the maximal tier present " +
    "(seeded random trials)") {
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 20) {
      val n = 1 + rnd.nextInt(5)
      val rows = (0 until n).map { _ =>
        (2 + rnd.nextInt(8), if (rnd.nextBoolean()) "HGNC" else "NCBI",
          if (rnd.nextBoolean()) "A" else "A, B")
      }.groupBy(r => r._1).map(_._2.head).toSeq
      val df = relDf(rows.map { case (d, ds, ev) => rel(1, d, ds, ev) }: _*)
      val picks = pick(Grouping.mergeRelations(df)
        .select("srcRgdId", "destRgdId", "srcSpeciesTypeKey",
          "destSpeciesTypeKey", "dataSource", "dataSetName"))
      assert(picks.size == 1)
      // after merge a pair has source HGNC iff any HGNC relation existed
      val expectedSrc = if (rows.exists(_._2 == "HGNC")) "HGNC" else "NCBI"
      assert(picks.head._2 == expectedSrc)
    }
  }
}

object Fixture {
  import org.apache.spark.sql.{DataFrame, SparkSession}

  def emptyOrthologs(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq.empty[(Long, Int, Int, Int, Int, String, String, Int, Int)].toDF(
      "key", "srcRgdId", "destRgdId", "srcSpeciesTypeKey",
      "destSpeciesTypeKey", "xrefDataSrc", "xrefDataSet", "orthologTypeKey",
      "createdBy")
  }

  def emptyAgr(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq.empty[(Int, Int, String, String, String, String)].toDF(
      "geneRgdId1", "geneRgdId2", "confidence", "isBestScore",
      "isBestRevScore", "methodsMatched")
  }
}
