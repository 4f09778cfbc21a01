package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import graft.model.Species
import graft.operators.Maintenance
import graft.pipeline.OrthologPipeline
import graft.AgrRefModel.Line

/** Cross-run state-evolution pin for the species loop: the reference's
  * production shape is a LOOP over species against shared state
  * (OrthologRelationLoadingManager.java:86-96 runs every searchable
  * non-human species in sequence), then the AGR flow, then fixXRef as a
  * maintenance pass. Every other pipeline spec is single-run; this one
  * chains RAT -> MOUSE -> RAT-again -> AGR -> fixXRef, with each run's
  * inputs built from the PREVIOUS run's engine outputs (orthologs +
  * associations state handoff, the first leg through the bucketed
  * PhaseStore - the production persistence).
  *
  * The assertions are the reference-grounded cross-run invariants:
  *
  *  1. PAIR SCOPING: a later species run leaves the earlier pair's
  *     ortholog AND weak-association state byte-identical (the loader
  *     reads, diffs, and writes only the run's (human, species) pair -
  *     the round-15 WeakSync.syncScope bug class, proven here across
  *     real runs rather than inside one);
  *  2. KEY CONTINUATION: surrogate keys of a later run's inserts
  *     continue strictly above ALL prior state keys (the shared
  *     sequence);
  *  3. IDEMPOTENCE: re-running a species with identical input against
  *     the evolved state is all-match - zero inserts, deletes,
  *     downgrades, dup-cleanups, weak-sync inserts or deletes (the
  *     reference sync re-matches every key; any mis-scoped diff or key
  *     drift would misclassify);
  *  4. the AGR leg's synthesized gene ids continue above the shared
  *     gene dimension, and a second AGR leg map-resolves via the first
  *     leg's persisted bindings (deep-covered in
  *     AgrMultiRunPropertySpec; asserted here on the SAME chained
  *     universe);
  *  5. fixXRef over the final chained state equals the row-at-a-time
  *     Dao model (split ", ", single-token skip, strictly-shorter) -
  *     the maintenance pass sees real pipeline-built evidence lists.
  *
  * Teeth: unscoping the weak-sync diff (the exact r15 bug) fails
  * invariant 1/3; re-keying from zero fails 2; a sync that re-inserts
  * matched rows fails 3.
  */
class PipelineMultiRunSpec extends SparkSpec {
  import spark.implicits._

  private val ts0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
  private val ts1 = java.sql.Timestamp.valueOf("2026-08-01 00:00:00")
  private val ts2 = java.sql.Timestamp.valueOf("2026-08-02 00:00:00")
  private val ts3 = java.sql.Timestamp.valueOf("2026-08-03 00:00:00")

  // humans 1,2; rats 11,12,13; mice 21,22
  private val geneRows = Seq(
    (1, "gA", 1), (2, "gB", 1),
    (11, "ga", 3), (12, "other", 3), (13, "zz", 3),
    (21, "Ga", 2), (22, "mz", 2))

  private def genes: DataFrame = geneRows
    .map { case (id, sym, sp) => (id, sym, sym, "protein-coding", sp, sym) }
    .toDF("rgdId", "geneSymbol", "geneName", "geneTypeLc",
      "speciesTypeKey", "ensemblGeneSymbol")

  private def rgdIds: DataFrame = geneRows
    .map { case (id, _, sp) => (id, "ACTIVE", sp) }
    .toDF("rgdId", "objectStatus", "speciesTypeKey")

  private def xrefs: DataFrame = geneRows.zipWithIndex
    .map { case ((id, _, _), i) => (i + 1L, id, 3, s"EG$id", "p", ts0) }
    .toDF("accXdbKey", "rgdId", "xdbKey", "accId", "srcPipeline",
      "modificationDate")

  private def state0 = OrthologPipeline.State(
    orthologs = Seq(
      // prior NCBI rat-pair row, re-picked by the rat relations below
      (100L, 2, 13, 1, 3, "NCBI", "Ortholog", 11, 70, ts0, 70, ts0)
    ).toDF("key", "srcRgdId", "destRgdId", "srcSpeciesTypeKey",
      "destSpeciesTypeKey", "xrefDataSrc", "xrefDataSet", "orthologTypeKey",
      "createdBy", "createdDate", "lastModifiedBy", "lastModifiedDate"),
    associations = Seq(
      // an out-of-scope assoc type: must survive every run untouched
      (50L, "annotation", "x", 1, 11, "NCBI", ts0)
    ).toDF("assocKey", "assocType", "assocSubType", "masterRgdId",
      "detailRgdId", "srcPipeline", "creationDate"),
    agrOrthologs = Fixture.emptyAgr(spark),
    xrefs = xrefs, genes = genes, rgdIds = rgdIds,
    history = Seq.empty[(Int, Int)].toDF("oldRgdId", "newRgdId"))

  private def ratRels: DataFrame = Seq(
    ("EG1", "EG11", "HGNC", "Ensembl, OMA"),
    ("EG1", "EG12", "HGNC", "OrthoDB, OrthoDB, HomoloGene"), // dup tokens
    ("EG2", "EG13", "NCBI", "Ortholog")
  ).map { case (s, d, src, ev) => (s, d, 1, 3, src, ev) }
    .toDF("srcOtherId", "destOtherId", "srcSpeciesTypeKey",
      "destSpeciesTypeKey", "dataSource", "dataSetName")

  private def mouseRels: DataFrame = Seq(
    ("EG1", "EG21", "HGNC", "Ensembl"),
    ("EG2", "EG22", "NCBI", "Ortholog")
  ).map { case (s, d, src, ev) => (s, d, 1, 2, src, ev) }
    .toDF("srcOtherId", "destOtherId", "srcSpeciesTypeKey",
      "destSpeciesTypeKey", "dataSource", "dataSetName")

  private def ratIds = Set(11, 12, 13)
  private def pairRows(orth: DataFrame, ids: Set[Int]): Set[Row12] =
    orth.filter(col("srcRgdId").isin(ids.toSeq: _*) ||
        col("destRgdId").isin(ids.toSeq: _*))
      .select("key", "srcRgdId", "destRgdId", "srcSpeciesTypeKey",
        "destSpeciesTypeKey", "xrefDataSrc", "xrefDataSet",
        "orthologTypeKey", "lastModifiedDate")
      .as[Row12].collect().toSet
  private def assocRows(assoc: DataFrame, ids: Set[Int]): Set[(Long, String, String, Int, Int)] =
    assoc.filter(col("masterRgdId").isin(ids.toSeq: _*) ||
        col("detailRgdId").isin(ids.toSeq: _*))
      .select("assocKey", "assocType", "assocSubType", "masterRgdId",
        "detailRgdId")
      .as[(Long, String, String, Int, Int)].collect().toSet

  type Row12 = (Long, Int, Int, Int, Int, String, String, Int,
    java.sql.Timestamp)

  test("chain: rat -> mouse -> rat-again -> agr -> fixXRef over evolving " +
    "engine state holds the cross-run invariants") {
    val tmp = java.nio.file.Files.createTempDirectory("mrphases").toString

    // ---- run 1: RAT through the bucketed PhaseStore ----
    val r1 = OrthologPipeline.runSpecies(ratRels, state0, Species.RAT, ts1,
      phases = OrthologPipeline.BucketedPhases("mrun1", tmp, buckets = 4))
    val s1 = state0.copy(orthologs = r1.orthologs.localCheckpoint(),
      associations = r1.associations.localCheckpoint())
    val ratOrth1 = pairRows(s1.orthologs, ratIds)
    val ratAssoc1 = assocRows(s1.associations, ratIds)
    val maxKey1 = s1.orthologs.agg(org.apache.spark.sql.functions
      .max(col("key"))).as[Long].head()
    assert(ratOrth1.nonEmpty, "rat run produced no rat-pair state")
    assert(ratAssoc1.nonEmpty, "rat run produced no weak associations")

    // ---- run 2: MOUSE over run 1's state ----
    val r2 = OrthologPipeline.runSpecies(mouseRels, s1, Species.MOUSE, ts2)
    val s2 = s1.copy(orthologs = r2.orthologs.localCheckpoint(),
      associations = r2.associations.localCheckpoint())

    // 1. pair scoping: the rat-pair state is byte-identical
    assert(pairRows(s2.orthologs, ratIds) == ratOrth1,
      "the mouse run disturbed rat-pair ortholog state")
    assert(assocRows(s2.associations, ratIds) == ratAssoc1,
      "the mouse run disturbed rat-pair association state")
    // the out-of-scope assoc row still rides through
    assert(assocRows(s2.associations, Set(11)).exists(_._2 == "annotation"))
    // and the mouse run did write its own pair
    val mouseIds = Set(21, 22)
    assert(pairRows(s2.orthologs, mouseIds).nonEmpty)

    // 2. key continuation: every mouse-pair key is above run 1's max
    val mouseKeys = pairRows(s2.orthologs, mouseIds).map(_._1)
    assert(mouseKeys.forall(_ > maxKey1),
      s"mouse keys $mouseKeys do not continue above $maxKey1")

    // ---- run 3: RAT again, identical input -> all-match ----
    val r3 = OrthologPipeline.runSpecies(ratRels, s2, Species.RAT, ts3)
    def n(name: String): Long = r3.mergeAudit(name).count()
    assert(n("inserted") == 0, "idempotent re-run inserted rows")
    assert(n("deleted") == 0, "idempotent re-run deleted rows")
    assert(n("downgraded") == 0, "idempotent re-run downgraded rows")
    assert(n("w1Deleted") == 0, "idempotent re-run dup-cleaned rows")
    assert(n("syncInserted") == 0, "idempotent re-run inserted assocs")
    assert(n("syncDeleted") == 0, "idempotent re-run deleted assocs")
    assert(n("syncMatched") > 0, "re-run never matched its own assocs")
    // state identical up to the lastModified touch
    val s3Orth = pairRows(r3.orthologs.localCheckpoint(), ratIds)
    assert(s3Orth.map(t => t.copy(_9 = ts0)) ==
      ratOrth1.map(t => t.copy(_9 = ts0)),
      "idempotent re-run changed rat-pair state beyond the touch")

    // ---- AGR leg on the same chained universe ----
    val agrLines = List(
      Line("FB:9", "fly9", 10, "FB:9", "fly9", 10, "OMA",
        best = true, bestRev = true))
    val a1 = graft.pipeline.AgrPipeline.run(
      AgrMultiRunPropertySpec.linesDf(spark, agrLines),
      AgrMultiRunPropertySpec.agrDf(spark, Nil),
      xrefs, genes, rgdIds, ts2,
      java.sql.Timestamp.valueOf("2026-08-01 23:00:00"),
      deleteThreshold = "500")
    val newIds = a1.newGenes.select("rgdId").as[Int].collect().toSet
    assert(newIds == Set(23),
      s"AGR gene ids must continue above the shared dimension: $newIds")
    val xrefs1 = a1.xrefs.localCheckpoint()
    // second AGR leg: the persisted binding map-resolves (renamed symbol)
    val genes2 = genes.unionByName(Seq((23, "fly9", "fly9",
        "protein-coding", 10, "fly9"))
      .toDF("rgdId", "geneSymbol", "geneName", "geneTypeLc",
        "speciesTypeKey", "ensemblGeneSymbol"))
    val rgdIds2 = rgdIds.unionByName(Seq((23, "ACTIVE", 10))
      .toDF("rgdId", "objectStatus", "speciesTypeKey"))
    val a2 = graft.pipeline.AgrPipeline.run(
      AgrMultiRunPropertySpec.linesDf(spark, List(
        Line("FB:9", "renamed", 10, "FB:9", "renamed", 10, "OMA",
          best = true, bestRev = true))),
      a1.agrOrthologs, xrefs1, genes2, rgdIds2, ts3,
      java.sql.Timestamp.valueOf("2026-08-02 23:00:00"),
      deleteThreshold = "500")
    val stats2 = a2.resolutionStats.as[(Option[String], Long)].collect()
      .map { case (k, v) => k.orNull -> v }.toMap
    assert(stats2.get("map").contains(1L),
      s"second AGR leg must map-resolve via the first leg's binding: $stats2")
    assert(AgrMultiRunPropertySpec.collectAgr(a2.agrOrthologs)
      .map(s => (s.g1, s.g2)) == Set((23, 23)),
      "the renamed curie must keep the first leg's gene id")

    // ---- fixXRef maintenance over the final chained state ----
    def canonModel(s: String): Option[String] = {
      if (s == null || s.isEmpty) return None
      val toks = s.split(", ")
      if (toks.length <= 1) return None
      val sb = new StringBuilder
      scala.collection.immutable.TreeSet(toks: _*).foreach { t =>
        if (sb.nonEmpty) sb.append(", "); sb.append(t)
      }
      val canon = sb.toString
      if (canon != s && canon.length < s.length) Some(canon) else None
    }
    val (fixedOrth, updOrth) = Maintenance.fixXrefDataSetInOrthologs(
      s2.orthologs)
    val before = s2.orthologs.select("key", "xrefDataSet")
      .as[(Long, String)].collect().toMap
    val after = fixedOrth.select("key", "xrefDataSet")
      .as[(Long, String)].collect().toMap
    before.foreach { case (k, v) =>
      assert(after(k) == canonModel(v).getOrElse(v), s"fixXref on '$v'")
    }
    assert(updOrth.select("key").as[Long].collect().toSet ==
      before.filter { case (_, v) => canonModel(v).isDefined }.keySet)
    // the duplicated token planted in ratRels canonicalized at insert
    // time (Dao:447-459 runs on the insert path), so the maintenance
    // pass over pipeline-built state finds nothing left to fix
    assert(before.values.forall(v => canonModel(v).isEmpty),
      "insert-time canonicalization left a fixable evidence list")

    val (fixedAssoc, _) = Maintenance.fixXrefDataSetInAssociations(
      s2.associations)
    val beforeA = s2.associations
      .select("assocKey", "assocType", "assocSubType")
      .as[(Long, String, String)].collect()
    val afterA = fixedAssoc.select("assocKey", "assocSubType")
      .as[(Long, String)].collect().toMap
    beforeA.foreach { case (k, tp, v) =>
      val exp = if (tp == "weak_ortholog") canonModel(v).getOrElse(v) else v
      assert(afterA(k) == exp, s"fixAssoc on '$v' ($tp)")
    }
  }
}
