package graft

import org.apache.spark.sql.DataFrame
import graft.model.Species
import graft.operators.Maintenance
import graft.pipeline.{Fixtures, OrthologPipeline}

/** End-to-end pipeline: a tiny inline golden fixture with hand-computed
  * expected outcomes, plus a smoke run over the sf0.001 testdata-derived
  * fixtures. */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private val runTs = java.sql.Timestamp.valueOf("2026-08-01 00:00:00")
  private val ts0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")

  // universe: human genes 1,2; rat genes 11,12,13
  private def genes: DataFrame = Seq(
    (1, "gA", 1), (2, "gB", 1),
    (11, "ga", 3), (12, "other", 3), (13, "zz", 3)
  ).map { case (id, sym, sp) => (id, sym, sym, "protein-coding", sp, sym) }
    .toDF("rgdId", "geneSymbol", "geneName", "geneTypeLc",
      "speciesTypeKey", "ensemblGeneSymbol")

  private def state = OrthologPipeline.State(
    orthologs = Seq(
      // prior NCBI ortholog for human 2 -> rat 13, stale unless re-picked
      (100L, 2, 13, 1, 3, "NCBI", "Ortholog", 11, 70, ts0, 70, ts0)
    ).toDF("key", "srcRgdId", "destRgdId", "srcSpeciesTypeKey",
      "destSpeciesTypeKey", "xrefDataSrc", "xrefDataSet", "orthologTypeKey",
      "createdBy", "createdDate", "lastModifiedBy", "lastModifiedDate"),
    associations = Seq.empty[(Long, String, String, Int, Int, String,
      java.sql.Timestamp)].toDF("assocKey", "assocType", "assocSubType",
      "masterRgdId", "detailRgdId", "srcPipeline", "creationDate"),
    agrOrthologs = Fixture.emptyAgr(spark),
    xrefs = Seq(
      (1L, 1, 3, "EG1"), (2L, 2, 3, "EG2"), (3L, 11, 3, "EG11"),
      (4L, 12, 3, "EG12"), (5L, 13, 3, "EG13")
    ).map { case (k, r, x, a) => (k, r, x, a, "p", ts0) }
      .toDF("accXdbKey", "rgdId", "xdbKey", "accId", "srcPipeline",
        "modificationDate"),
    genes = genes,
    rgdIds = Seq(1, 2, 11, 12, 13).map((_, "ACTIVE", 3))
      .toDF("rgdId", "objectStatus", "speciesTypeKey"),
    history = Seq.empty[(Int, Int)].toDF("oldRgdId", "newRgdId"))

  private def relations: DataFrame = Seq(
    // group 1 (human gene 1): two HGNC candidates, symbol match decides:
    // rat 11 "ga" matches human "gA" case-insensitively
    ("EG1", "EG11", "HGNC", "Ensembl, OMA"),
    ("EG1", "EG12", "HGNC", "OrthoDB, HomoloGene"),
    // group 2 (human gene 2): single NCBI candidate -> re-picks rat 13
    ("EG2", "EG13", "NCBI", "Ortholog")
  ).map { case (s, d, src, ev) => (s, d, 1, 3, src, ev) }
    .toDF("srcOtherId", "destOtherId", "srcSpeciesTypeKey",
      "destSpeciesTypeKey", "dataSource", "dataSetName")

  test("golden: picks, state merge, and weak orthologs line up") {
    val r = OrthologPipeline.runSpecies(relations, state, Species.RAT, runTs)

    // strong picks: fwd (1->11 symbolMatch over evidence tie),
    // (2->13 oneRel), plus complements (11->1, 13->2); group 1's loser 12
    // also mirror-picks (12->1) in the complement direction
    val picks = r.strongPicks
      .select("srcRgdId", "destRgdId", "method")
      .as[(Int, Int, String)].collect()
      .map(t => (t._1, t._2) -> t._3).toMap
    assert(picks((1, 11)) == "symbolMatch")
    assert(picks((2, 13)) == "oneRel")
    assert(picks.contains((11, 1)))
    assert(picks.contains((13, 2)))

    // ortholog state: matched prior row (2,13) touched, not deleted;
    // (1,11) and complements inserted
    val st = r.orthologs.select("srcRgdId", "destRgdId", "lastModifiedDate")
      .as[(Int, Int, java.sql.Timestamp)].collect()
    val byPair = st.map(t => (t._1, t._2) -> t._3).toMap
    assert(byPair((2, 13)) == runTs) // touched, survives stale sweep
    assert(byPair.contains((1, 11)))
    assert(byPair.contains((11, 1)))

    // weak orthologs: the losing relation (1,12) lands in associations
    // (both directions), strong pairs do not
    val assocs = r.associations.select("masterRgdId", "detailRgdId")
      .as[(Int, Int)].collect().toSet
    assert(assocs.contains((1, 12)))
    assert(!assocs.contains((1, 11)))
  }

  test("S6 sync scope: association state outside the run's (human, species) " +
    "weak-ortholog scope survives the run untouched; in-scope stale rows " +
    "still delete") {
    // ref OrthologRelationLoader.java:153 + OrthologRelationDao.java:
    // 377-381: the syncer diffs against weak_ortholog associations of
    // the (speciesTypeKey, HUMAN) pair - BOTH directions - and nothing
    // else. Rows outside that scope (another species pair from an
    // earlier mouse run, another assoc type) must never classify as
    // stale deletes of THIS run.
    val genesWithMouse = genes.unionByName(Seq(
      (21, "mM", "mM", "protein-coding", 2, "mM")
    ).toDF("rgdId", "geneSymbol", "geneName", "geneTypeLc",
      "speciesTypeKey", "ensemblGeneSymbol"))
    val rgdIdsTyped = Seq((1, 1), (2, 1), (11, 3), (12, 3), (13, 3), (21, 2))
      .map { case (id, sp) => (id, "ACTIVE", sp) }
      .toDF("rgdId", "objectStatus", "speciesTypeKey")
    val assocState = Seq(
      // OUT of scope: human<->mouse pair (a prior mouse run's rows)
      (50L, "weak_ortholog", "x", 1, 21, "NCBI", ts0),
      // OUT of scope: non-weak assoc type on the run pair
      (51L, "annotation", "x", 1, 11, "NCBI", ts0),
      // IN scope, stale, symmetric (both directions queued -> D2 lets
      // both delete): proves the scoping does not suppress true deletes
      (52L, "weak_ortholog", "x", 2, 12, "NCBI", ts0),
      (53L, "weak_ortholog", "x", 12, 2, "NCBI", ts0)
    ).toDF("assocKey", "assocType", "assocSubType", "masterRgdId",
      "detailRgdId", "srcPipeline", "creationDate")
    val st = state.copy(genes = genesWithMouse, rgdIds = rgdIdsTyped,
      associations = assocState)

    val r = OrthologPipeline.runSpecies(relations, st, Species.RAT, runTs)
    val finalKeys = r.associations.select("assocKey").as[Long].collect().toSet
    assert(finalKeys.contains(50L),
      "out-of-pair (human<->mouse) weak assoc was deleted by a rat run")
    assert(finalKeys.contains(51L),
      "non-weak assoc type was deleted by the weak-ortholog sync")
    assert(!finalKeys.contains(52L) && !finalKeys.contains(53L),
      "in-scope stale rows must still delete")
    val deletedKeys = r.mergeAudit("syncDeleted")
      .select("assocKey").as[Long].collect().toSet
    assert(deletedKeys == Set(52L, 53L),
      s"delete audit must be exactly the in-scope stale rows, got $deletedKeys")
  }

  test("M7 maintenance rewrites only shorter canonical forms") {
    val (newState, updated) = Maintenance.fixXrefDataSetInOrthologs(
      Seq((1L, "B, A, B"), (2L, "A, B"), (3L, "Z, Y")).map { case (k, ev) =>
        (k, 1, 2, 1, 3, "NCBI", ev, 11, 70, ts0, 70, ts0)
      }.toDF("key", "srcRgdId", "destRgdId", "srcSpeciesTypeKey",
        "destSpeciesTypeKey", "xrefDataSrc", "xrefDataSet", "orthologTypeKey",
        "createdBy", "createdDate", "lastModifiedBy", "lastModifiedDate"))
    assert(updated.select("key").as[Long].collect().toSeq == Seq(1L))
    val m = newState.select("key", "xrefDataSet").as[(Long, String)]
      .collect().toMap
    assert(m(1L) == "A, B" && m(3L) == "Z, Y")
  }

  test("golden parquet: sf0.001 pipeline picks match the checked-in snapshot") {
    val dir = "/root/testdata/sf0.001"
    val st = Fixtures.state(spark, dir)
    val rel = Fixtures.relations(spark, dir)
    val r = OrthologPipeline.runSpecies(rel, st, Species.RAT, runTs)
    assert(r.orthologs.count() > 0)

    val got = r.strongPicks
      .select("groupId", "srcRgdId", "destRgdId", "xrefDataSrc",
        "xrefDataSet", "tier", "method")
      .as[(Int, Int, Int, String, String, Int, String)]
      .collect().sortBy(t => (t._1, t._2, t._3))

    val src = scala.io.Source.fromInputStream(
      getClass.getResourceAsStream("/golden_pipeline_sf0001.csv"))
    val expected = try {
      src.getLines().drop(1).map { line =>
        // csv with one quoted field (the evidence list)
        val m = "^(\\d+),(\\d+),(\\d+),([^,]+),\"?(.*?)\"?,(\\d+),([^,]+)$".r
        line match {
          case m(g, s, d, x, ev, t, meth) =>
            (g.toInt, s.toInt, d.toInt, x, ev, t.toInt, meth)
        }
      }.toVector.sortBy(t => (t._1, t._2, t._3))
    } finally src.close()

    assert(got.length == expected.length)
    got.zip(expected).foreach { case (g, e) => assert(g == e, s"$g != $e") }
  }

  test("phase-store independence: InProcessPhases and BucketedPhases " +
    "produce identical flagship results (persistence never changes answers)") {
    // the benched/oracled flagship runs BucketedPhases; library callers
    // without a warehouse run the localCheckpoint stand-in. The store
    // is a durability/topology choice: picks, final ortholog state, and
    // final association state must be set-identical either way. This is
    // the invariant that makes the bucketed bench representative - and
    // it exercises the association phase (its surrogate keys ride a
    // prefix-sum pin) through BOTH stores.
    val inProc = OrthologPipeline.runSpecies(relations, state, Species.RAT,
      runTs, phases = OrthologPipeline.InProcessPhases)
    val base = java.nio.file.Files
      .createTempDirectory("graft_pipe_store_spec").toString
    val bucketed = OrthologPipeline.runSpecies(relations, state, Species.RAT,
      runTs, phases = OrthologPipeline.BucketedPhases("pipe_store_spec", base,
        buckets = 4))
    def rows(df: DataFrame, cols: String*) =
      df.select(cols.map(org.apache.spark.sql.functions.col): _*)
        .collect().map(_.toSeq).toSet
    val pickCols = Seq("groupId", "srcRgdId", "destRgdId", "xrefDataSrc",
      "xrefDataSet", "tier", "method")
    assert(rows(bucketed.strongPicks, pickCols: _*) ==
      rows(inProc.strongPicks, pickCols: _*))
    val orthCols = Seq("srcRgdId", "destRgdId", "srcSpeciesTypeKey",
      "destSpeciesTypeKey", "xrefDataSrc", "xrefDataSet", "orthologTypeKey")
    assert(rows(bucketed.orthologs, orthCols: _*) ==
      rows(inProc.orthologs, orthCols: _*))
    // association state incl. the surrogate keys themselves: both
    // stores must assign the SAME keys (same max base + same rank)
    val assocCols = Seq("assocKey", "assocType", "assocSubType",
      "masterRgdId", "detailRgdId", "srcPipeline")
    assert(rows(bucketed.associations, assocCols: _*) ==
      rows(inProc.associations, assocCols: _*))
    // and every reconcile/sync audit stream counts the same
    for (k <- inProc.mergeAudit.keys)
      assert(bucketed.mergeAudit(k).count() == inProc.mergeAudit(k).count(), k)
  }

  test("runSpecies writes all seven phases before it returns") {
    val rec = new RecordingPhases
    OrthologPipeline.runSpecies(relations, state, Species.RAT, runTs,
      phases = rec)
    assert(rec.names == Seq("relations", "picks", "inserted", "merged_state",
      "downgraded", "orthologs", "associations"))
  }

  test("the picks stage alone gives the same strong picks as a full run, " +
    "and writes only its own two phases") {
    val rec = new RecordingPhases
    val p = OrthologPipeline.picks(relations, state, rec)
    assert(rec.names == Seq("relations", "picks"))
    val r = OrthologPipeline.runSpecies(relations, state, Species.RAT, runTs)
    def rows(df: DataFrame) = df.collect().map(_.toSeq).toSet
    assert(rows(p.strongPicks).nonEmpty)
    assert(rows(p.strongPicks) == rows(r.strongPicks))
  }
}

/** A phase store that logs the name of each phase it writes, in order,
  * and materializes like [[OrthologPipeline.InProcessPhases]]. */
final class RecordingPhases extends OrthologPipeline.PhaseStore {
  private val log = scala.collection.mutable.ArrayBuffer.empty[String]
  def names: Seq[String] = log.toSeq
  def apply(name: String, keys: Seq[String], df: DataFrame): DataFrame = {
    log += name
    OrthologPipeline.InProcessPhases(name, keys, df)
  }
}
