package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.model.Species
import graft.operators.{Keys, Merge, ShardedPrefixSum}
import graft.pipeline.OrthologPipeline

/** Lifecycle of the surrogate-key / prefix-sum correctness pins (one
  * rule: a pin lives until the innermost open ShardedPrefixSum.scoped
  * call exits): sequential pipeline runs leave no live pin with NO
  * caller sweeps, consumed products never trip the
  * unmaterialized-release detector, and a composed-but-never-executed
  * key product released by its scope trips it loudly. */
class PinLifecycleSpec extends SparkSpec {
  import spark.implicits._

  private val runTs = java.sql.Timestamp.valueOf("2026-08-01 00:00:00")
  private val ts0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")

  private def genes: DataFrame = Seq(
    (1, "gA", 1), (2, "gB", 1),
    (11, "ga", 3), (12, "other", 3), (13, "zz", 3)
  ).map { case (id, sym, sp) => (id, sym, sym, "protein-coding", sp, sym) }
    .toDF("rgdId", "geneSymbol", "geneName", "geneTypeLc",
      "speciesTypeKey", "ensemblGeneSymbol")

  private def state = OrthologPipeline.State(
    orthologs = Seq(
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
    ("EG1", "EG11", "HGNC", "Ensembl, OMA"),
    ("EG1", "EG12", "HGNC", "OrthoDB, HomoloGene"),
    ("EG2", "EG13", "NCBI", "Ortholog")
  ).map { case (s, d, src, ev) => (s, d, 1, 3, src, ev) }
    .toDF("srcOtherId", "destOtherId", "srcSpeciesTypeKey",
      "destSpeciesTypeKey", "dataSource", "dataSetName")

  test("N sequential pipeline runs hold O(1) live pins with no sweeps, " +
    "and no run releases an unmaterialized pin") {
    val pins0 = livePins
    val unmat0 = ShardedPrefixSum.unmaterializedReleases
    for (_ <- 1 to 3) {
      val r = OrthologPipeline.runSpecies(relations, state, Species.RAT, runTs)
      // the run's key pin was consumed by its own phase boundary and
      // released by the run's scope - nothing accumulates
      assert(livePins == pins0, s"live pins after a pipeline run: $livePins")
      // consuming the results later (store/checkpoint-backed plans)
      // needs no pin and must stay deterministic
      assert(r.orthologs.count() > 0)
      assert(r.mergeAudit("inserted").count() > 0)
    }
    assert(ShardedPrefixSum.unmaterializedReleases == unmat0,
      "a pipeline run released a pin whose product never materialized")
  }

  test("a finished run's association state holds no pin after the run " +
    "or its reads, and its keys are stable across reads") {
    val pins0 = livePins
    val unmat0 = ShardedPrefixSum.unmaterializedReleases
    val r = OrthologPipeline.runSpecies(relations, state, Species.RAT, runTs)
    assert(livePins == pins0)
    val first = r.associations.select("assocKey", "masterRgdId", "detailRgdId")
      .collect().map(_.toSeq).toSet
    assert(first.nonEmpty)
    assert(livePins == pins0, "an association read left a live pin behind")
    // a second read of the phase-backed frame gives the same keys
    val second = r.associations.select("assocKey", "masterRgdId", "detailRgdId")
      .collect().map(_.toSeq).toSet
    assert(first == second)
    assert(ShardedPrefixSum.unmaterializedReleases == unmat0)
  }

  test("a composed-but-never-executed key product released by its scope " +
    "trips the unmaterialized-release detector") {
    val pins0 = livePins
    val unmat0 = ShardedPrefixSum.unmaterializedReleases
    ShardedPrefixSum.scoped {
      // compose only - no action ever touches the keyed product
      Keys.assignSequential(
        Seq(1, 2, 3).toDF("id"), "key", 0L, Seq(col("id")))
      ()
    }
    assert(livePins == pins0)
    assert(ShardedPrefixSum.unmaterializedReleases == unmat0 + 1,
      "scope exit over an unconsumed key product must be a loud event")
  }

  test("operator-level reconcile (identity hook) keeps its lazy pin " +
    "until its scope exits; consuming first keeps the detector flat") {
    val pins0 = livePins
    val unmat0 = ShardedPrefixSum.unmaterializedReleases
    ShardedPrefixSum.scoped {
      val m = Merge.reconcile(
        Seq((1, 11, 1, 3, "NCBI", "Ortholog"))
          .toDF("srcRgdId", "destRgdId", "srcSpeciesTypeKey",
            "destSpeciesTypeKey", "xrefDataSrc", "xrefDataSet"),
        state.orthologs, genes, runTs, 3)
      assert(livePins == pins0 + 1,
        "direct reconcile should hold its key pin until its scope exits")
      assert(m.inserted.count() > 0) // consume -> pin materializes
      assert(livePins == pins0 + 1)
    }
    assert(livePins == pins0)
    assert(ShardedPrefixSum.unmaterializedReleases == unmat0,
      "scope exit after consumption must not count as an unmaterialized release")
  }
}
