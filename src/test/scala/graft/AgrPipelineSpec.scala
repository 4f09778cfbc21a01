package graft

import org.apache.spark.sql.DataFrame
import graft.pipeline.AgrPipeline

/** Composed --agrOrthologs flow over an inline fixture
  * (AgrTsvLoader.java:44-70 semantics, set-wise). */
class AgrPipelineSpec extends SparkSpec {
  import spark.implicits._

  private val runTs = java.sql.Timestamp.valueOf("2026-08-01 12:00:00")
  private val cutoff = java.sql.Timestamp.valueOf("2026-08-01 11:00:00")
  private val old = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")

  private def lines: DataFrame = Seq(
    // human HGNC:1 <-> fly FB:1, mutual best
    ("HGNC:1", "TP53", 1, "FB:1", "p53fly", 10, "OMA|PANTHER", "2", "9", true, true),
    // human HGNC:1 <-> fly FB:NEW (unknown curie, non-HMR species -> auto-insert)
    ("HGNC:1", "TP53", 1, "FB:NEW", "newgene", 10, "OMA", "1", "9", true, false),
    // rat RGD:77 <-> human HGNC:1 (rat special-id resolution)
    ("RGD:77", "Tp53", 3, "HGNC:1", "TP53", 1, "InParanoid|OMA", "2", "9", true, true),
    // unresolvable human curie -> line skipped
    ("HGNC:404", "GHOST", 1, "FB:1", "p53fly", 10, "OMA", "1", "9", false, false)
  ).toDF("curie1", "geneSymbol1", "speciesTypeKey1", "curie2", "geneSymbol2",
    "speciesTypeKey2", "algorithms", "algorithmsMatch", "outOfAlgorithms",
    "isBestScore", "isBestRevScore")

  private def xrefs = Seq(
    (1L, 100, 63, "HGNC:1"), // curie map entry for the human gene
    (2L, 200, 63, "FB:1")    // curie map entry for the fly gene
  ).map { case (k, r, x, a) => (k, r, x, a, "AgrOrtholog", old) }
    .toDF("accXdbKey", "rgdId", "xdbKey", "accId", "srcPipeline",
      "modificationDate")

  private def genes = Seq(
    (77, "Tp53", 3), (100, "TP53", 1), (200, "p53fly", 10)
  ).map { case (id, sym, sp) => (id, sym, sym, "protein-coding", sp, sym) }
    .toDF("rgdId", "geneSymbol", "geneName", "geneTypeLc",
      "speciesTypeKey", "ensemblGeneSymbol")

  private def rgdIds = Seq((77, "ACTIVE", 3), (100, "ACTIVE", 1),
    (200, "ACTIVE", 10)).toDF("rgdId", "objectStatus", "speciesTypeKey")

  private def agrState = Seq(
    // stale row from a previous load: swept when the guard allows
    (300, 301, "stringent", "Y", "Y", "OMA", old, old)
  ).toDF("geneRgdId1", "geneRgdId2", "confidence", "isBestScore",
    "isBestRevScore", "methodsMatched", "createdDate", "lastUpdateDate")

  test("AGR flow: resolve, upsert, guard, sweep") {
    val r = AgrPipeline.run(lines, agrState, xrefs, genes, rgdIds,
      runTs, cutoff, deleteThreshold = "500") // absolute threshold: allow

    // resolution: HGNC:1/FB:1 via map, RGD:77 via special id,
    // FB:NEW inserted with a fresh id, HGNC:404 unresolvable
    val stats = r.resolutionStats.as[(Option[String], Long)].collect()
      .map { case (k, v) => k.getOrElse("null") -> v }.toMap
    assert(stats("map") == 2L)
    assert(stats("specialId") == 1L)
    assert(stats("insert") == 1L)
    assert(stats("null") == 1L)
    assert(r.unresolved.select("curie").as[String].collect().toSeq ==
      Seq("HGNC:404"))
    assert(r.guardOk)

    val state = r.agrOrthologs
      .select("geneRgdId1", "geneRgdId2", "methodsMatched")
      .as[(Int, Int, String)].collect().toSet
    // three resolvable lines upserted; new fly gene got id 201 (max+1);
    // the stale (300,301) row swept
    assert(state.contains((100, 200, "OMA|PANTHER")))
    assert(state.contains((100, 201, "OMA")))
    assert(state.contains((77, 100, "InParanoid|OMA")))
    assert(!state.exists(_._1 == 300))

    // M6: seen curies got touched; nothing else was AGR-pipeline stale
    val xr = r.xrefs.select("accId", "modificationDate")
      .as[(String, java.sql.Timestamp)].collect().toMap
    assert(xr("HGNC:1") == runTs && xr("FB:1") == runTs)

    // M5 writes: curies resolved outside the map step persist an
    // AGR_GENE binding (insertAgrGeneXdbId, steps 2-4) so the next
    // run's map step hits; keys continue above the current max
    val newXr = r.xrefs.filter($"accXdbKey" > 2L)
      .select("accXdbKey", "accId", "rgdId", "xdbKey", "srcPipeline")
      .as[(Long, String, Int, Int, String)].collect()
      .map(t => t._2 -> (t._1, t._3, t._4, t._5)).toMap
    assert(newXr.keySet == Set("RGD:77", "FB:NEW"),
      s"specialId + insert resolutions must persist bindings, got $newXr")
    assert(newXr("RGD:77")._2 == 77 && newXr("FB:NEW")._2 == 201)
    assert(newXr.values.forall(v => v._3 == 63 && v._4 == "AgrOrtholog"))
    assert(newXr.values.map(_._1).toSet == Set(3L, 4L)) // above max key 2

    // step-4 gene synthesis surfaces as a dimension delta (the
    // reference creates the gene + an ACTIVE rgd id)
    val ng = r.newGenes
      .select("rgdId", "geneSymbol", "speciesTypeKey", "objectStatus")
      .as[(Int, String, Int, String)].collect().toSeq
    assert(ng == Seq((201, "newgene", 10, "ACTIVE")))
  }

  test("M5 bind: a curie appearing with two different symbols binds each " +
    "line to ITS OWN symbol's resolution - no fan-out across lines") {
    // ref resolveGene(speciesTypeKey, geneSymbol, geneId)
    // (AgrTsvLoader.java:306-393): resolution is per (species, symbol,
    // curie). Two lines sharing a curie but disagreeing on the symbol
    // must each bind to their own symbol's resolution - a bind keyed on
    // the curie alone cross-products the lines with BOTH resolutions.
    val lines2 = Seq(
      ("ZFIN:1", "za", 20, "RGD:77", "Tp53", 3, "OMA", "1", "9", true, true),
      ("ZFIN:1", "zb", 20, "RGD:78", "Tp53b", 3, "OMA", "1", "9", true, true)
    ).toDF("curie1", "geneSymbol1", "speciesTypeKey1", "curie2", "geneSymbol2",
      "speciesTypeKey2", "algorithms", "algorithmsMatch", "outOfAlgorithms",
      "isBestScore", "isBestRevScore")
    val genes2 = Seq(
      (77, "Tp53", 3), (78, "Tp53b", 3), (500, "za", 20), (600, "zb", 20)
    ).map { case (id, sym, sp) => (id, sym, sym, "protein-coding", sp, sym) }
      .toDF("rgdId", "geneSymbol", "geneName", "geneTypeLc",
        "speciesTypeKey", "ensemblGeneSymbol")
    val rgdIds2 = Seq((77, "ACTIVE", 3), (78, "ACTIVE", 3),
      (500, "ACTIVE", 20), (600, "ACTIVE", 20))
      .toDF("rgdId", "objectStatus", "speciesTypeKey")
    val emptyState = Seq.empty[(Int, Int, String, String, String, String,
      java.sql.Timestamp, java.sql.Timestamp)]
      .toDF("geneRgdId1", "geneRgdId2", "confidence", "isBestScore",
        "isBestRevScore", "methodsMatched", "createdDate", "lastUpdateDate")

    val r = AgrPipeline.run(lines2, emptyState, xrefs, genes2, rgdIds2,
      runTs, cutoff, deleteThreshold = "500")
    val pairs = r.agrOrthologs.select("geneRgdId1", "geneRgdId2")
      .as[(Int, Int)].collect().toSet
    assert(pairs == Set((500, 77), (600, 78)),
      s"each line must bind its own symbol's resolution, got $pairs")
  }

  test("AGR flow: circuit breaker refuses an oversized sweep") {
    val r = AgrPipeline.run(lines, agrState, xrefs, genes, rgdIds,
      runTs, cutoff, deleteThreshold = "0")
    assert(!r.guardOk)
    // stale row survives the refused sweep
    assert(r.agrOrthologs.filter($"geneRgdId1" === 300).count() == 1)
  }

  test("phase-store independence: InProcessPhases and BucketedPhases " +
    "produce identical AGR results (persistence never changes answers)") {
    import graft.pipeline.OrthologPipeline
    // the production path writes bucketed state tables at the two
    // phase boundaries; the in-process path localCheckpoints. The
    // store is a durability/topology choice - the upserted state, QC'd
    // xrefs, and guard decision must be byte-for-byte the same either
    // way (this is what lets the benched bucketed flagship stand in
    // for every library caller's store choice).
    val base = java.nio.file.Files
      .createTempDirectory("graft_agr_store_spec").toString
    val inProc = AgrPipeline.run(lines, agrState, xrefs, genes, rgdIds,
      runTs, cutoff, deleteThreshold = "500")
    val bucketed = AgrPipeline.run(lines, agrState, xrefs, genes, rgdIds,
      runTs, cutoff, deleteThreshold = "500",
      phases = OrthologPipeline.BucketedPhases("agr_store_spec", base,
        buckets = 4))
    def rows(df: DataFrame) = df.collect().map(_.toSeq).toSet
    assert(rows(bucketed.agrOrthologs
        .select("geneRgdId1", "geneRgdId2", "confidence", "isBestScore",
          "isBestRevScore", "methodsMatched")) ==
      rows(inProc.agrOrthologs
        .select("geneRgdId1", "geneRgdId2", "confidence", "isBestScore",
          "isBestRevScore", "methodsMatched")))
    assert(rows(bucketed.xrefs) == rows(inProc.xrefs))
    assert(rows(bucketed.unresolved.select("curie")) ==
      rows(inProc.unresolved.select("curie")))
    assert(bucketed.guardOk == inProc.guardOk)
  }

  test("AgrPipeline.run writes all three phases before it returns") {
    val rec = new RecordingPhases
    AgrPipeline.run(lines, agrState, xrefs, genes, rgdIds, runTs, cutoff,
      deleteThreshold = "500", phases = rec)
    assert(rec.names == Seq("agr_resolved", "agr_upserted", "agr_new_xrefs"))
  }
}
