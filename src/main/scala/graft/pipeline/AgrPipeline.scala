package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{Agr, Keys}

/** The --agrOrthologs flow as one pure batch transformation.
  *
  * Mirrors AgrTsvLoader.run2 (AgrTsvLoader.java:44-70): resolve both
  * curies of every line via the M5 cascade, upsert into AGR_ORTHOLOGS
  * (S9), then wrap up - stale delete behind the A8 threshold guard and
  * the M6 curie QC sweep. The reference's parallel stream + retry loop
  * disappears: resolution is a join, the upsert a keyed merge. [[run]]
  * returns once its three phases (`agr_resolved`, `agr_upserted`,
  * `agr_new_xrefs`) are written, as the reference saves each new curie
  * binding while it resolves it (AgrTsvLoader.java:306-393).
  */
object AgrPipeline {

  /** Products of one finished AGR run; every phase has been written
    * before [[run]] returns.
    *
    * [[xrefs]] is the new xref state: prior rows touched/swept by the
    * M6 QC, PLUS one new AGR_GENE row per curie resolved outside the
    * map step (the reference persists the binding via
    * insertAgrGeneXdbId at resolution steps 2-4, so the NEXT run's map
    * step hits directly).
    *
    * [[newGenes]]: gene-dimension rows synthesized for unresolvable
    * non-human/mouse/rat curies (insertAgrGene creates the gene + an
    * ACTIVE rgd id, OrthologRelationDao.java:621-642). */
  final case class Result(agrOrthologs: DataFrame, xrefs: DataFrame,
                          unresolved: DataFrame, guardOk: Boolean,
                          resolutionStats: DataFrame, newGenes: DataFrame)

  /** @param lines   Readers.readAlliance output
    * @param cutoff  stale cutoff = runTs - 1h in the reference (X9 clock
    *                skew guard, AgrTsvLoader.java:51)
    * @param phases  phase-boundary persistence (see
    *                [[OrthologPipeline.PhaseStore]]): the production /
    *                benched flagship passes the bucketed state store so
    *                a run survives process loss between resolve and
    *                upsert and the keyed merges read co-located buckets;
    *                the default localCheckpoint stand-in serves callers
    *                without a writable warehouse
    */
  def run(lines: DataFrame, agrState: DataFrame, xrefs: DataFrame,
          genes: DataFrame, rgdIds: DataFrame,
          runTs: java.sql.Timestamp, cutoff: java.sql.Timestamp,
          deleteThreshold: String = "10%",
          maxExistingRgdId: Int = 0,
          phases: OrthologPipeline.PhaseStore =
            OrthologPipeline.InProcessPhases): Result =
    // the surrogate-key pins of this run (the new-gene rgd ids, the new
    // xref keys) are consumed by its own phase writes ("agr_resolved",
    // "agr_new_xrefs"); the scope releases them on return (O(1) live
    // pins across sequential runs)
    graft.operators.ShardedPrefixSum.scoped {
      runBody(lines, agrState, xrefs, genes, rgdIds, runTs, cutoff,
        deleteThreshold, maxExistingRgdId, phases)
    }

  private def runBody(lines: DataFrame, agrState: DataFrame, xrefs: DataFrame,
                      genes: DataFrame, rgdIds: DataFrame,
                      runTs: java.sql.Timestamp, cutoff: java.sql.Timestamp,
                      deleteThreshold: String, maxExistingRgdId: Int,
                      phases: OrthologPipeline.PhaseStore): Result = {

    val initialCount = agrState.count()

    // resolve every distinct (curie, symbol, species) via the M5 cascade
    val curies = lines.select(col("curie1").as("curie"),
        col("geneSymbol1").as("geneSymbol"),
        col("speciesTypeKey1").as("speciesTypeKey"))
      .unionByName(lines.select(col("curie2").as("curie"),
        col("geneSymbol2").as("geneSymbol"),
        col("speciesTypeKey2").as("speciesTypeKey")))
      .distinct()

    // lazy scalar: the max-rgd-id base folds into the phase-boundary
    // materialization below instead of running as its own blocking
    // driver action; a caller-supplied max rides the Int overload's
    // literal frame (one place builds that frame)
    val resolved0 = Agr.resolveCuries(curies, xrefs, genes, rgdIds)
    val resolved = phases("agr_resolved", Seq("curie"),
      if (maxExistingRgdId > 0) Agr.assignNewGenes(resolved0, maxExistingRgdId)
      else Agr.assignNewGenes(resolved0,
        genes.agg(coalesce(max(col("rgdId")), lit(0)).as("maxRgdId"))))

    val unresolved = resolved.filter(col("rgdId").isNull)
    val stats = resolved.groupBy(col("how")).count()

    // bind lines to gene rgd ids ON THE FULL RESOLUTION KEY (curie,
    // symbol, species) - the reference resolves per
    // resolveGene(speciesTypeKey, geneSymbol, geneId)
    // (AgrTsvLoader.java:306-393), so a curie appearing with two
    // different symbols resolves independently per line; a bind keyed
    // on the curie alone would cross-product such lines with every
    // resolution of the curie. Null-safe keys (a missing symbol still
    // resolves via the map step) - EqualNullSafe stays an equi-join.
    // Lines with an unresolvable side are skipped, matching the
    // reference's per-line skip counter (AgrTsvLoader.java:159-173).
    val r1 = resolved.select(col("curie").as("c1"),
      col("geneSymbol").as("g1"), col("speciesTypeKey").as("s1"),
      col("rgdId").as("rgdId1"))
    val r2 = resolved.select(col("curie").as("c2"),
      col("geneSymbol").as("g2"), col("speciesTypeKey").as("s2"),
      col("rgdId").as("rgdId2"))
    val bound = lines
      .join(r1, col("curie1") <=> col("c1") &&
        col("geneSymbol1") <=> col("g1") && col("speciesTypeKey1") <=> col("s1"))
      .join(r2, col("curie2") <=> col("c2") &&
        col("geneSymbol2") <=> col("g2") && col("speciesTypeKey2") <=> col("s2"))
      .drop("c1", "g1", "s1", "c2", "g2", "s2")
      .filter(col("rgdId1").isNotNull && col("rgdId2").isNotNull)

    val incoming = bound.select(
      col("rgdId1").as("geneRgdId1"),
      col("rgdId2").as("geneRgdId2"),
      lit("stringent").as("confidence"), // AgrTsvLoader.java:178
      when(col("isBestScore"), "Y").otherwise("N").as("isBestScore"),
      when(col("isBestRevScore"), "Y").otherwise("N").as("isBestRevScore"),
      col("algorithms").as("methodsMatched"))

    val upserted = phases("agr_upserted", Seq("geneRgdId1"),
      Agr.upsertAgrOrthologs(incoming, agrState, runTs))

    // A8: stale delete behind the circuit breaker
    val (finalState, guardOk) =
      Agr.deleteStaleWithGuard(upserted, cutoff, initialCount, deleteThreshold)

    // step-4 gene synthesis: the reference creates the gene + an ACTIVE
    // rgd id (OrthologRelationDao.java:621-642)
    val newGenes = resolved.filter(col("how") === "insert")
      .select(col("rgdId"), col("geneSymbol"), col("speciesTypeKey"),
        lit("ACTIVE").as("objectStatus"))

    // M5 writes + M6 QC. New bindings: every curie resolved OUTSIDE the
    // map step gets an AGR_GENE xref binding it to its gene
    // (insertAgrGeneXdbId at resolution steps 2-4,
    // AgrTsvLoader.java:306-393 + OrthologRelationDao.java:644-652) so
    // the next run's map step hits directly. Distinct on (rgdId, accId):
    // the reference re-inserts per line occurrence, which is set-wise
    // one binding. Surrogate accXdbKeys above the current max; the phase
    // write consumes their pin. QC: touch seen AGR_GENE xrefs, sweep
    // stale ones; the newly inserted bindings carry runTs and ride
    // through un-swept.
    val seen = resolved.filter(col("rgdId").isNotNull).select(col("curie"))
    val newXrefRows = phases("agr_new_xrefs", Seq("accXdbKey"),
      Keys.assignSequentialFrom(
        resolved.filter(col("how").isin("specialId", "symbol", "insert"))
          .select(col("rgdId"), col("curie").as("accId")).distinct(),
        "accXdbKey",
        xrefs.agg(coalesce(max(col("accXdbKey")), lit(0L))),
        Seq(col("accId"), col("rgdId")))
      .select(col("accXdbKey"), col("rgdId"),
        lit(graft.model.XdbKeys.AGR_GENE).as("xdbKey"), col("accId"),
        lit("AgrOrtholog").as("srcPipeline"),
        lit(runTs).as("modificationDate")))

    Result(finalState,
      Agr.qcCuries(xrefs, seen, cutoff, runTs).unionByName(newXrefRows),
      unresolved, guardOk, stats, newGenes)
  }
}
