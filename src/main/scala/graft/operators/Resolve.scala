package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** J1/J2: bulk EntrezGene-id -> RGD-id resolution.
  *
  * The reference resolves one id at a time over JDBC with a memo map
  * (OrthologRelationLoader.java:209-372, 4-outcome classification in
  * getRgdIdByEgId2 at :301-372; lookup SQL OrthologRelationDao.java:507-511;
  * withdrawn->replacement at :343-371 via rgdcore
  * RGDManagementDAO.getActiveRgdIdFromHistory). Here the whole id set is
  * resolved in one set-wise pass: joins against the xref/gene/status
  * dimensions with an aggregation per external id. The memo cache becomes
  * a plain `distinct`; the point lookups become (broadcastable) hash
  * joins that Catalyst plans - no per-row round trips, so this scales to
  * arbitrarily many incoming relations.
  */
object Resolve {

  val OUTCOME_MATCHED = "matched"
  val OUTCOME_UNMATCHED = "unmatched"
  val OUTCOME_MULTIPLE = "multiple"
  val OUTCOME_WITHDRAWN = "withdrawn"

  /** Build the egId -> (outcome, rgdId) resolution map for every id in
    * `egIds` (a single-column DataFrame named `egId`).
    *
    * Outcomes (ref OrthologRelationLoader.java:301-307):
    *  - unmatched: no gene rows for the id (allele/splice excluded F5)
    *  - multiple:  >1 active gene, or 0 active but >1 replacement
    *  - withdrawn: only non-active genes, none replaced
    *  - matched:   exactly 1 active gene, or exactly 1 active replacement
    */
  def resolutionMap(egIds: DataFrame, xrefs: DataFrame, genes: DataFrame,
                    rgdIds: DataFrame, history: DataFrame): DataFrame = {

    // candidate genes per external id; DISTINCT + allele/splice exclusion
    // exactly as the reference SQL (OrthologRelationDao.java:507-511)
    val candidates = xrefs
      .filter(col("xdbKey") === graft.model.XdbKeys.ENTREZGENE)
      .join(genes.filter(!col("geneTypeLc").isin("allele", "splice")), Seq("rgdId"))
      .select(col("accId").as("egId"), col("rgdId"))
      .distinct()
      .join(egIds.distinct(), Seq("egId"), "left_semi")

    val withStatus = candidates
      .join(rgdIds.select(col("rgdId"), col("objectStatus")), Seq("rgdId"), "left")
      .withColumn("isActive", col("objectStatus") === "ACTIVE")

    // withdrawn -> replacement: MAX(new_rgd_id) per old id, replacement
    // must itself be ACTIVE (rgdcore RGDManagementDAO.getActiveRgdIdFromHistory)
    val replacementMap = history
      .join(rgdIds.filter(col("objectStatus") === "ACTIVE").select(col("rgdId")),
        history("newRgdId") === rgdIds("rgdId"))
      .groupBy(col("oldRgdId"))
      .agg(max(col("newRgdId")).as("replacedRgdId"))

    val withRepl = withStatus
      .join(replacementMap, withStatus("rgdId") === replacementMap("oldRgdId"), "left")

    withRepl
      .groupBy(col("egId"))
      .agg(
        sum(when(col("isActive"), 1).otherwise(0)).as("activeC"),
        max(when(col("isActive"), col("rgdId"))).as("activeRgdId"),
        sum(when(!col("isActive") && col("replacedRgdId").isNotNull, 1).otherwise(0))
          .as("replacedC"),
        max(when(!col("isActive"), col("replacedRgdId"))).as("replacedRgdId"),
        max(when(!col("isActive"), col("rgdId"))).as("nonActiveRgdId"))
      .select(
        col("egId"),
        when(col("activeC") > 1, OUTCOME_MULTIPLE)
          .when(col("activeC") === 1, OUTCOME_MATCHED)
          .when(col("replacedC") > 1, OUTCOME_MULTIPLE)
          .when(col("replacedC") === 1, OUTCOME_MATCHED)
          .otherwise(OUTCOME_WITHDRAWN).as("outcome"),
        when(col("activeC") === 1, col("activeRgdId"))
          .when(col("activeC") === 0 && col("replacedC") === 1, col("replacedRgdId"))
          .as("resolvedRgdId"))
  }

  /** Resolve both sides of the relation set against the dimension tables.
    *
    * Returns (resolved, audit):
    *  - resolved: relations with srcRgdId/destRgdId populated (matched on
    *    both sides only) - the set-wise equivalent of matchRgdId + F7
    *    dropUnmappedRelations (OrthologRelationLoader.java:83-96,209-291)
    *  - audit: every input relation tagged with its outcome, mirroring the
    *    matched/unmatched/multipleMatch/withdrawn log streams and the A6
    *    counter pool (counters become `groupBy("outcome").count()`).
    *    Source-side failures shadow dest-side ones, exactly like the
    *    reference's early returns (OrthologRelationLoader.java:241-255).
    */
  def resolveRelations(relations: DataFrame, xrefs: DataFrame, genes: DataFrame,
                       rgdIds: DataFrame, history: DataFrame): (DataFrame, DataFrame) = {

    val ids = relations.select(col("srcOtherId").as("egId"))
      .union(relations.select(col("destOtherId").as("egId")))
    // the map is probed for both relation sides, and the joined frame
    // feeds both the audit and the resolved output: persist the shared
    // nodes so one resolution pass serves all consumers (lazy). Not
    // released by the run on purpose: a later run over the same
    // relations and dimension tables (the `--species` reload) reads this
    // entry - see the note at Grouping.withComplementaryRelations. Its
    // rows are small (8 KB for the ~200 sf0.1 ids), but its plan pins
    // the broadcasts it was built with, 36.5 MB after the sf0.1
    // ortholog flow: one Tungsten page (32 MB) for the 200-row
    // string-keyed semi-join on egId, plus four long-keyed dimension
    // tables of 1.1 MB each.
    val egMap = resolutionMap(ids, xrefs, genes, rgdIds, history).persist()

    // The id map is the build side of both probes, by hint: it holds one
    // row per distinct gene id, so it is dimension-sized. At plan
    // time Spark sizes a parquet scan by its compressed bytes, and the
    // persisted map, until it is materialized, by its plan's estimate.
    // Once a null-rejecting filter downstream (dropUnmapped) turns these
    // left joins into inner joins, either side may be built, and without
    // the hint the 600k-row sf0.1 relations (a few MB on disk) looked
    // the smaller: the driver collected them into a 112 MB hash table,
    // which every persisted frame whose plan holds the join (Grouping's
    // `merged`) pinned until release.
    val srcMap = broadcast(egMap.select(
      col("egId").as("srcOtherId"),
      col("outcome").as("srcOutcome"),
      col("resolvedRgdId").as("srcResolved")))
    val destMap = broadcast(egMap.select(
      col("egId").as("destOtherId"),
      col("outcome").as("destOutcome"),
      col("resolvedRgdId").as("destResolved")))

    // no persist here (r17): the map probes are two broadcast-hash
    // joins that build on the PERSISTED egMap and stream the relations,
    // so a caller consuming both outputs recomputes only the relations
    // scan + two cached-build probes - while the cache write of this
    // relations-sized frame costs more than that recompute for every
    // caller (the registry's audit-only q_a6_resolve and the flagship's
    // resolved-only chain each consume exactly one output; measured
    // -0.5 s on q_a6_resolve)
    val joined = relations
      .join(srcMap, Seq("srcOtherId"), "left")
      .join(destMap, Seq("destOtherId"), "left")
      .withColumn("srcOutcome", coalesce(col("srcOutcome"), lit(OUTCOME_UNMATCHED)))
      .withColumn("destOutcome", coalesce(col("destOutcome"), lit(OUTCOME_UNMATCHED)))

    // src failure shadows dest (reference returns before resolving dest)
    val outcome = when(col("srcOutcome") =!= OUTCOME_MATCHED, col("srcOutcome"))
      .when(col("destOutcome") =!= OUTCOME_MATCHED, col("destOutcome"))
      .otherwise(OUTCOME_MATCHED)

    val audit = joined.withColumn("outcome", outcome)
      .withColumn("failedSide",
        when(col("srcOutcome") =!= OUTCOME_MATCHED, "src")
          .when(col("destOutcome") =!= OUTCOME_MATCHED, "dest"))

    val resolved = audit.filter(col("outcome") === OUTCOME_MATCHED)
      .withColumn("srcRgdId", col("srcResolved").cast("int"))
      .withColumn("destRgdId", col("destResolved").cast("int"))
      .drop("srcOutcome", "destOutcome", "srcResolved", "destResolved",
        "outcome", "failedSide")

    (resolved, audit)
  }

  /** F7: drop relations that could not be mapped to RGD ids.
    * Ref: OrthologRelationLoader.java:83-96. */
  def dropUnmapped(relations: DataFrame): DataFrame =
    relations.filter(col("srcRgdId") > 0 && col("destRgdId") > 0)
}
