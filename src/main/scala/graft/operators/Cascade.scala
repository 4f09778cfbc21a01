package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Exprs

/** W4 + W2: the 4-tier strong-ortholog cascade with conflict invalidation
  * and the best-fit tie-break chain.
  *
  * Reference semantics (OrthologRelationLoader.java:454-578):
  * per (group, srcSpecies, destSpecies) partition -
  *   tier 4: manual orthologs (XREF_DATA_SRC='RGD') - >1 candidate in the
  *           tier is a CONFLICT and yields NO pick (:468-471)
  *   tier 3: Alliance mutual-best rows from AGR_ORTHOLOGS - same conflict
  *           rule (:479-482)
  *   tier 2: incoming HCOP (HGNC) relations, best-fit pick (:490-493)
  *   tier 1: incoming NCBI relations, best-fit pick (:497-500)
  *
  * Best-fit tie-break chain (pickBestFitRelation, :537-578):
  *   (0) singleton wins
  *   (1) strictly-max evidence count wins
  *   (2) else first relation whose dest symbol equals the src symbol
  *       (case-insensitive)
  *   (3) else minimum case-insensitive dest symbol
  * Note rule (3) ranks over ALL candidates regardless of evidence count -
  * a plain argmax window over (evidence, symbol) would be WRONG; the
  * selection is therefore branch-specific on window aggregates.
  *
  * Everything is window functions over one hash partitioning of the
  * candidate set - a single shuffle, no per-row lookups, skew-bounded by
  * the fan-out of a single gene.
  */
object Cascade {

  private val pk = Seq(col("groupId"), col("srcSpeciesTypeKey"), col("destSpeciesTypeKey"))

  /** Build the full candidate set: incoming relations tagged tier 2/1 plus
    * manual (tier 4) and Alliance (tier 3) candidates joined from state.
    *
    * @param relations  post-complement relations with groupId
    *                   (Grouping.withComplementaryRelations output)
    * @param orthologs  current ortholog state (manual rows feed tier 4;
    *                   ref OrthologRelationDao.java:58-71)
    * @param agr        AGR_ORTHOLOGS state (tier 3; mutual-best only;
    *                   ref OrthologRelationDao.java:898-946)
    * @param genes      gene dimension (symbols for tie-breaks, species for
    *                   the Alliance partner-species filter)
    * @param rgdIds     object registry (rgdId, objectStatus). When given,
    *                   the MANUAL tier sees only both-endpoints-ACTIVE
    *                   state rows: the reference's getManualOrthologs
    *                   goes through getOrthologsForSourceRgdId, whose
    *                   published SQL inner-joins rgd_ids on both sides
    *                   with object_status='ACTIVE' (rgdcore OrthologDAO;
    *                   pinned in CascadePropertySpec). The ALLIANCE tier
    *                   is deliberately NOT scoped - getAllianceOrthologs
    *                   joins the genes table only, no status condition.
    */
  def candidates(relations: DataFrame, orthologs: DataFrame, agr: DataFrame,
                 genes: DataFrame,
                 rgdIds: Option[DataFrame] = None): DataFrame = {

    val incoming = relations.select(
      col("groupId"), col("srcRgdId"), col("destRgdId"),
      col("srcSpeciesTypeKey"), col("destSpeciesTypeKey"),
      col("dataSource").as("xrefDataSrc"), col("dataSetName").as("xrefDataSet"),
      when(col("dataSource") === "HGNC", 2).otherwise(1).as("tier"))

    // distinct (group, src gene, species pair) keys the state lookups hang off
    val keys = relations.select(
      col("groupId"), col("srcRgdId"),
      col("srcSpeciesTypeKey"), col("destSpeciesTypeKey")).distinct()

    // tier 4: manual orthologs for (srcRgdId, destSpecies) - F9 filter,
    // both-endpoints-ACTIVE when a registry is present (see scaladoc)
    val manualState0 = orthologs.filter(col("xrefDataSrc") === "RGD")
    val manualState = rgdIds match {
      case Some(reg) =>
        val act = broadcast(reg
          .filter(col("objectStatus") === "ACTIVE").select(col("rgdId")))
        manualState0
          .join(act.select(col("rgdId").as("srcRgdId")),
            Seq("srcRgdId"), "left_semi")
          .join(act.select(col("rgdId").as("destRgdId")),
            Seq("destRgdId"), "left_semi")
      case None => manualState0
    }
    val manual = keys.join(
      manualState
        .select(col("srcRgdId"), col("destRgdId"),
          col("destSpeciesTypeKey"), col("xrefDataSrc"), col("xrefDataSet")),
      Seq("srcRgdId", "destSpeciesTypeKey"))
      .select(col("groupId"), col("srcRgdId"), col("destRgdId"),
        col("srcSpeciesTypeKey"), col("destSpeciesTypeKey"),
        col("xrefDataSrc"), col("xrefDataSet"), lit(4).as("tier"))

    // tier 3: Alliance mutual-best (F10), both storage directions (J3/U4).
    // The AGR state is unique on (gene1, gene2, methodsMatched) - the S9
    // upsert key (Agr.upsertAgrOrthologs); `distinct` enforces that
    // invariant defensively. Then PRE-AGGREGATE per (src gene, partner
    // species) BEFORE joining the group keys: the cascade only ever needs
    // the sole tier-3 candidate (cnt=1 -> tierPick) or the fact of a
    // conflict (cnt>1 -> no pick), so a hub gene with thousands of
    // mutual-best partners contributes ONE aggregate row instead of
    // fanning every group it appears in out by its partner count
    // (measured: 1.53M -> ~70k cascade input rows on the skewed synthetic
    // state at sf0.1). A conflict keeps its n>1 semantics downstream by
    // emitting the minimal candidate twice.
    val mutualBest = agr.filter(col("isBestScore") === "Y" && col("isBestRevScore") === "Y")
    val agrSym = mutualBest.select(col("geneRgdId1").as("aSrc"),
        col("geneRgdId2").as("aDest"), col("methodsMatched"))
      .unionByName(mutualBest.select(col("geneRgdId2").as("aSrc"),
        col("geneRgdId1").as("aDest"), col("methodsMatched")))
      .distinct()

    val cand3 = struct(col("aDest"), col("methodsMatched"))
    val tier3 = agrSym
      .join(genes.select(col("rgdId"), col("speciesTypeKey").as("partnerSp")),
        col("aDest") === col("rgdId"))
      .groupBy(col("aSrc"), col("partnerSp"))
      .agg(count(lit(1)).as("cnt3"), min_by(cand3, cand3).as("c3"))

    val alliance = keys
      .join(tier3, keys("srcRgdId") === tier3("aSrc") &&
        keys("destSpeciesTypeKey") === tier3("partnerSp"))
      .select(col("groupId"), col("srcRgdId"),
        col("c3.aDest").as("destRgdId"),
        col("srcSpeciesTypeKey"), col("destSpeciesTypeKey"),
        lit("Alliance").as("xrefDataSrc"),
        col("c3.methodsMatched").as("xrefDataSet"),
        lit(3).as("tier"), col("cnt3"))
      .withColumn("dup",
        explode(when(col("cnt3") > 1, array(lit(1), lit(2)))
          .otherwise(array(lit(1)))))
      .drop("cnt3", "dup")

    incoming.unionByName(manual).unionByName(alliance)
  }

  /** Run the cascade over the candidate set; returns one pick per
    * (group, species-pair) partition - or none on tier conflict - plus
    * `tier` and `method` columns for the A6 source/method statistics
    * (bestFitFromManual/Alliance/HCOP/NCBI x
    * bestFitOneRel/LongestEvidence/SymbolMatch/ShortestSymbol,
    * OrthologRelationLoader.java:425-435).
    *
    * Physical shape: window functions over ONE hash partitioning of the
    * candidate set (a single exchange; the ordered row_number windows add
    * local sorts only). Deliberately NOT a collect_list-per-group
    * aggregation: group fan-out is unbounded in adversarial data (measured
    * 8k-16k candidates per group in the synthetic state at sf0.1), and
    * per-row arrays with interpreted higher-order sort lambdas ran 25x
    * slower than these sort-based windows on exactly that skew. Windows
    * degrade gracefully on skew; giant in-row arrays do not.
    */
  def pickStrongOrthologs(cands: DataFrame, genes: DataFrame): DataFrame = {

    // symbols for tie-breaks; genes is the small dimension side -> broadcast
    val symbols = broadcast(genes.select(col("rgdId"), col("geneSymbol")))
    val withSyms = cands
      .join(symbols.select(col("rgdId").as("srcRgdId"),
        col("geneSymbol").as("srcSymbol")), Seq("srcRgdId"), "left")
      .join(symbols.select(col("rgdId").as("destRgdId"),
        col("geneSymbol").as("destSymbol")), Seq("destRgdId"), "left")
      .withColumn("ev", Exprs.evidenceCount(col("xrefDataSet")))
      .withColumn("symMatch",
        when(Exprs.symbolMatches(col("srcSymbol"), col("destSymbol")), 1).otherwise(0))

    val w = Window.partitionBy(pk: _*)
    val topTier = max(col("tier")).over(w)

    val top = withSyms
      .withColumn("topTier", topTier)
      .filter(col("tier") === col("topTier"))

    // window aggregates over the winning tier only
    val n = count(lit(1)).over(w)
    val maxEv = max(col("ev")).over(w)
    val cntAtMax = sum(when(col("ev") === maxEv, 1).otherwise(0)).over(w)
    val anyMatch = max(col("symMatch")).over(w)
    // every ordering ends with (destRgdId, srcRgdId): the partition is
    // (group, species pair), so reverse-direction partitions hold many
    // srcs with the SAME dest - without srcRgdId the order keys tie and
    // the winner depends on execution order (SURVEY section 4 accepts any
    // comparator-total order; it must actually be total)
    // rule-1 ordering (strict evidence argmax; deterministic residual order)
    val rnEv = row_number().over(Window.partitionBy(pk: _*)
      .orderBy(col("ev").desc, lower(col("destSymbol")).asc_nulls_last,
        col("destRgdId").asc, col("srcRgdId").asc))
    // rule-2 ordering (symbol match first, then evidence - matches the
    // reference's scan of the evidence-sorted list)
    val rnSym = row_number().over(Window.partitionBy(pk: _*)
      .orderBy(col("symMatch").desc, col("ev").desc,
        lower(col("destSymbol")).asc_nulls_last, col("destRgdId").asc,
        col("srcRgdId").asc))
    // rule-3 ordering (case-insensitive min symbol over ALL candidates)
    val rnAlpha = row_number().over(Window.partitionBy(pk: _*)
      .orderBy(lower(col("destSymbol")).asc_nulls_last, col("destRgdId").asc,
        col("srcRgdId").asc))

    val annotated = top
      .withColumn("n", n)
      .withColumn("cntAtMax", cntAtMax)
      .withColumn("anyMatch", anyMatch)
      .withColumn("rnEv", rnEv)
      .withColumn("rnSym", rnSym)
      .withColumn("rnAlpha", rnAlpha)

    val isBestFitTier = col("tier") <= 2
    val picked = annotated.withColumn("method",
      when(!isBestFitTier, when(col("n") === 1, lit("tierPick")).otherwise(lit("conflict")))
        .when(col("n") === 1, "oneRel")
        .when(col("cntAtMax") === 1, "longestEvidence")
        .when(col("anyMatch") === 1, "symbolMatch")
        .otherwise("shortestSymbol"))
      .filter(
        // manual/Alliance tiers: singleton or conflict-no-pick (W4)
        (!isBestFitTier && col("n") === 1) ||
        // best-fit tiers: branch-specific winner (W2)
        (isBestFitTier && (
          (col("n") === 1) ||
          (col("cntAtMax") === 1 && col("rnEv") === 1) ||
          (col("cntAtMax") > 1 && col("anyMatch") === 1 && col("rnSym") === 1) ||
          (col("cntAtMax") > 1 && col("anyMatch") === 0 && col("rnAlpha") === 1))))

    picked.select(
      col("groupId"), col("srcRgdId"), col("destRgdId"),
      col("srcSpeciesTypeKey"), col("destSpeciesTypeKey"),
      col("xrefDataSrc"), col("xrefDataSet"), col("tier"), col("method"))
  }

  /** Aggregation-based pick (A/B candidate): same semantics as
    * [[pickStrongOrthologs]], computed as a chain of three hash
    * aggregations with `min_by`/`max_by` struct orderings instead of
    * window sorts. Every level combines map-side, so the shuffle carries
    * per-mapper DISTINCT (group, tier, evidence) rows rather than the
    * full candidate set, and hot groups are absorbed by partial
    * aggregation instead of landing on one reducer's sort.
    */
  def pickStrongOrthologsAgg(cands: DataFrame, genes: DataFrame): DataFrame = {

    val symbols = broadcast(genes.select(col("rgdId"), col("geneSymbol")))
    val withSyms = cands
      .join(symbols.select(col("rgdId").as("srcRgdId"),
        col("geneSymbol").as("srcSymbol")), Seq("srcRgdId"), "left")
      .join(symbols.select(col("rgdId").as("destRgdId"),
        col("geneSymbol").as("destSymbol")), Seq("destRgdId"), "left")
      .withColumn("symMatch",
        when(Exprs.symbolMatches(col("srcSymbol"), col("destSymbol")), 1).otherwise(0))
      // null symbols sort LAST in ascending tie-breaks (asc_nulls_last):
      // sentinel above any real lowercase char
      .withColumn("symLower", coalesce(lower(col("destSymbol")), lit("￿")))
      // null evidence sorts below any real count (ev desc = desc_nulls_last)
      .withColumn("evN", coalesce(Exprs.evidenceCount(col("xrefDataSet")), lit(-1)))

    val pkN = Seq("groupId", "srcSpeciesTypeKey", "destSpeciesTypeKey")
    val payload = struct(col("srcRgdId"), col("destRgdId"), col("xrefDataSrc"),
      col("xrefDataSet"), col("tier"), col("symLower"), col("symMatch"))

    // level 0: per (group, tier, evidence) bucket - the heavy combine
    // level. Keys end with (destRgdId, srcRgdId) for a total order (see
    // the window variant's ordering note).
    val alphaKey0 = struct(col("symLower"), col("destRgdId"), col("srcRgdId"))
    val symKey0 = struct((-col("symMatch")).as("nm"), col("symLower"),
      col("destRgdId"), col("srcRgdId"))
    val agg0 = withSyms
      .groupBy((pkN.map(col) :+ col("tier") :+ col("evN")): _*)
      .agg(
        count(lit(1)).as("cnt"),
        max(col("symMatch")).as("anyMatchE"),
        min_by(payload, alphaKey0).as("alphaWinE"),
        min_by(payload, symKey0).as("symWinE"))

    // level 1: per (group, tier); evN is unique per row here so the
    // min_by/max_by orderings are total
    val agg1 = agg0
      .groupBy((pkN.map(col) :+ col("tier")): _*)
      .agg(
        sum(col("cnt")).as("n"),
        max(col("evN")).as("maxEv"),
        max_by(col("cnt"), col("evN")).as("cntAtMaxRaw"),
        max(col("anyMatchE")).as("anyMatch"),
        // rule-1 order: ev desc, symbol asc, dest asc, src asc
        min_by(col("alphaWinE"), struct((-col("evN")).as("ne"),
          col("alphaWinE.symLower"), col("alphaWinE.destRgdId"),
          col("alphaWinE.srcRgdId"))).as("evWin"),
        // rule-2 order: symbol-match desc, ev desc, symbol asc, dest, src
        min_by(col("symWinE"), struct((-col("symWinE.symMatch")).as("nm"),
          (-col("evN")).as("ne"), col("symWinE.symLower"),
          col("symWinE.destRgdId"), col("symWinE.srcRgdId"))).as("symWin"),
        // rule-3 order: symbol asc, dest asc, src asc (no evidence)
        min_by(col("alphaWinE"), struct(col("alphaWinE.symLower"),
          col("alphaWinE.destRgdId"), col("alphaWinE.srcRgdId"))).as("alphaWin"))
      // all-null-evidence groups have no "count at max evidence" (the
      // window formulation's sum over `ev === maxEv` is 0 there)
      .withColumn("cntAtMax",
        when(col("maxEv") >= 0, col("cntAtMaxRaw")).otherwise(lit(0L)))

    // level 2: keep only each group's top tier (a handful of rows per group)
    val agg2 = agg1
      .groupBy(pkN.map(col): _*)
      .agg(max_by(struct(col("tier"), col("n"), col("cntAtMax"), col("anyMatch"),
        col("evWin"), col("symWin"), col("alphaWin")), col("tier")).as("t"))
      .select(pkN.map(col) :+ col("t.*"): _*)

    val isBestFitTier = col("tier") <= 2
    val pick =
      when(!isBestFitTier,
        when(col("n") === 1, col("alphaWin"))) // conflict -> null (no pick)
        .otherwise(
          when(col("n") === 1, col("alphaWin"))
            .when(col("cntAtMax") === 1, col("evWin"))
            .when(col("anyMatch") === 1, col("symWin"))
            .otherwise(col("alphaWin")))
    val method =
      when(!isBestFitTier, when(col("n") === 1, "tierPick").otherwise("conflict"))
        .when(col("n") === 1, "oneRel")
        .when(col("cntAtMax") === 1, "longestEvidence")
        .when(col("anyMatch") === 1, "symbolMatch")
        .otherwise("shortestSymbol")

    agg2
      .withColumn("pick", pick)
      .withColumn("method", method)
      .filter(col("pick").isNotNull)
      .select(
        col("groupId"),
        col("pick.srcRgdId").as("srcRgdId"),
        col("pick.destRgdId").as("destRgdId"),
        col("srcSpeciesTypeKey"), col("destSpeciesTypeKey"),
        col("pick.xrefDataSrc").as("xrefDataSrc"),
        col("pick.xrefDataSet").as("xrefDataSet"),
        col("pick.tier").as("tier"), col("method"))
  }

  /** Convenience: candidates + pick in one call. Uses the
    * aggregation-based pick: identical output to the window variant
    * (pinned by GroupingCascadeSpec running both), better shuffle shape -
    * map-side combine reduces each mapper to distinct (group, tier,
    * evidence) rows, and there is no per-partition sort to skew. */
  def run(relations: DataFrame, orthologs: DataFrame, agr: DataFrame,
          genes: DataFrame, rgdIds: Option[DataFrame] = None): DataFrame =
    pickStrongOrthologsAgg(
      candidates(relations, orthologs, agr, genes, rgdIds), genes)
}
