package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Exprs

/** M1/M2/W1/W3/F11/M3: reconcile incoming strong orthologs against the
  * ortholog state table.
  *
  * The reference does this row-at-a-time with interleaved reads and
  * writes (OrthologRelationLoader.java:591-672,
  * OrthologRelationDao.java:73-159). Recast as a pure function
  * `(incoming, state, runTs) => (newState, audit)`: all decisions are
  * computed against the prior-state snapshot and applied in one
  * deterministic merge - a full-outer join plus tag classification, no
  * driver-side loops.
  */
object Merge {

  /** W3 comparator as a window ordering: source priority desc, evidence
    * count desc, src-symbol match desc, dest symbol REVERSE-alphabetical
    * (note: unlike W2's ascending rule - ref
    * OrthologRelationDao.java:161-188 returns
    * `dest2.compareToIgnoreCase(dest1)`, i.e. descending), then key for
    * determinism. */
  def w3OrderCols(prefix: String = ""): Seq[Column] = Seq(
    Exprs.sourcePriority(col(s"${prefix}xrefDataSrc")).desc,
    Exprs.evidenceCount(col(s"${prefix}xrefDataSet")).desc,
    col(s"${prefix}symMatch").desc,
    lower(col(s"${prefix}destSymbol")).desc_nulls_last,
    col(s"${prefix}destRgdId").asc)

  private def withSymbols(df: DataFrame, genes: DataFrame): DataFrame = {
    val symbols = broadcast(genes.select(col("rgdId"), col("geneSymbol")))
    df.join(symbols.select(col("rgdId").as("srcRgdId"),
        col("geneSymbol").as("srcSymbol")), Seq("srcRgdId"), "left")
      .join(symbols.select(col("rgdId").as("destRgdId"),
        col("geneSymbol").as("destSymbol")), Seq("destRgdId"), "left")
      .withColumn("symMatch",
        when(Exprs.symbolMatches(col("srcSymbol"), col("destSymbol")), 1).otherwise(0))
  }

  /** Result of the reconcile step. All members are DataFrames over the
    * ortholog schema (+ audit columns); `newState` is the post-merge state
    * table. */
  case class MergeResult(newState: DataFrame, touched: DataFrame,
                         inserted: DataFrame, deleted: DataFrame,
                         downgraded: DataFrame)

  /** M1 + M2: reconcile incoming picks with state for one species pair.
    *
    * Per (srcRgdId, destSpeciesTypeKey):
    *  - multiple state rows: keep the W3-best, queue the rest for delete
    *    (OrthologRelationDao.java:122-133)
    *  - same destRgdId as incoming: MATCH -> touch last_modified
    *    (OrthologRelationLoader.java:611-615; update by user 70 at :629)
    *  - no state row: INSERT (:616-620)
    *  - different dest: W3 comparison; existing weaker -> delete existing +
    *    insert incoming; incoming weaker -> DOWNGRADE incoming to weak
    *    ortholog (:621-625, OrthologRelationDao.java:140-158)
    *  - M2 stale sweep: state rows of the species pair not touched this
    *    run are deleted - unless manual (F11) or blocked by the
    *    sole-survivor rule (OrthologRelationLoader.java:657-672,
    *    OrthologRelationDao.java:73-100)
    *  - F11 everywhere: manual rows (xrefDataSrc='RGD') are never deleted
    *    (OrthologRelationDao.java:481-490)
    *
    * Status visibility (round 16, pinned in MergePropertySpec): the
    * reference's per-group state fetch is getOrthologsForSourceRgdId,
    * whose published SQL joins rgd_ids on BOTH endpoints with
    * object_status='ACTIVE'. Consequences re-expressed here exactly:
    *
    *  - only both-endpoints-ACTIVE state rows participate in the
    *    match / dup-conflict / replace comparisons; a row with an
    *    inactive endpoint is INVISIBLE to the reconcile and passes
    *    through untouched (`rgdIds = None` treats every id as ACTIVE -
    *    the engine-internal no-registry mode);
    *  - dup-conflict deletes fire ONLY for (src, destSp) keys with an
    *    incoming pick (the reference's conflict path is inside
    *    getKeyForMatchingOrtholog, called per incoming) - a key with
    *    no incoming keeps its duplicates for the sweep to arbitrate;
    *  - the M2 sweep's candidates are the species pair's
    *    pre-run-modified non-manual rows of ANY status
    *    (getOrthologsModifiedBefore's published SQL has no status
    *    filter), but the sole-survivor count is the both-ACTIVE row
    *    count of the (src, destSp) key, DEPLETING as the reference's
    *    sequential loop deletes: a candidate deletes iff the number of
    *    ACTIVE candidates ahead of it (key order - the deterministic
    *    stand-in for the unspecified DB list order) is below
    *    activeCount - 1. Two active stale duplicates therefore lose
    *    ONE row, never both.
    *
    * `materializeInserts` is the keyed-insert consumption hook: the
    * freshly keyed insert frame passes through it before anything else
    * references it. The pipeline passes its phase-boundary store here
    * (one bucketed write of a DELTA-sized frame), which (a) makes the
    * inserted audit and the post-merge state read the SAME materialized
    * keys instead of each recomputing the key join, and (b) CONSUMES
    * the surrogate-key pin (see operators.Keys) inside the run, so the
    * pin scope that OrthologPipeline.runSpecies opens around the whole
    * run releases it on return. The default identity keeps the fully lazy operator
    * semantics for direct callers (specs, the registry's q_m1_reconcile)
    * - their pin lives until the innermost open pin scope exits (for a
    * registry query, its graft.Scope), consumed within it by
    * construction. */
  def reconcile(incoming: DataFrame, state: DataFrame, genes: DataFrame,
                runTs: java.sql.Timestamp, speciesTypeKey: Int,
                rgdIds: Option[DataFrame] = None,
                pipelineUserId: Int = 70,
                materializeInserts: DataFrame => DataFrame = identity)
      : MergeResult = {

    val human = graft.model.Species.HUMAN
    val key = Seq("srcRgdId", "destSpeciesTypeKey")

    // status visibility: tag every state row with whether BOTH endpoints
    // are ACTIVE in the registry (the reference's per-group fetch SQL
    // inner-joins rgd_ids twice with object_status='ACTIVE' - an id
    // absent from the registry is as invisible as a withdrawn one). The
    // active-id set broadcasts like the gene dimension in withSymbols:
    // a registry is id-only here, far smaller than the symbol table.
    val stateTagged = rgdIds match {
      case Some(reg) =>
        val act = broadcast(reg
          .filter(col("objectStatus") === "ACTIVE").select(col("rgdId")))
        state
          .join(act.select(col("rgdId").as("srcRgdId"),
            lit(true).as("srcActive")), Seq("srcRgdId"), "left")
          .join(act.select(col("rgdId").as("destRgdId"),
            lit(true).as("destActive")), Seq("destRgdId"), "left")
          .withColumn("bothActive",
            coalesce(col("srcActive"), lit(false)) &&
              coalesce(col("destActive"), lit(false)))
          .drop("srcActive", "destActive")
      case None => state.withColumn("bothActive", lit(true))
    }
    // invisible rows pass through the match/conflict machinery untouched;
    // they re-enter at the merged union below and can still be SWEPT
    // (the sweep's candidate fetch has no status filter)
    val visibleState = stateTagged.filter(col("bothActive")).drop("bothActive")

    // dedupe incoming per (src, destSp) with the W3 ordering: sequential
    // group processing order in the reference is the only thing that broke
    // such ties; any comparator-total order is accepted (SURVEY.md section 4)
    val incomingSym = withSymbols(incoming, genes)
    val wInc = Window.partitionBy(key.map(col): _*).orderBy(w3OrderCols(): _*)
    // groupId passes through to inserted state rows when the caller
    // provides it (the cascade's picks do) - reference-bean parity
    val incExtra =
      if (incoming.columns.contains("groupId")) Seq(col("groupId")) else Nil
    val inc = incomingSym.withColumn("rnInc", row_number().over(wInc))
      .filter(col("rnInc") === 1).drop("rnInc")
      .select(Seq(col("srcRgdId"), col("destRgdId"), col("srcSpeciesTypeKey"),
        col("destSpeciesTypeKey"), col("xrefDataSrc"), col("xrefDataSet")) ++
        incExtra ++
        Seq(col("symMatch"), col("srcSymbol"), col("destSymbol")): _*)

    // rank VISIBLE state rows per (src, destSp); best is the comparison
    // target, the rest are duplicate-conflict deletes (minus manual per
    // F11) - but only for keys with an incoming pick (the reference's
    // conflict path lives inside getKeyForMatchingOrtholog, called per
    // incoming; a no-incoming key keeps its duplicates for the sweep).
    // the ranked state, the classification join, the keyed inserts, and
    // the counted post-merge state each feed several outputs below;
    // persist the shared nodes so one reconcile evaluates each subtree
    // once (MEMORY_AND_DISK - spills instead of recomputing at scale).
    // Laziness is preserved: nothing materializes until a consumer runs.
    val stateSym = withSymbols(visibleState, genes)
    val wState = Window.partitionBy(key.map(col): _*).orderBy(w3OrderCols(): _*)
    val rankedState = stateSym.withColumn("rnState", row_number().over(wState))
      .persist()

    val bestState = rankedState.filter(col("rnState") === 1)
    val dupDeletes = rankedState.filter(col("rnState") > 1 &&
      col("xrefDataSrc") =!= "RGD")
      .join(inc.select(key.map(col): _*), key, "left_semi")

    // full-outer classification join on (src, destSp)
    val i = inc.select(
      col("srcRgdId").as("k_src"), col("destSpeciesTypeKey").as("k_dsp"),
      struct(inc.columns.toIndexedSeq.map(col): _*).as("inc"))
    val s = bestState.select(
      col("srcRgdId").as("k_src"), col("destSpeciesTypeKey").as("k_dsp"),
      struct(bestState.columns.toIndexedSeq.map(col): _*).as("ex"))

    val cmp = joinedComparison(i.join(s, Seq("k_src", "k_dsp"), "full_outer"))
      .persist()

    val touched = cmp.filter(col("cls") === "match")
      .select(col("ex.*")).drop("rnState", "symMatch", "srcSymbol", "destSymbol")
      .withColumn("lastModifiedBy", lit(pipelineUserId))
      .withColumn("lastModifiedDate", lit(runTs))

    val insertedRaw = cmp.filter(col("cls") === "insert" || col("cls") === "replace")
      .select(col("inc.*")).drop("symMatch", "srcSymbol", "destSymbol")

    val replacedDeletes = cmp.filter(col("cls") === "replace" &&
        col("ex.xrefDataSrc") =!= "RGD")
      .select(col("ex.*")).drop("rnState", "symMatch", "srcSymbol", "destSymbol")

    val downgraded = cmp.filter(col("cls") === "downgrade")
      .select(col("inc.*")).drop("symMatch", "srcSymbol", "destSymbol")

    // assign surrogate keys to inserts: max existing key + a distributed
    // sequence over a stable unique sort (deterministic; tests never
    // depend on absolute ids). NOT a global-order window - that would
    // single-partition the insert set (see operators.Keys) - and the
    // max-key base attaches lazily as a broadcast scalar, so composing
    // this plan triggers no driver action.
    val maxKey = state.agg(coalesce(max(col("key")), lit(0L)))
    val insertedFilled0 = Keys.assignSequentialFrom(insertedRaw, "key", maxKey,
      Seq(col("srcRgdId"), col("destSpeciesTypeKey"), col("destRgdId")))
      .withColumn("orthologTypeKey",
        Exprs.orthologTypeKey(col("srcSpeciesTypeKey"), col("destSpeciesTypeKey")))
      .withColumn("xrefDataSet", Exprs.canonicalXrefDataSet(col("xrefDataSet")))
      .withColumn("createdBy", lit(pipelineUserId))
      .withColumn("createdDate", lit(runTs))
      .withColumn("lastModifiedBy", lit(pipelineUserId))
      .withColumn("lastModifiedDate", lit(runTs))
    // ONLY the known nullable passthroughs (percentHomology, and groupId
    // when the caller didn't pass one) fill with typed nulls; any OTHER
    // state column missing from the insert path still fails fast at the
    // select below - schema drift must not silently null into state
    val passthroughs = Seq("percentHomology", "groupId")
    val inserted = materializeInserts(passthroughs
      .filter(c => state.columns.contains(c) &&
        !insertedFilled0.columns.contains(c))
      .foldLeft(insertedFilled0) { (f, c) =>
        f.withColumn(c, lit(null).cast(state.schema(c).dataType))
      }
      .select(state.columns.toIndexedSeq.map(col): _*))
    // no persist here: under the identity hook the key assignment above
    // already pins the full insert frame (Keys -> ShardedPrefixSum
    // pin), so both consumers (newState union + the inserted
    // audit) recompute only the cheap post-pin window/offset join - a
    // second cache entry would hold the same rows twice. Under a
    // materializing hook both consumers read the written delta and the
    // pin's job is already done.

    // state after match/insert/replace/dup-cleanup
    val deletes0 = dupDeletes.select(col("key"))
      .union(replacedDeletes.select(col("key")))
    val touchedKeys = touched.select(col("key"))

    // kept carries bothActive through (invisible rows are never in
    // deletes0/touchedKeys, so they ride through untouched by
    // construction - the reference simply never fetched them)
    val kept = stateTagged
      .join(deletes0, Seq("key"), "left_anti")
      .join(touchedKeys.withColumnRenamed("key", "tKey"),
        col("key") === col("tKey"), "left")
      .withColumn("lastModifiedBy",
        when(col("tKey").isNotNull, lit(pipelineUserId)).otherwise(col("lastModifiedBy")))
      .withColumn("lastModifiedDate",
        when(col("tKey").isNotNull, lit(runTs)).otherwise(col("lastModifiedDate")))
      .drop("tKey")

    // inserts come from the resolution, which maps to ACTIVE genes only
    // (the operator contract, pinned in MergePropertySpec)
    val merged = kept.unionByName(inserted.withColumn("bothActive", lit(true)))

    // M2: stale sweep over the species pair. The reference's loop
    // (OrthologRelationLoader.java:657-672) fetches the pair's
    // pre-run-modified rows with NO status filter, then deletes each
    // sequentially unless manual (F11) or blocked by REQUIREMENT 2
    // (OrthologRelationDao.java:92-99), whose count re-fetch is the
    // both-ACTIVE row count of the (src, destSp) key - DEPLETING as
    // active rows are deleted. The closed form of that sequential walk
    // (candidates in key order - the deterministic stand-in for the
    // unspecified DB list order): a candidate deletes iff
    // activeTotal - (ACTIVE candidates strictly ahead of it) > 1.
    // Deletions form a prefix of the candidate order, so the running
    // count of active candidates ahead equals the depleted total
    // exactly (proof in MergePropertySpec's model, which walks the loop
    // literally). Two active stale duplicates lose ONE row, never both.
    val inPair = (col("srcSpeciesTypeKey") === human &&
        col("destSpeciesTypeKey") === speciesTypeKey) ||
      (col("srcSpeciesTypeKey") === speciesTypeKey &&
        col("destSpeciesTypeKey") === human)
    val isCand = inPair &&
      col("lastModifiedDate") < lit(runTs) &&
      col("xrefDataSrc") =!= "RGD"
    val wCnt = Window.partitionBy(key.map(col): _*)
    val wAhead = Window.partitionBy(key.map(col): _*).orderBy(col("key"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val withCnt = merged
      .withColumn("cand", isCand)
      .withColumn("activeTotal",
        sum(when(col("bothActive"), 1).otherwise(0)).over(wCnt))
      .withColumn("activeCandBefore",
        coalesce(sum(when(col("cand") && col("bothActive"), 1)
          .otherwise(0)).over(wAhead), lit(0)))
      .persist()
    val sweepCols = Seq("bothActive", "cand", "activeTotal", "activeCandBefore")
    val stale = withCnt.filter(col("cand") &&
      col("activeTotal") - col("activeCandBefore") > 1)

    val newState = withCnt
      .join(stale.select(col("key")), Seq("key"), "left_anti")
      .drop(sweepCols: _*)

    val deleted = dupDeletes.drop("rnState", "symMatch", "srcSymbol", "destSymbol")
      .unionByName(replacedDeletes)
      .unionByName(stale.drop(sweepCols: _*))

    MergeResult(newState, touched, inserted, deleted, downgraded)
  }

  /** Classify each (incoming, existing) pair: match / insert / replace /
    * downgrade / stale-candidate. The W3 comparison is inlined as column
    * expressions over the two structs. */
  private def joinedComparison(j: DataFrame): DataFrame = {
    val exP = Exprs.sourcePriority(col("ex.xrefDataSrc"))
    val inP = Exprs.sourcePriority(col("inc.xrefDataSrc"))
    val exEv = Exprs.evidenceCount(col("ex.xrefDataSet"))
    val inEv = Exprs.evidenceCount(col("inc.xrefDataSet"))
    // compareOrthologs(existing, incoming) > 0  <=>  existing is weaker
    // (OrthologRelationDao.java:164-188); symbol rules inline:
    val exSymMatch = col("ex.symMatch") === 1
    val inSymMatch = col("inc.symMatch") === 1
    val existingWeaker =
      when(exP =!= inP, exP < inP)
        .when(exEv =!= inEv, exEv < inEv)
        .when(exSymMatch, false) // rule: existing's dest matches src symbol -> existing first
        .when(inSymMatch, true)
        // null symbols mirror w3OrderCols' desc_nulls_last: a missing dest
        // symbol is weakest (a null in the raw `<` would fall through to
        // "downgrade" even when only the existing symbol is null)
        .when(col("ex.destSymbol").isNull && col("inc.destSymbol").isNotNull, true)
        .when(col("inc.destSymbol").isNull, false)
        // reverse-alphabetical: existing weaker when its symbol sorts lower
        .otherwise(lower(col("ex.destSymbol")) < lower(col("inc.destSymbol")))

    j.withColumn("cls",
      when(col("inc").isNull, "stale")
        .when(col("ex").isNull, "insert")
        .when(col("ex.destRgdId") === col("inc.destRgdId"), "match")
        .when(existingWeaker, "replace")
        .otherwise("downgrade"))
  }

  /** W1: priority-ranked duplicate cleanup - for each (src, dest) pair
    * keep the highest-priority row; rows below rank 1 that are owned by
    * the pipeline are deleted. A direct window translation of the
    * reference's ROW_NUMBER SQL (OrthologRelationDao.java:798-819). */
  def deleteDuplicateNonManualOrthologs(state: DataFrame, pipelineUserId: Int = 70)
      : (DataFrame, DataFrame) = {
    val w = Window.partitionBy(col("srcRgdId"), col("destRgdId"))
      .orderBy(Exprs.sourcePriority(col("xrefDataSrc")).desc, col("key").asc)
    val ranked = state.withColumn("rn", row_number().over(w)).persist()
    val toDelete = ranked.filter(col("rn") > 1 && col("createdBy") === pipelineUserId)
    (ranked.join(toDelete.select(col("key")), Seq("key"), "left_anti").drop("rn"),
      toDelete.drop("rn"))
  }
}
