package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators._

/** The flagship `--species` flow as one pure batch transformation:
  * `(source relations, prior state, runTs) => (new state, audit outputs)`.
  *
  * Mirrors OrthologRelationLoadingManager.run ->
  * OrthologRelationLoader.run (OrthologRelationLoadingManager.java:120-155,
  * OrthologRelationLoader.java:37-80), with every interleaved read/write
  * recast against the prior-state snapshot (SURVEY.md section 4,
  * "order-dependence"): parse -> resolve (J1/J2) -> drop unmapped (F7) ->
  * group+merge (A1/A3) -> complement (U2) -> cascade (W4/W2) ->
  * reconcile (M1/M2/W3/F11) -> weak-ortholog sync (M4/A7/D1/D2/D3) ->
  * final dedupe (W1).
  */
object OrthologPipeline {

  /** Prior state + dimension snapshot (the parquet-backed "database"). */
  case class State(orthologs: DataFrame, associations: DataFrame,
                   agrOrthologs: DataFrame, xrefs: DataFrame, genes: DataFrame,
                   rgdIds: DataFrame, history: DataFrame)

  /** Pipeline products. [[strongPicks]] and [[resolutionAudit]] are
    * plain frames over phase-store-backed inputs, materialized by the
    * run itself - safe to compile and execute at any later time, with
    * no dependence on the run's transient cache state.
    *
    * Everything past the picks phase ([[orthologs]], [[associations]],
    * [[mergeAudit]]) is computed ON FIRST ACCESS, r16: the reconcile /
    * weak-sync / repair phases cost ~5 s of phase-boundary writes at
    * bench scale (and a full state rewrite at production scale), and a
    * picks-only caller - the benched flagship projections - throws that
    * work away (guide "don't compute things you throw away"). The first
    * access of ANY post-picks product runs those phases once, through
    * the run's PhaseStore, inside their own pin scope: the
    * reconcile's surrogate-key pin is consumed by its own phase write
    * and released on scope exit, so no pin outlives the access
    * (PinLifecycleSpec). [[associations]] additionally defers its own
    * key-assigning phase write to its own first access, as before. */
  final class Result(restThunk: () => RestOfRun,
                     val resolutionAudit: DataFrame,
                     val strongPicks: DataFrame) {
    private lazy val rest: RestOfRun = restThunk()
    /** Final ortholog state, phase-materialized at first access. */
    lazy val orthologs: DataFrame = rest.orthologs
    /** Final association state, phase-materialized at first access. */
    lazy val associations: DataFrame = rest.newAssociations()
    /** Reconcile/sync audit streams, phase-materialized at first access. */
    lazy val mergeAudit: Map[String, DataFrame] = rest.mergeAudit
  }

  /** Products of the post-picks phases (reconcile -> dedupe -> weak
    * sync -> repairs), built lazily by [[Result]]. */
  private final case class RestOfRun(orthologs: DataFrame,
                                     newAssociations: () => DataFrame,
                                     mergeAudit: Map[String, DataFrame])

  /** How a phase boundary materializes. The pipeline is a chain of
    * phases that each read the previous phase's full output (and the
    * state snapshot several times over); composing them as one lazy plan
    * makes Catalyst's tree traversals blow up combinatorially, so every
    * phase output is materialized and the plan restarts from it.
    *
    * [[BucketedPhases]] is the PRODUCTION path: each phase output is
    * written as a bucketed parquet state table (via
    * [[graft.sources.StateStore]]) and re-read - a run must survive
    * process loss between phases, and the next phase's equi-joins want
    * the bucket co-location. The benched/oracled flagship runs this
    * path, so the bench pays the real write+read cost.
    * [[InProcessPhases]] (localCheckpoint) is the in-process stand-in
    * for callers without a writable warehouse (unit fixtures, CLI dry
    * runs). */
  trait PhaseStore {
    def apply(name: String, keys: Seq[String], df: DataFrame): DataFrame
  }
  case object InProcessPhases extends PhaseStore {
    def apply(name: String, keys: Seq[String], df: DataFrame): DataFrame =
      df.localCheckpoint()
  }
  /** Bucketed-parquet phase persistence. `prefix` namespaces the catalog
    * tables (one flagship run per prefix); files land under `baseDir`.
    * Bucket count is the TEST/bench-scale value - production sizes
    * buckets for the target table (see StateStore scaladoc). */
  final case class BucketedPhases(prefix: String, baseDir: String,
                                  buckets: Int = 64) extends PhaseStore {
    def apply(name: String, keys: Seq[String], df: DataFrame): DataFrame = {
      val table = s"${prefix}_$name"
      graft.sources.StateStore.writeBucketed(df, table, keys, buckets,
        path = Some(s"$baseDir/$name"))
      graft.sources.StateStore.read(df.sparkSession, table)
    }
  }

  /** Run the per-species load for `speciesTypeKey` over already-parsed
    * relations (output shape of Readers.readHcopPlusNcbi / readNcbi). */
  def runSpecies(relations: DataFrame, state: State, speciesTypeKey: Int,
                 runTs: java.sql.Timestamp, pipelineUserId: Int = 70,
                 phases: PhaseStore = InProcessPhases): Result =
    // surrogate-key pins created by this run are consumed by its own
    // phase-boundary writes (the reconcile insert delta below); the
    // scope releases them on return, so N sequential runs hold O(1)
    // live pins with no caller sweeps (ShardedPrefixSum scaladoc)
    graft.operators.ShardedPrefixSum.scoped {
      runSpeciesBody(relations, state, speciesTypeKey, runTs,
        pipelineUserId, phases)
    }

  private def runSpeciesBody(relations: DataFrame, state: State,
                             speciesTypeKey: Int, runTs: java.sql.Timestamp,
                             pipelineUserId: Int,
                             phases: PhaseStore): Result = {

    // J1/J2 bulk resolution + audit streams (matched/unmatched/...)
    val (resolved, audit) = Resolve.resolveRelations(
      relations, state.xrefs, state.genes, state.rgdIds, state.history)

    // F7 (resolution already drops failures; guard for direct callers)
    val mapped = Resolve.dropUnmapped(resolved)

    // A1/A3 merge + U2 complement
    val merged = Grouping.mergeRelations(mapped)
    val withComplements = phases("relations", Seq("srcRgdId"),
      Grouping.withComplementaryRelations(merged))

    // W4 cascade + W2 best-fit against the prior-state snapshot; the
    // registry scopes the MANUAL tier to both-ACTIVE rows (r16 pin)
    val picks = phases("picks", Seq("srcRgdId"),
      Cascade.run(withComplements, state.orthologs,
        state.agrOrthologs, state.genes, rgdIds = Some(state.rgdIds)))

    // Everything below runs on FIRST ACCESS of a post-picks product
    // (Result scaladoc): the benched picks-only consumers never pay for
    // the reconcile/sync/repair phase writes. The block runs inside its
    // own pin scope - the reconcile's surrogate-key pin is
    // consumed by the "inserted" phase write and released on exit,
    // exactly as it was when the body ran eagerly inside runSpecies'
    // scope.
    def restOfRun(): RestOfRun = graft.operators.ShardedPrefixSum.scoped {

    // M1/M2: reconcile picks with ortholog state; groupId rides along
    // onto inserted state rows (reference-bean parity)
    val incoming = picks.select(
      col("srcRgdId"), col("destRgdId"),
      col("srcSpeciesTypeKey"), col("destSpeciesTypeKey"),
      col("xrefDataSrc"), col("xrefDataSet"), col("groupId"))
    // the insert delta materializes at its own phase boundary (the
    // hook): the inserted audit and merged state then read the SAME
    // stored keys, and the surrogate-key pin is consumed inside this
    // run's pin scope (released on return)
    // the registry rides into the reconcile: the reference's per-group
    // state fetch is both-endpoints-ACTIVE (round-16 visibility pin)
    val m0 = Merge.reconcile(incoming, state.orthologs, state.genes,
      runTs, speciesTypeKey, rgdIds = Some(state.rgdIds),
      pipelineUserId = pipelineUserId,
      materializeInserts = df => phases("inserted", Seq("key"), df))
    val m = m0.copy(
      newState = phases("merged_state", Seq("key"), m0.newState),
      downgraded = phases("downgraded", Seq("srcRgdId"), m0.downgraded))

    // W1: final duplicate cleanup
    val (dedupedState0, w1Deleted) = Merge.deleteDuplicateNonManualOrthologs(
      m.newState, pipelineUserId)
    val dedupedState = phases("orthologs", Seq("key"), dedupedState0)

    // M4/A7: weak-ortholog sync against the POST-merge ortholog state
    val weakIncoming = WeakSync.dropStrongOrthologs(
      WeakSync.buildIncoming(withComplements, m.downgraded, runTs), dedupedState)
    // S6 diff scope: weak_ortholog associations of the (human,
    // speciesTypeKey) pair only, both directions (WeakSync.syncScope) -
    // out-of-scope state rows (other pairs' runs, other assoc types)
    // must never classify as this run's stale deletes
    val assocInScope = WeakSync.syncScope(state.associations,
      state.rgdIds, speciesTypeKey)
    val sync = WeakSync.syncDiff(weakIncoming, assocInScope)

    // D1/D2/D3: symmetry repair + delete-flap suppression
    val human = graft.model.Species.HUMAN
    val rep1 = WeakSync.repairOrthologSymmetry(dedupedState, state.associations,
      human, speciesTypeKey, runTs, rgdIds = Some(state.rgdIds))
    val rep2 = WeakSync.repairOrthologSymmetry(dedupedState, state.associations,
      speciesTypeKey, human, runTs, rgdIds = Some(state.rgdIds))
    val deletesAfterOrthoRepair = WeakSync.detach(sync.deletes,
      rep1.detachKeys.unionByName(rep2.detachKeys))
    val rep3 = WeakSync.repairAssocSymmetry(state.associations, dedupedState,
      state.rgdIds, deletesAfterOrthoRepair, speciesTypeKey, runTs)
    val finalDeletes = WeakSync.detach(deletesAfterOrthoRepair, rep3.detachKeys)

    // final association state = state - deletes + updates + inserts (+ repairs).
    // Deferred to first access (Result scaladoc): the insert keys pin a
    // shared exchange during materialization, so the accessor phase-
    // writes the new state in its own pin scope and hands back
    // the store-backed read - no pin outlives the access, and callers
    // that never read associations never build this branch.
    val repairInserts = rep1.assocInserts
      .unionByName(rep2.assocInserts).unionByName(rep3.assocInserts)
    val untouchedAssocs = state.associations
      .join(finalDeletes.select(col("assocKey")), Seq("assocKey"), "left_anti")
      .join(sync.updates.select(col("assocKey")), Seq("assocKey"), "left_anti")
    def newAssociations(): DataFrame =
      graft.operators.ShardedPrefixSum.scoped {
        phases("associations", Seq("assocKey"), untouchedAssocs
          .unionByName(
            sync.updates.select(untouchedAssocs.columns.toIndexedSeq.map(col): _*))
          .unionByName(assignAssocKeys(
            sync.inserts.unionByName(repairInserts), state.associations)))
      }

    // repair ortholog deletes (D1 downgrades) leave the ortholog state
    val finalOrthologs = dedupedState.join(
      rep1.orthologDeletes.unionByName(rep2.orthologDeletes), Seq("key"), "left_anti")

    RestOfRun(
      orthologs = finalOrthologs,
      newAssociations = () => newAssociations(),
      mergeAudit = Map(
        "touched" -> m.touched, "inserted" -> m.inserted,
        "deleted" -> m.deleted, "downgraded" -> m.downgraded,
        "w1Deleted" -> w1Deleted, "syncMatched" -> sync.matched,
        "syncUpdated" -> sync.updates, "syncInserted" -> sync.inserts,
        "syncDeleted" -> finalDeletes))
    } // end restOfRun / its pin scope

    new Result(
      restThunk = () => restOfRun(),
      resolutionAudit = audit,
      strongPicks = picks)
  }

  /** Deterministic surrogate assoc keys above the current max -
    * distributed sequence, not a single-partition global window (see
    * operators.Keys). The max-key base attaches lazily as a broadcast
    * scalar: a caller that never consumes the association state (the
    * picks-only flagship queries) never pays for this branch. */
  private def assignAssocKeys(inserts: DataFrame, state: DataFrame): DataFrame = {
    val maxKey = state.agg(coalesce(max(col("assocKey")), lit(0L)))
    val base = if (inserts.columns.contains("assocKey"))
      inserts.drop("assocKey") else inserts
    Keys.assignSequentialFrom(base, "assocKey", maxKey,
      Seq(col("masterRgdId"), col("detailRgdId"), col("srcPipeline"),
        col("assocSubType")))
  }
}
