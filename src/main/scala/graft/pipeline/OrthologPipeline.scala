package graft.pipeline

import org.apache.spark.sql.DataFrame
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
  *
  * Two entry points, each finished when it returns: [[picks]] runs the
  * stages up to the strong picks (what the registry's flagship queries
  * read), [[runSpecies]] runs [[picks]] and then every later phase, as
  * the reference's `--species` run does in order
  * (OrthologRelationLoader.java:52-80).
  */
object OrthologPipeline {

  /** Prior state + dimension snapshot (the parquet-backed "database"). */
  case class State(orthologs: DataFrame, associations: DataFrame,
                   agrOrthologs: DataFrame, xrefs: DataFrame, genes: DataFrame,
                   rgdIds: DataFrame, history: DataFrame)

  /** Products of the picks stage ([[picks]]): the resolution audit
    * streams, the merged relations with their complements (the weak
    * sync's input) and the strong-ortholog picks. The last two read the
    * stage's phase-store writes; the audit is a plain plan over the
    * inputs. */
  final case class Picks(resolutionAudit: DataFrame,
                         withComplements: DataFrame,
                         strongPicks: DataFrame)

  /** Products of one finished species run. Every phase has been written
    * before [[runSpecies]] returns, so each frame is a plain plan over
    * the inputs and the run's phase-store reads and holds no pin: it can
    * be compiled and executed at any later time. */
  final case class Result(resolutionAudit: DataFrame,
                          strongPicks: DataFrame,
                          orthologs: DataFrame,
                          associations: DataFrame,
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

  /** The picks stage: resolve (J1/J2) -> drop unmapped (F7) ->
    * group+merge (A1/A3) -> complement (U2) -> cascade (W4/W2), with the
    * `relations` and `picks` phase writes. It assigns no surrogate keys,
    * so it makes no prefix-sum pin and needs no pin scope. */
  def picks(relations: DataFrame, state: State,
            phases: PhaseStore = InProcessPhases): Picks = {
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
    val strongPicks = phases("picks", Seq("srcRgdId"),
      Cascade.run(withComplements, state.orthologs,
        state.agrOrthologs, state.genes, rgdIds = Some(state.rgdIds)))

    Picks(audit, withComplements, strongPicks)
  }

  /** Run the per-species load for `speciesTypeKey` over already-parsed
    * relations (output shape of Readers.readHcopPlusNcbi / readNcbi):
    * the [[picks]] stage, then reconcile (M1/M2/W3/F11) -> final dedupe
    * (W1) -> weak-ortholog sync (M4/A7) -> symmetry repairs (D1/D2/D3).
    * Every phase is written before this returns. */
  def runSpecies(relations: DataFrame, state: State, speciesTypeKey: Int,
                 runTs: java.sql.Timestamp, pipelineUserId: Int = 70,
                 phases: PhaseStore = InProcessPhases): Result =
    // the surrogate-key pins of this run (the reconcile's insert keys,
    // the new association keys) are consumed by its own phase writes
    // ("inserted", "associations"); the scope releases them on return,
    // so N sequential runs hold O(1) live pins with no caller sweeps
    // (ShardedPrefixSum scaladoc)
    graft.operators.ShardedPrefixSum.scoped {
      val p = picks(relations, state, phases)

      // M1/M2: reconcile picks with ortholog state; groupId rides along
      // onto inserted state rows (reference-bean parity)
      val incoming = p.strongPicks.select(
        col("srcRgdId"), col("destRgdId"),
        col("srcSpeciesTypeKey"), col("destSpeciesTypeKey"),
        col("xrefDataSrc"), col("xrefDataSet"), col("groupId"))
      // the insert delta materializes at its own phase boundary (the
      // hook): the inserted audit and merged state then read the SAME
      // stored keys, and the surrogate-key pin is consumed there.
      // The registry rides into the reconcile: the reference's per-group
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
        WeakSync.buildIncoming(p.withComplements, m.downgraded, runTs),
        dedupedState)
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

      // final association state = state - deletes + updates + inserts
      // (+ repairs); the phase write consumes the new keys' pin
      val repairInserts = rep1.assocInserts
        .unionByName(rep2.assocInserts).unionByName(rep3.assocInserts)
      val untouchedAssocs = state.associations
        .join(finalDeletes.select(col("assocKey")), Seq("assocKey"), "left_anti")
        .join(sync.updates.select(col("assocKey")), Seq("assocKey"), "left_anti")
      val associations = phases("associations", Seq("assocKey"), untouchedAssocs
        .unionByName(
          sync.updates.select(untouchedAssocs.columns.toIndexedSeq.map(col): _*))
        .unionByName(assignAssocKeys(
          sync.inserts.unionByName(repairInserts), state.associations)))

      // repair ortholog deletes (D1 downgrades) leave the ortholog state
      val finalOrthologs = dedupedState.join(
        rep1.orthologDeletes.unionByName(rep2.orthologDeletes), Seq("key"), "left_anti")

      Result(
        resolutionAudit = p.resolutionAudit,
        strongPicks = p.strongPicks,
        orthologs = finalOrthologs,
        associations = associations,
        mergeAudit = Map(
          "touched" -> m.touched, "inserted" -> m.inserted,
          "deleted" -> m.deleted, "downgraded" -> m.downgraded,
          "w1Deleted" -> w1Deleted, "syncMatched" -> sync.matched,
          "syncUpdated" -> sync.updates, "syncInserted" -> sync.inserts,
          "syncDeleted" -> finalDeletes))
    }

  /** Deterministic surrogate assoc keys above the current max -
    * distributed sequence, not a single-partition global window (see
    * operators.Keys). The max-key base attaches lazily as a broadcast
    * scalar, so it folds into the `associations` phase write instead of
    * running as its own blocking driver action. */
  private def assignAssocKeys(inserts: DataFrame, state: DataFrame): DataFrame = {
    val maxKey = state.agg(coalesce(max(col("assocKey")), lit(0L)))
    val base = if (inserts.columns.contains("assocKey"))
      inserts.drop("assocKey") else inserts
    Keys.assignSequentialFrom(base, "assocKey", maxKey,
      Seq(col("masterRgdId"), col("detailRgdId"), col("srcPipeline"),
        col("assocSubType")))
  }
}
