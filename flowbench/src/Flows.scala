package flowbench

import java.sql.Timestamp
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.llm.{Dedup, Export, Packing, PrepPipeline, TextAnalysis}
import graft.model.Species
import graft.operators.{Maintenance, Reports}
import graft.pipeline.{AgrPipeline, Fixtures, OrthologPipeline}

/** The frames a flow starts from, built by graft from the staged tables
  * during set-up. */
sealed trait FlowInput {
  def frames: Seq[(String, DataFrame)]
}

final case class OrthologInput(state: OrthologPipeline.State, relations: DataFrame,
                               allianceLines: DataFrame) extends FlowInput {
  def frames: Seq[(String, DataFrame)] = Seq(
    "orthologs" -> state.orthologs, "associations" -> state.associations,
    "agr_orthologs" -> state.agrOrthologs, "xrefs" -> state.xrefs,
    "genes" -> state.genes, "rgd_ids" -> state.rgdIds, "history" -> state.history,
    "relations" -> relations, "alliance_lines" -> allianceLines)
}

object OrthologInput {
  def apply(spark: SparkSession, in: String): OrthologInput = OrthologInput(
    Fixtures.state(spark, in), Fixtures.relations(spark, in),
    Fixtures.allianceLines(spark, in))
}

final case class CorpusInput(documents: DataFrame) extends FlowInput {
  def frames: Seq[(String, DataFrame)] = Seq("documents" -> documents)
}

/** Outcome of one timed step. A step that throws keeps its error and
  * no time; a step whose prerequisite failed is recorded as failed. */
final case class StepResult(name: String, ok: Boolean, seconds: Double,
                            error: String)

/** Runs one flow's steps in order, timing each as a `flow.<step>` span,
  * and collects what the output checks need afterwards. */
final class FlowRun(val spark: SparkSession, val out: String, val tracer: Tracer) {
  val steps = mutable.ArrayBuffer.empty[StepResult]
  /** "<step>.<table>" -> written state directory */
  val written = mutable.LinkedHashMap.empty[String, String]
  /** deferred audit counts, evaluated after the timed flow */
  val audits = mutable.LinkedHashMap.empty[String, () => Any]

  def step[T](name: String)(body: => T): Option[T] =
    if (steps.exists(!_.ok)) {
      steps += StepResult(name, ok = false, 0.0, "skipped: an earlier step failed")
      None
    } else {
      val t0 = System.nanoTime()
      try {
        val r = tracer.span(s"flow.$name")(body)
        steps += StepResult(name, ok = true, (System.nanoTime() - t0) / 1e9, null)
        Some(r)
      } catch {
        case e: Throwable =>
          steps += StepResult(name, ok = false, 0.0, s"${e.getClass.getName}: ${e.getMessage}")
          None
      }
    }

  /** Overwrite-write `df` as the `table` state of `step`, exactly as
    * `Cli` writes its state. */
  def write(step: String, table: String, df: DataFrame): String = {
    val path = s"$out/$step/$table"
    tracer.span("sources.state_write")(df.write.mode("overwrite").parquet(path))
    written(s"$step.$table") = path
    path
  }

  def read(path: String): DataFrame = spark.read.parquet(path)
}

/** The nightly ortholog flow, composed from the public entry points the
  * way `graft.tools.Cli.run` composes them: a `--species rat` load, the
  * same load over the state it wrote (the `--species all` loop's
  * re-read), `--agrOrthologs`, then `--fixXRefDataSet` over the
  * reloaded state. */
object OrthologFlow {
  // Cli.run's clocks and gates
  val runTs: Timestamp = Timestamp.valueOf("2026-08-01 00:00:00")
  val now: Timestamp = Timestamp.valueOf("2026-08-12 00:00:00")
  val cutoff: Timestamp = Timestamp.from(
    runTs.toInstant.minus(java.time.Duration.ofHours(1)))
  val maxAgeDays = 20000

  def run(f: FlowRun, input: OrthologInput, phases: OrthologPipeline.PhaseStore): Unit = {
    val st = input.state
    val rel = input.relations
    f.step("load")(speciesLoad(f, "load", st, rel, phases))
    f.step("reload") {
      val prior = st.copy(orthologs = f.read(f.written("load.orthologs")),
        associations = f.read(f.written("load.associations")))
      speciesLoad(f, "reload", prior, rel, phases)
    }
    f.step("agr")(agrLoad(f, "agr", st, input.allianceLines, phases))
    f.step("fix") {
      fixXrefDataSet(f, "fix", f.read(f.written("reload.orthologs")),
        f.read(f.written("reload.associations")))
    }
  }

  /** `Cli --species rat`: freshness gate, load, state writes, the X11
    * count diff and the two state counts `Cli` prints. */
  def speciesLoad(f: FlowRun, name: String, st: OrthologPipeline.State,
                  rel: DataFrame, phases: OrthologPipeline.PhaseStore): Unit = {
    val t = f.tracer
    t.span("operators.freshness")(
      Reports.checkAllianceFreshness(st.agrOrthologs, now, maxAgeDays))
    val r = t.span("pipeline.run_species")(
      OrthologPipeline.runSpecies(rel, st, Species.RAT, runTs, phases = phases))
    // the post-picks phases run on first access of the result's state
    f.write(name, "orthologs", t.span("pipeline.post_picks")(r.orthologs))
    f.write(name, "associations", t.span("pipeline.post_picks")(r.associations))
    val diff = t.span("operators.count_diff")(
      Reports.orthologCountDiff(st.orthologs, r.orthologs, rgdIds = Some(st.rgdIds))
        .select("srcSpeciesTypeKey", "destSpeciesTypeKey", "diff")
        .collect().map(_.toSeq.mkString(":")).mkString(" "))
    t.span("sources.state_count") { r.orthologs.count(); r.associations.count() }
    f.audits(s"$name.count_diff") = () => diff
    f.audits(s"$name.resolve") = () => countsBy(r.resolutionAudit, "outcome")
    Seq("inserted", "touched", "deleted", "downgraded", "syncInserted", "syncDeleted")
      .foreach(k => f.audits(s"$name.$k") = () => r.mergeAudit(k).count())
  }

  /** `Cli --agrOrthologs`, plus the xref state the run produces (the
    * reference persists its new curie bindings; `Cli` does not write
    * them). */
  def agrLoad(f: FlowRun, name: String, st: OrthologPipeline.State, lines: DataFrame,
              phases: OrthologPipeline.PhaseStore): Unit = {
    val r = f.tracer.span("pipeline.agr_run")(AgrPipeline.run(lines,
      st.agrOrthologs, st.xrefs, st.genes, st.rgdIds, runTs, cutoff, phases = phases))
    f.write(name, "agr_orthologs", r.agrOrthologs)
    f.tracer.span("sources.state_count")(r.agrOrthologs.count())
    f.write(name, "xrefs", f.tracer.span("pipeline.agr_xrefs")(r.xrefs))
    f.audits(s"$name.how") = () => r.resolutionStats.orderBy(col("how")).collect()
      .map(r => s"${r.get(0)}=${r.getLong(1)}").mkString(",")
    f.audits(s"$name.unresolved") = () => r.unresolved.count()
    f.audits(s"$name.guard_ok") = () => r.guardOk
  }

  /** `Cli --fixXRefDataSet` over the given state. */
  def fixXrefDataSet(f: FlowRun, name: String, orthologs: DataFrame,
                     associations: DataFrame): Unit = {
    val (newOrtho, updOrtho) = Maintenance.fixXrefDataSetInOrthologs(orthologs)
    val (newAssoc, updAssoc) = Maintenance.fixXrefDataSetInAssociations(associations)
    f.write(name, "orthologs", newOrtho)
    f.write(name, "associations", newAssoc)
    val (nOrtho, nAssoc) = f.tracer.span("operators.fix_xref")(
      (updOrtho.count(), updAssoc.count()))
    f.audits(s"$name.fixed_orthologs") = () => nOrtho
    f.audits(s"$name.fixed_associations") = () => nAssoc
  }

  private def countsBy(df: DataFrame, c: String): String =
    df.groupBy(col(c)).count().orderBy(col(c)).collect()
      .map(r => s"${r.get(0)}=${r.getLong(1)}").mkString(",")
}

/** The LLM data-prep flow over the staged corpus: prep, MinHash-LSH
  * near-dup removal, BPE training, then token counts -> packing ->
  * partitioned export (the flow's one write). */
object CorpusFlow {
  val bpeRounds = 6
  val seqLen = 512L

  def run(f: FlowRun, input: CorpusInput): Unit = {
    val docs = input.documents
    val cached = mutable.ArrayBuffer.empty[DataFrame]
    def keep(df: DataFrame): DataFrame = { cached += df.persist(); df }
    var kept, survivors: DataFrame = null
    var merges: Seq[(String, String)] = Nil
    try {
      f.step("prep") {
        val prepped = PrepPipeline.run(docs, rates = Map("src1" -> 0.5))
        kept = keep(docs.join(prepped.filter(col("kept") === 1)
          .select(col("doc_id"), col("split")), Seq("doc_id"))
          .select(col("doc_id"), col("source"), col("split"), col("text")))
        val n = kept.count()
        f.audits("prep.kept_docs") = () => n
      }
      f.step("neardup") {
        val pairs = keep(Dedup.minhashLshPairs(kept))
        val np = pairs.count()
        survivors = keep(Dedup.nearDupSurvivors(kept, pairs))
        val ns = survivors.count()
        f.audits("neardup.pairs") = () => np
        f.audits("neardup.survivors") = () => ns
      }
      f.step("bpe_train") {
        merges = TextAnalysis.bpeTrain(survivors, bpeRounds)
          .select(col("left"), col("right")).collect()
          .map(r => (r.getString(0), r.getString(1))).toSeq
        val m = merges
        f.audits("bpe_train.merges") = () => m.map { case (l, r) => s"$l+$r" }.mkString(" ")
      }
      f.step("pack_export") {
        val enc = TextAnalysis.bpeTokenCounts(survivors, merges)
        val chunks = Packing.assignChunks(
            survivors.select(col("doc_id"), col("source"), col("split"))
              .join(enc, Seq("doc_id")),
            seqLen = seqLen)
          .select(col("doc_id"), col("source"), col("split"), col("chunk_id"),
            col("begin_off"), col("end_off"))
        val path = s"${f.out}/export/chunks"
        f.tracer.span("sources.export_write")(Export.writePartitioned(chunks, path,
          partitionCols = Seq("split", "source"), sortCol = "doc_id",
          targetRowsPerFile = 20000L))
        f.written("pack_export.chunks") = path
      }
    } finally cached.foreach(_.unpersist())
  }
}
