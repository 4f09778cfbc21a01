package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.model.Species
import graft.operators.{Maintenance, Reports}
import graft.pipeline.{AgrPipeline, Fixtures, OrthologPipeline}
import graft.sources.Readers

/** Flow-level CLI mirroring the reference's loading-manager entry point
  * (OrthologRelationLoadingManager.main, :49-118):
  *
  * {{{
  * runMain graft.tools.Cli --species rat         # one species load
  * runMain graft.tools.Cli --species all         # every non-human species
  * runMain graft.tools.Cli --agrOrthologs        # AGR TSV flow
  * runMain graft.tools.Cli --fixXRefDataSet      # M7 maintenance rewrite
  * }}}
  *
  * Extra (engine-side) flags: `--sfDir <dir>` source/state dir (default
  * /root/testdata/sf0.001), `--out <dir>` output state dir (default
  * /tmp/graft_cli_out), `--maxAgeDays <n>` freshness gate.
  *
  * Tokenizer-artifact flows (standalone; corpus = sfDir documents):
  * `--bpeSave <dir>` trains `--bpeRounds` (default 6) BPE rounds and
  * persists merge table + induced vocab; `--bpeLoad <dir>` encodes the
  * corpus under a previously saved artifact (stable ids across
  * sessions and corpora) into `<out>/bpe_encoded`.
  *
  * Source-file flags (the reference's download targets, read via the
  * real TSV readers instead of the TPC-H-derived fixture frames):
  * `--hcop <tsv>` + `--ncbi <tsv>` feed the species flow through
  * Readers.readHcopPlusNcbi (S2/F1/F2/X1/X2), `--alliance <tsv>` feeds
  * the AGR flow through Readers.readAlliance (S3/F3/X3/X4/X7), and
  * `--sanityFloor <n>` parameterizes the D4 volume gate (reference
  * default 5000; FIXTURES.md requires it tunable for small fixtures).
  *
  * Dispatch order matches the reference: --agrOrthologs short-circuits;
  * --species all loops the searchable non-human species behind the D5
  * freshness gate; a missing/unknown/human --species is a usage error;
  * otherwise --fixXRefDataSet or the per-species run.
  *
  * `run` is the testable core: takes the session, returns an exit code,
  * never calls sys.exit or spark.stop (main owns process concerns).
  */
object Cli {

  def main(args: Array[String]): Unit = {
    val spark = graft.LocalSession("graft-cli", shufflePartitions = 8)
    val code = try run(args, spark) finally spark.stop()
    if (code != 0) sys.exit(code)
  }

  /** Parse + dispatch; returns a process exit code (0 = success). */
  def run(args: Array[String], spark: SparkSession): Int = {
    var speciesArg: Option[String] = None
    var fixXref = false
    var agrOrthologs = false
    var sfDir = "/root/testdata/sf0.001"
    var out = "/tmp/graft_cli_out"
    var maxAgeDays = 20000 // test-data orders dates are from 1998
    var hcopPath: Option[String] = None
    var ncbiPath: Option[String] = None
    var alliancePath: Option[String] = None
    var sanityFloor = 5000L // D4 default, OrthologRelationParser.java:47-49
    var bpeSaveDir: Option[String] = None
    var bpeLoadDir: Option[String] = None
    var bpeRounds = 6

    var i = 0
    def value(flag: String): Option[String] = {
      i += 1
      if (i >= args.length) { System.err.println(s"ERROR: $flag needs a value"); None }
      else Some(args(i))
    }
    def integer[N](flag: String)(parse: String => Option[N]): Option[N] =
      value(flag).flatMap { v =>
        val n = parse(v)
        if (n.isEmpty) System.err.println(s"ERROR: $flag needs an integer")
        n
      }
    while (i < args.length) {
      args(i) match {
        case "--species" => speciesArg = value("--species"); if (speciesArg.isEmpty) return -1
        case "--fixXRefDataSet" => fixXref = true
        case "--agrOrthologs" => agrOrthologs = true
        case "--sfDir" => value("--sfDir") match { case Some(v) => sfDir = v; case None => return -1 }
        case "--out" => value("--out") match { case Some(v) => out = v; case None => return -1 }
        case "--maxAgeDays" => integer("--maxAgeDays")(_.toIntOption) match { case Some(v) => maxAgeDays = v; case None => return -1 }
        case "--hcop" => hcopPath = value("--hcop"); if (hcopPath.isEmpty) return -1
        case "--ncbi" => ncbiPath = value("--ncbi"); if (ncbiPath.isEmpty) return -1
        case "--alliance" => alliancePath = value("--alliance"); if (alliancePath.isEmpty) return -1
        case "--sanityFloor" => integer("--sanityFloor")(_.toLongOption) match { case Some(v) => sanityFloor = v; case None => return -1 }
        case "--bpeSave" => bpeSaveDir = value("--bpeSave"); if (bpeSaveDir.isEmpty) return -1
        case "--bpeLoad" => bpeLoadDir = value("--bpeLoad"); if (bpeLoadDir.isEmpty) return -1
        case "--bpeRounds" => integer("--bpeRounds")(_.toIntOption) match { case Some(v) => bpeRounds = v; case None => return -1 }
        case other => System.err.println(s"ERROR: unknown argument: $other"); return -1
      }
      i += 1
    }

    if (hcopPath.isDefined != ncbiPath.isDefined) {
      System.err.println("ERROR: --hcop and --ncbi must be given together")
      return -1
    }
    // Source-file flags must match the flow that reads them: --alliance
    // is only read by --agrOrthologs, --hcop/--ncbi only by the
    // --species flows (--agrOrthologs short-circuits before relationsFor
    // and --fixXRefDataSet never builds relations). A silently-ignored
    // input file is worse than an error - the user believes the load ran
    // against their data.
    if (alliancePath.isDefined && !agrOrthologs) {
      System.err.println("ERROR: --alliance is only read by the --agrOrthologs flow")
      return -1
    }
    if (hcopPath.isDefined && (agrOrthologs || fixXref)) {
      System.err.println("ERROR: --hcop/--ncbi are only read by the --species flows")
      return -1
    }

    // Tokenizer-artifact flows: standalone (the BPE corpus is the
    // documents table, disjoint from the ortholog state), so any
    // ortholog-flow flag alongside them is a usage error, as is
    // save+load in one invocation (the round trip is two runs - that
    // IS the cross-session property the artifact exists for).
    if (bpeSaveDir.isDefined || bpeLoadDir.isDefined) {
      if (bpeSaveDir.isDefined && bpeLoadDir.isDefined) {
        System.err.println("ERROR: --bpeSave and --bpeLoad are separate runs")
        return -1
      }
      if (speciesArg.isDefined || agrOrthologs || fixXref ||
          hcopPath.isDefined || alliancePath.isDefined) {
        System.err.println("ERROR: --bpeSave/--bpeLoad run standalone")
        return -1
      }
      val docs = Readers.table(spark, sfDir, "documents")
      bpeSaveDir match {
        case Some(dir) =>
          val (nRules, nVocab) =
            graft.llm.BpeArtifact.trainAndSave(docs, bpeRounds, dir)
          println(s"BPE_MERGES=$nRules BPE_VOCAB=$nVocab")
        case None =>
          val dir = bpeLoadDir.get
          val rules = graft.llm.BpeArtifact.loadMergeRules(spark, dir)
          val vocab = graft.llm.BpeArtifact.loadVocab(spark, dir)
          val enc = graft.llm.TextAnalysis
            .bpeEncodeWithVocab(docs, rules, vocab)
          write(enc, s"$out/bpe_encoded")
          val tot = enc.agg(org.apache.spark.sql.functions.sum(
            org.apache.spark.sql.functions.col("n_tokens"))).head().getLong(0)
          println(s"BPE_DOCS=${enc.count()} BPE_TOKENS=$tot")
      }
      return 0
    }

    val runTs = java.sql.Timestamp.valueOf("2026-08-01 00:00:00")
    val now = java.sql.Timestamp.valueOf("2026-08-12 00:00:00")
    val st = Fixtures.state(spark, sfDir)

    if (agrOrthologs) {
      // X9: stale cutoff = runTs - 1h, the reference's clock-skew guard
      // (AgrTsvLoader.java:51) - derived, not a second hardcoded clock
      val cutoff = java.sql.Timestamp.from(
        runTs.toInstant.minus(java.time.Duration.ofHours(1)))
      val lines = alliancePath match {
        case Some(p) => Readers.readAlliance(spark, p)
        case None    => Fixtures.allianceLines(spark, sfDir)
      }
      val r = AgrPipeline.run(lines,
        st.agrOrthologs, st.xrefs, st.genes, st.rgdIds, runTs, cutoff)
      write(r.agrOrthologs, s"$out/agr_orthologs")
      // the new curie bindings, which the reference persists as it
      // resolves them (insertAgrGeneXdbId, OrthologRelationDao.java:644-652)
      write(r.xrefs, s"$out/xrefs")
      println(s"AGR_ORTHOLOGS=${r.agrOrthologs.count()}")
      return 0
    }

    val runForAll = speciesArg.exists(_.equalsIgnoreCase("all"))
    val speciesTypeKey = speciesArg.map(Species.parse).getOrElse(Species.ALL)

    // S2/F1/F2/D4: per-species relation source - real TSV files when
    // given, otherwise the TPC-H-derived fixture frames. The fixture
    // holds human<->rat relations only, so another species gets none
    // of them (as the TSV readers' taxon filters would give it none).
    def relationsFor(sp: Int): DataFrame = (hcopPath, ncbiPath) match {
      case (Some(h), Some(n)) => Readers.requireSanityFloor(
        Readers.readHcopPlusNcbi(spark, h, n, sp), sanityFloor)
      case _ => Fixtures.relations(spark, sfDir)
        .filter(org.apache.spark.sql.functions.col("destSpeciesTypeKey") === sp)
    }

    if (runForAll) {
      Reports.checkAllianceFreshness(st.agrOrthologs, now, maxAgeDays)
      // the reference's loop runs against the EVOLVING database - each
      // species run reads the ortholog/association state the previous
      // run wrote (OrthologRelationLoadingManager.java:86-96 against
      // one shared DB). Thread the state through the loop by re-reading
      // the parquet each run just wrote: a free materialization (the
      // write happens anyway) and exactly what production re-reads.
      // PipelineMultiRunSpec pins the cross-run invariants this relies
      // on (pair scoping, key continuation).
      var cur = st
      searchableNonHuman.foreach { sp =>
        val (orthPath, assocPath) =
          runSpecies(out, cur, sp, runTs, relationsFor(sp))
        cur = cur.copy(orthologs = spark.read.parquet(orthPath),
          associations = spark.read.parquet(assocPath))
      }
      return 0
    }

    // -1 = Species.parse couldn't map the name (typos must not run the
    // pipeline under a bogus key)
    if (speciesTypeKey <= Species.ALL || speciesTypeKey == Species.HUMAN) {
      System.err.println("ERROR: --species not specified, unknown, or 'human'")
      return -1
    }

    if (fixXref) {
      val (newOrtho, updOrtho) = Maintenance.fixXrefDataSetInOrthologs(st.orthologs)
      val (newAssoc, updAssoc) =
        Maintenance.fixXrefDataSetInAssociations(st.associations)
      write(newOrtho, s"$out/orthologs")
      write(newAssoc, s"$out/associations")
      println(s"FIXED_ORTHOLOGS=${updOrtho.count()} FIXED_ASSOCS=${updAssoc.count()}")
    } else {
      Reports.checkAllianceFreshness(st.agrOrthologs, now, maxAgeDays)
      runSpecies(out, st, speciesTypeKey, runTs, relationsFor(speciesTypeKey))
    }
    0
  }

  /** The --species all loop set: searchable species minus human, in
    * species-key order - mirrors SpeciesType.getSpeciesTypeKeys()
    * filtered by isSearchable (OrthologRelationLoadingManager.java:92-96;
    * every species in our dimension is searchable). */
  private[graft] def searchableNonHuman: Seq[Int] =
    Species.dim.map(_._1).filter(_ != Species.HUMAN)

  /** One species load: run the pipeline, persist the new state, report
    * the X11 count diff. Returns the written (orthologs, associations)
    * paths so the all-species loop can thread the evolving state. The
    * load runs in a [[graft.Scope]], so its phase checkpoints, operator
    * persists and pins are released before the next species starts;
    * only the written parquet outlives it. */
  private def runSpecies(out: String,
                         st: OrthologPipeline.State, speciesTypeKey: Int,
                         runTs: java.sql.Timestamp,
                         rel: DataFrame): (String, String) =
    graft.Scope(rel.sparkSession) {
      val name = Species.dim.find(_._1 == speciesTypeKey).map(_._2)
        .getOrElse(speciesTypeKey.toString)
      val r = OrthologPipeline.runSpecies(rel, st, speciesTypeKey, runTs)
      val orthPath = s"$out/$name/orthologs"
      val assocPath = s"$out/$name/associations"
      write(r.orthologs, orthPath)
      write(r.associations, assocPath)
      // the reference's +N/-N status report (X11 shape)
      val diff = Reports.orthologCountDiff(st.orthologs, r.orthologs,
          rgdIds = Some(st.rgdIds))
        .select("srcSpeciesTypeKey", "destSpeciesTypeKey", "diff")
        .collect().map(_.toSeq.mkString(":")).mkString(" ")
      println(s"SPECIES=$name ORTHOLOGS=${r.orthologs.count()} " +
        s"ASSOCIATIONS=${r.associations.count()} DIFF[$diff]")
      (orthPath, assocPath)
    }

  private def write(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").parquet(path)
}
