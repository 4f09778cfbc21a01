package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.pipeline.AgrPipeline
import graft.AgrRefModel.{AgrRow, GeneRow, Line, XrefRow}

/** Cross-run state-evolution pin for the AGR flow: N sequential
  * [[AgrPipeline.run]] invocations where run N+1's inputs are run N's
  * ENGINE outputs (final AGR state, evolved xref state, synthesized
  * genes), compared against [[AgrRefModel]] iterated the same way.
  * This is the reference's production shape - AgrTsvLoader runs
  * against a shared database that its own previous run mutated, and
  * the M5 write side effects (insertAgrGeneXdbId at resolution steps
  * 2-4, insertAgrGene at step 4; AgrTsvLoader.java:306-393,
  * OrthologRelationDao.java:621-652) exist precisely so the NEXT run's
  * map step resolves directly.
  *
  * What only a chained pin can catch (all exercised, see probes):
  *  - run 2 resolving via the MAP a curie that run 1 resolved via
  *    special-id / symbol / insertion (the persisted binding short-
  *    circuits the cascade - even when the line's SYMBOL changed
  *    between runs, which defeats symbol-step fallback);
  *  - synthesized gene ids continuing ABOVE run 1's ids (the id
  *    sequence is shared state);
  *  - the cross-run stale sweep: a pair asserted in run 1 but not in
  *    run 2 ages out at run 2's cutoff (and its curie binding with
  *    it), while re-asserted pairs re-stamp;
  *  - new-xref surrogate keys continuing above the evolved (not
  *    original) max key.
  *
  * Teeth (asserted IN the spec, not just claimed): replaying run 2
  * WITHOUT the xref handoff (the original xref state instead of run
  * 1's output) yields a DIFFERENT final AGR state on the directed
  * case - a curie whose symbol changed re-inserts under a fresh gene
  * id instead of map-resolving to run 1's gene. Dropping the M5 write
  * parity in the engine would make every chained case take that
  * divergent path and fail the equality assertions.
  */
class AgrMultiRunPropertySpec extends SparkSpec {
  import spark.implicits._

  private val ts = (1 to 4).map(i =>
    java.sql.Timestamp.valueOf(s"2026-08-0$i 12:00:00"))
  private val cut = (1 to 4).map(i =>
    java.sql.Timestamp.valueOf(s"2026-08-0$i 11:00:00"))

  test("property: three chained AGR runs over evolving engine state " +
    "equal the iterated model - map hits on prior runs' bindings, id " +
    "continuation, cross-run stale sweeps") {
    val symGen = Gen.oneOf("sa", "sb", "sc")
    // a curie belongs to ONE species (the real AGR shape); mixing a
    // curie across species floods it with multiple bindings whose
    // min-pick shifts every run - real data pins that corner via the
    // model anyway, but species-consistent curies let the survival and
    // map-hit probes actually fire
    val sideGen = for {
      sp <- Gen.frequency(2 -> Gen.const(1), 2 -> Gen.const(2),
        2 -> Gen.const(3), 3 -> Gen.const(10), 1 -> Gen.const(11))
      n <- Gen.choose(1, 4)
      s <- symGen
    } yield (sp match {
      case 1 => s"HGNC:$n"; case 2 => s"MGI:$n"; case 3 => s"RGD:$n"
      case 10 => s"FB:$n"; case _ => s"WB:$n"
    }, s, sp)
    val lineGen = for {
      (c1, s1, sp1) <- sideGen
      (c2, s2, sp2) <- sideGen
      al <- Gen.oneOf("OMA", "OMA|PANTHER")
      b <- Gen.prob(0.5); br <- Gen.prob(0.5)
    } yield Line(c1, s1, sp1, c2, s2, sp2, al, b, br)

    val caseGen = for {
      nG <- Gen.choose(3, 8)
      gs <- Gen.listOfN(nG, for {
        sym <- symGen
        sp <- Gen.frequency(2 -> Gen.const(1), 2 -> Gen.const(2),
          2 -> Gen.const(3), 3 -> Gen.const(10), 1 -> Gen.const(11))
        act <- Gen.prob(0.7)
      } yield (sym, sp, act))
      nX <- Gen.choose(0, 5)
      xs <- Gen.listOfN(nX, for {
        rgd <- Gen.choose(1, nG); xdb <- Gen.oneOf(63, 5, 21)
        acc <- Gen.oneOf("HGNC:1", "MGI:1", "RGD:1", "FB:1", "FB:2", "WB:1")
      } yield (rgd, xdb, acc))
      run1 <- Gen.choose(1, 6).flatMap(n => Gen.listOfN(n, lineGen))
      // later runs re-assert a subset of the previous run's lines (the
      // production shape: most pairs persist between releases) plus
      // fresh ones - this is what makes cross-run survival, sweeps,
      // and map hits all occur together
      keep2 <- Gen.prob(0.7)
      fresh2 <- Gen.choose(0, 3).flatMap(n => Gen.listOfN(n, lineGen))
      keep3 <- Gen.prob(0.7)
      fresh3 <- Gen.choose(0, 3).flatMap(n => Gen.listOfN(n, lineGen))
    } yield {
      val run2 = (if (keep2) run1.take((run1.size + 1) / 2) else Nil) ++ fresh2
      val run3 = (if (keep3) run2.take((run2.size + 1) / 2) else Nil) ++ fresh3
      val runs = List(run1, run2, run3)
      val genes = gs.zipWithIndex.map { case ((sym, sp, act), i) =>
        GeneRow(i + 1, sym, sp, act) }
      val xrefs = xs.distinct.zipWithIndex.map { case ((r, x, a), i) =>
        XrefRow(100L + i, r, x, a, "AgrOrtholog", ts(0)) }
      (genes, xrefs, runs)
    }

    val counters = scala.collection.mutable.Map[String, Int]()
    var sawCrossRunMap = 0; var sawIdContinuation = 0
    var sawCrossRunSweep = 0; var sawReassertSurvive = 0

    var seed = Seed(250816L)
    for (_ <- 1 to 8) {
      val (genes0, xrefs0, runs) = caseGen.pureApply(Gen.Parameters.default, seed)
      seed = seed.next

      // ---- model chain ----
      var mGenes = genes0; var mXrefs = xrefs0
      var mState = List.empty[AgrRow]
      val modelOuts = runs.zipWithIndex.map { case (lines, i) =>
        val out = AgrRefModel.run(mGenes, mXrefs, lines, mState, "500",
          ts(i), cut(i), counters)
        // run i+1 sees run i's writes
        mGenes = mGenes ++ out.newGenes.toList.sortBy(_._1)
          .map(g => GeneRow(g._1, g._2, g._3, active = true))
        if (out.newGenes.nonEmpty && i > 0) sawIdContinuation += 1
        mXrefs = out.xrefs.toList.sortBy(_.key)
        mState = out.finalState.toList.sortBy(s => (s.g1, s.g2, s.methods))
        if (i > 0) {
          val priorHows = out.resolved.filter(_.how.contains("map"))
          if (priorHows.exists(r => !xrefs0.exists(_.accId == r.curie)))
            sawCrossRunMap += 1
        }
        out
      }

      // ---- engine chain: run N+1 consumes run N's ENGINE outputs ----
      var eGenes = genes0; var eXrefsDf: DataFrame =
        AgrMultiRunPropertySpec.xrefsDf(spark, xrefs0)
      var eStateDf: DataFrame = AgrMultiRunPropertySpec.agrDf(spark, Nil)
      runs.zipWithIndex.foreach { case (lines, i) =>
        val r = AgrPipeline.run(
          AgrMultiRunPropertySpec.linesDf(spark, lines), eStateDf, eXrefsDf,
          AgrMultiRunPropertySpec.genesDf(spark, eGenes),
          AgrMultiRunPropertySpec.rgdIdsDf(spark, eGenes),
          ts(i), cut(i), deleteThreshold = "500")
        val label = s"run ${i + 1}: genes0=$genes0 xrefs0=$xrefs0 runs=$runs"
        assert(r.guardOk == modelOuts(i).guardOk, s"guard $label")
        val gotFinal = AgrMultiRunPropertySpec.collectAgr(r.agrOrthologs)
        assert(gotFinal == modelOuts(i).finalState, s"state $label")
        val gotXrefs = AgrMultiRunPropertySpec.collectXrefs(r.xrefs)
        assert(gotXrefs == modelOuts(i).xrefs, s"xrefs $label")
        val gotNew = r.newGenes
          .select("rgdId", "geneSymbol", "speciesTypeKey", "objectStatus")
          .as[(Int, String, Int, String)].collect().toSet
        assert(gotNew == modelOuts(i).newGenes, s"new genes $label")

        // handoff from ENGINE outputs (localCheckpointed frames)
        eGenes = eGenes ++ gotNew.toList.sortBy(_._1)
          .map(g => GeneRow(g._1, g._2, g._3, active = true))
        eXrefsDf = r.xrefs
        eStateDf = r.agrOrthologs

        if (i > 0) {
          val prevState = modelOuts(i - 1).finalState
          val nowKeys = gotFinal.map(s => (s.g1, s.g2, s.methods))
          if (prevState.exists(s => !nowKeys((s.g1, s.g2, s.methods))))
            sawCrossRunSweep += 1
          if (prevState.exists(s => nowKeys((s.g1, s.g2, s.methods))))
            sawReassertSurvive += 1
        }
      }
    }

    assert(sawCrossRunMap > 0,
      "no run-2+ curie ever map-resolved via a prior run's binding")
    assert(sawIdContinuation > 0,
      "no later run ever synthesized ids above a prior run's")
    assert(sawCrossRunSweep > 0,
      "no prior-run pair ever aged out in a later run")
    assert(sawReassertSurvive > 0,
      "no prior-run pair ever survived a later run")
    assert(counters.getOrElse("map", 0) > 0 &&
      counters.getOrElse("insert", 0) > 0, "cascade paths unexercised")
  }

  test("directed: run 2 map-resolves a renamed curie via run 1's " +
    "persisted binding; WITHOUT the xref handoff it re-inserts under " +
    "a fresh id (the teeth for M5 write parity)") {
    val genes0 = List(GeneRow(1, "anchor", 10, active = true))
    val xrefs0 = List.empty[XrefRow]
    // run 1: FB:X unresolvable -> synthesizes gene 2, binds FB:X->2
    val run1 = List(Line("FB:X", "oldsym", 10, "FB:X", "oldsym", 10,
      "OMA", best = true, bestRev = true))
    // run 2: SAME curie, CHANGED symbol - only the binding can resolve it
    val run2 = List(Line("FB:X", "newsym", 10, "FB:X", "newsym", 10,
      "OMA", best = true, bestRev = true))

    val counters = scala.collection.mutable.Map[String, Int]()
    val m1 = AgrRefModel.run(genes0, xrefs0, run1, Nil, "500", ts(0), cut(0),
      counters)
    assert(m1.newGenes.map(_._1) == Set(2))

    val r1 = AgrPipeline.run(
      AgrMultiRunPropertySpec.linesDf(spark, run1),
      AgrMultiRunPropertySpec.agrDf(spark, Nil),
      AgrMultiRunPropertySpec.xrefsDf(spark, xrefs0),
      AgrMultiRunPropertySpec.genesDf(spark, genes0),
      AgrMultiRunPropertySpec.rgdIdsDf(spark, genes0),
      ts(0), cut(0), deleteThreshold = "500")
    val genes1 = genes0 ++ r1.newGenes
      .select("rgdId", "geneSymbol", "speciesTypeKey")
      .as[(Int, String, Int)].collect().sortBy(_._1)
      .map(g => GeneRow(g._1, g._2, g._3, active = true))
    val xrefs1Df = r1.xrefs
    val state1Df = r1.agrOrthologs
    assert(AgrMultiRunPropertySpec.collectAgr(state1Df)
      .map(s => (s.g1, s.g2)) == Set((2, 2)))

    // WITH the handoff: map hit, same gene id, no new gene
    val cWith = scala.collection.mutable.Map[String, Int]()
    val m2 = AgrRefModel.run(genes1, AgrMultiRunPropertySpec
        .collectXrefs(xrefs1Df).toList.sortBy(_.key),
      run2, m1.finalState.toList, "500", ts(1), cut(1), cWith)
    assert(cWith.getOrElse("map", 0) == 1 && m2.newGenes.isEmpty)
    val r2 = AgrPipeline.run(
      AgrMultiRunPropertySpec.linesDf(spark, run2), state1Df, xrefs1Df,
      AgrMultiRunPropertySpec.genesDf(spark, genes1),
      AgrMultiRunPropertySpec.rgdIdsDf(spark, genes1),
      ts(1), cut(1), deleteThreshold = "500")
    val with2 = AgrMultiRunPropertySpec.collectAgr(r2.agrOrthologs)
    assert(with2 == m2.finalState)
    assert(with2.map(s => (s.g1, s.g2)) == Set((2, 2)),
      "run 2 must keep run 1's gene id via the persisted binding")

    // WITHOUT the handoff (original empty xrefs): the binding is gone,
    // the renamed symbol misses, the curie re-inserts as gene 3 - the
    // final state DIFFERS, which is exactly what the chained equality
    // assertions above would catch if the engine dropped the M5 writes
    val r2no = AgrPipeline.run(
      AgrMultiRunPropertySpec.linesDf(spark, run2), state1Df,
      AgrMultiRunPropertySpec.xrefsDf(spark, xrefs0),
      AgrMultiRunPropertySpec.genesDf(spark, genes1),
      AgrMultiRunPropertySpec.rgdIdsDf(spark, genes1),
      ts(1), cut(1), deleteThreshold = "500")
    val without2 = AgrMultiRunPropertySpec.collectAgr(r2no.agrOrthologs)
    assert(without2.map(s => (s.g1, s.g2)) == Set((3, 3)),
      "without the binding the curie must re-insert under a fresh id")
    assert(without2 != with2, "the teeth: dropped write parity diverges")
  }
}

/** DataFrame builders + collectors shared with [[AgrPropertySpec]]. */
object AgrMultiRunPropertySpec {

  def genesDf(spark: SparkSession, genes: List[GeneRow]): DataFrame = {
    import spark.implicits._
    genes.map(g => (g.id, g.sym, g.sym, "protein-coding", g.sp, g.sym))
      .toDF("rgdId", "geneSymbol", "geneName", "geneTypeLc",
        "speciesTypeKey", "ensemblGeneSymbol")
  }

  def rgdIdsDf(spark: SparkSession, genes: List[GeneRow]): DataFrame = {
    import spark.implicits._
    genes.map(g => (g.id, if (g.active) "ACTIVE" else "WITHDRAWN", g.sp))
      .toDF("rgdId", "objectStatus", "speciesTypeKey")
  }

  def xrefsDf(spark: SparkSession, xrefs: List[XrefRow]): DataFrame = {
    import spark.implicits._
    xrefs.map(x => (x.key, x.rgdId, x.xdbKey, x.accId, x.pipe, x.mod))
      .toDF("accXdbKey", "rgdId", "xdbKey", "accId", "srcPipeline",
        "modificationDate")
  }

  def linesDf(spark: SparkSession, lines: List[Line]): DataFrame = {
    import spark.implicits._
    lines.map(l => (l.c1, l.s1, l.sp1, l.c2, l.s2, l.sp2,
        l.algos, "2", "9", l.best, l.bestRev))
      .toDF("curie1", "geneSymbol1", "speciesTypeKey1", "curie2",
        "geneSymbol2", "speciesTypeKey2", "algorithms",
        "algorithmsMatch", "outOfAlgorithms", "isBestScore",
        "isBestRevScore")
  }

  def agrDf(spark: SparkSession, state: List[AgrRow]): DataFrame = {
    import spark.implicits._
    state.map(s => (s.g1, s.g2, s.conf, s.best, s.bestRev,
        s.methods, s.created, s.updated))
      .toDF("geneRgdId1", "geneRgdId2", "confidence", "isBestScore",
        "isBestRevScore", "methodsMatched", "createdDate",
        "lastUpdateDate")
  }

  def runEngine(spark: SparkSession, genes: List[GeneRow],
                xrefs: List[XrefRow], lines: List[Line],
                state: List[AgrRow], threshold: String,
                runTs: java.sql.Timestamp,
                cutoff: java.sql.Timestamp): AgrPipeline.Result =
    AgrPipeline.run(linesDf(spark, lines), agrDf(spark, state),
      xrefsDf(spark, xrefs), genesDf(spark, genes), rgdIdsDf(spark, genes),
      runTs, cutoff, deleteThreshold = threshold)

  def collectAgr(df: DataFrame): Set[AgrRow] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select("geneRgdId1", "geneRgdId2", "confidence", "isBestScore",
        "isBestRevScore", "methodsMatched", "createdDate", "lastUpdateDate")
      .as[(Int, Int, String, String, String, String,
        java.sql.Timestamp, java.sql.Timestamp)]
      .collect()
      .map(t => AgrRow(t._1, t._2, t._3, t._4, t._5, t._6, t._7, t._8))
      .toSet
  }

  def collectXrefs(df: DataFrame): Set[XrefRow] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select("accXdbKey", "rgdId", "xdbKey", "accId", "srcPipeline",
        "modificationDate")
      .as[(Long, Int, Int, String, String, java.sql.Timestamp)]
      .collect()
      .map(t => XrefRow(t._1, t._2, t._3, t._4, t._5, t._6)).toSet
  }
}
