package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.operators.ShardedPrefixSum
import graft.AgrRefModel.{AgrRow, GeneRow, Line, XrefRow}

/** Brute-force semantic pin for the whole --agrOrthologs flow
  * (M5/S9/A8/M6/X12 + the M5 write side effects): the row-at-a-time
  * model of AgrTsvLoader.run2 ([[AgrRefModel]], shared with the
  * multi-run state-evolution pin) recomputes every output of
  * [[AgrPipeline.run]] over seeded random lines / xrefs / genes /
  * statuses / prior state - resolution cascade with the reference's
  * exact status rules (active-only map and MGD/HGNC steps, the
  * getGeneBySymbol single-candidate-ignores-status rule), synthesized
  * gene ids, the full-key line bind, upsert classification, the
  * threshold circuit breaker, the curie QC touch+sweep, and the new
  * AGR_GENE xref bindings with their exact surrogate keys. AgrSpec /
  * AgrPipelineSpec pin hand-built goldens; this closes the collisions
  * between the steps (a curie hitting several lookup tables at once,
  * shared symbols across species, upsert-key ties, guard arithmetic at
  * the boundary).
  */
class AgrPropertySpec extends SparkSpec {
  import spark.implicits._

  private val runTs = java.sql.Timestamp.valueOf("2026-08-01 12:00:00")
  private val cutoff = java.sql.Timestamp.valueOf("2026-08-01 11:00:00")
  private val oldTs = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")

  test("property: the AGR flow equals a row-at-a-time model of the " +
    "reference - cascade status rules, synthesized ids, full-key bind, " +
    "upsert, guard, QC sweep, and the exact new-xref keys") {
    val symGen = Gen.oneOf("sa", "sb", "sc")
    val spGen = Gen.frequency(2 -> Gen.const(1), 2 -> Gen.const(2),
      2 -> Gen.const(3), 3 -> Gen.const(10))
    val curieGen = Gen.oneOf("AGR:1", "AGR:2", "MGI:1", "MGI:2", "HGNC:1",
      "RGD:5", "RGD:6", "RGD:99", "FB:1", "FB:2", "FB:bad")
    val methodsGen = Gen.oneOf("OMA", "OMA|PANTHER")

    val caseGen = for {
      nG <- Gen.choose(3, 10)
      gs <- Gen.listOfN(nG, for {
        sym <- symGen; sp <- spGen; act <- Gen.prob(0.7)
      } yield (sym, sp, act))
      nX <- Gen.choose(0, 8)
      xs <- Gen.listOfN(nX, for {
        rgd <- Gen.choose(1, nG)
        xdb <- Gen.oneOf(63, 5, 21, 3)
        acc <- curieGen
        pipe <- Gen.frequency(3 -> Gen.const("AgrOrtholog"),
          1 -> Gen.const("other"))
        old <- Gen.prob(0.5)
      } yield (rgd, xdb, acc, pipe, old))
      nL <- Gen.choose(0, 8)
      ls <- Gen.listOfN(nL, for {
        c1 <- curieGen; s1 <- symGen; sp1 <- spGen
        c2 <- curieGen; s2 <- symGen; sp2 <- spGen
        al <- methodsGen; b <- Gen.prob(0.5); br <- Gen.prob(0.5)
      } yield Line(c1, s1, sp1, c2, s2, sp2, al, b, br))
      nS <- Gen.choose(0, 6)
      st <- Gen.listOfN(nS, for {
        g1 <- Gen.choose(1, nG + 5); g2 <- Gen.choose(1, nG + 5)
        b <- Gen.oneOf("Y", "N"); br <- Gen.oneOf("Y", "N")
        m <- methodsGen; stale <- Gen.prob(0.5)
      } yield (g1, g2, b, br, m, stale))
      threshold <- Gen.oneOf("10%", "50%", "0", "500")
    } yield {
      val genes = gs.zipWithIndex.map { case ((sym, sp, act), i) =>
        GeneRow(i + 1, sym, sp, act) }
      val xrefs = xs.distinct.zipWithIndex.map { case ((r, x, a, p, old), i) =>
        XrefRow(100L + i, r, x, a, p, if (old) oldTs else runTs) }
      // distinct upsert keys: the table is unique on (g1, g2, methods)
      val state = st.groupBy(t => (t._1, t._2, t._5)).values.map(_.head)
        .toList.sortBy(t => (t._1, t._2, t._5))
        .map { case (g1, g2, b, br, m, stale) =>
          AgrRow(g1, g2, "stringent", b, br, m, oldTs,
            if (stale) oldTs else runTs) }
      (genes, xrefs, ls, state, threshold)
    }

    val counters = scala.collection.mutable.Map[String, Int]()
    val unmatBefore = ShardedPrefixSum.unmaterializedReleases

    def runCase(genes: List[GeneRow], xrefs: List[XrefRow],
                lines: List[Line], state: List[AgrRow],
                threshold: String): Unit = {
      // ---- the model (shared with the multi-run pin) ----
      val exp = AgrRefModel.run(genes, xrefs, lines, state, threshold,
        runTs, cutoff, counters)

      // ---- the engine ----
      val r = AgrMultiRunPropertySpec.runEngine(spark, genes, xrefs, lines,
        state, threshold, runTs, cutoff)

      val label = s"genes=$genes xrefs=$xrefs lines=$lines state=$state " +
        s"threshold=$threshold"
      assert(r.guardOk == exp.guardOk, s"guard: $label")
      val gotFinal = AgrMultiRunPropertySpec.collectAgr(r.agrOrthologs)
      assert(gotFinal == exp.finalState, s"final state: $label")
      val gotXrefs = AgrMultiRunPropertySpec.collectXrefs(r.xrefs)
      assert(gotXrefs == exp.xrefs, s"xrefs: $label")
      assert(r.newGenes
        .select("rgdId", "geneSymbol", "speciesTypeKey", "objectStatus")
        .as[(Int, String, Int, String)].collect().toSet == exp.newGenes,
        s"new genes: $label")
      assert(r.unresolved.select("curie", "geneSymbol", "speciesTypeKey")
        .as[(String, String, Int)].collect().toSet == exp.unresolved,
        s"unresolved: $label")
      assert(r.resolutionStats.as[(Option[String], Long)].collect()
        .map { case (k, v) => k.orNull -> v }.toMap == exp.stats,
        s"stats: $label")
    }

    var seed = Seed(90217L)
    for (_ <- 1 to 10) {
      val (genes, xrefs, lines, state, threshold) =
        caseGen.pureApply(Gen.Parameters.default, seed)
      seed = seed.next
      runCase(genes, xrefs, lines, state, threshold)
    }
    // DIRECTED case for the rarest corner: a symbol with exactly ONE
    // candidate gene that is INACTIVE must still resolve (the
    // getGeneBySymbol size>1-only status filter) - the random pool's
    // small symbol alphabet almost always yields multi-candidate groups
    runCase(
      genes = List(GeneRow(1, "solo", 10, active = false)),
      // an old pipeline-owned AGR_GENE binding for a curie NOT seen
      // this run: the M6 sweep must drop it (also pinned here - the
      // seeded random xrefs happened never to produce a sweepable row)
      xrefs = List(XrefRow(100L, 1, 63, "AGR:unseen", "AgrOrtholog", oldTs)),
      lines = List(Line("FB:solo", "solo", 10, "FB:solo", "solo", 10,
        "OMA", best = true, bestRev = true)),
      // the bound (1, 1, OMA) pair key-matches this state row: the
      // upsert-update branch is pinned here too (random state/incoming
      // key collisions are vanishingly rare in the generator's domain)
      state = List(AgrRow(1, 1, "stringent", "N", "N", "OMA", oldTs, oldTs)),
      threshold = "500")

    assert(ShardedPrefixSum.unmaterializedReleases == unmatBefore,
      "a key pin was swept before its product materialized")

    def n(k: String) = counters.getOrElse(k, 0)
    assert(n("map") > 0, "never resolved via the curie map")
    assert(n("specialId") > 0, "never resolved via a special id")
    assert(n("symbolSolo") > 0, "never resolved a single-candidate symbol")
    assert(n("symbolSoloInactive") > 0,
      "never resolved a single INACTIVE symbol candidate (the " +
        "getGeneBySymbol status rule)")
    assert(n("symbolMulti") > 0, "never resolved a multi-candidate symbol")
    assert(n("insert") > 0, "never synthesized a gene")
    assert(n("unresolved") > 0, "never left a curie unresolved")
    assert(n("upsertUpdate") > 0, "never updated an existing upsert key")
    assert(n("upsertInsert") > 0, "never inserted a new upsert key")
    assert(n("staleSwept") > 0, "never swept a stale ortholog")
    assert(n("guardRefusal") > 0, "never tripped the circuit breaker")
    assert(n("xrefSwept") > 0, "never swept a stale AGR_GENE xref")
    assert(n("newXref") > 0, "never persisted a new curie binding")
  }
}
