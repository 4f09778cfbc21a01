package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.operators.Cascade

/** Brute-force semantic pin for the W4/W2 cascade: a plain-Scala model
  * of the reference's 4-tier pick (manual > Alliance mutual-best >
  * HGNC > NCBI, conflict-no-pick on the state tiers, the 4-rule
  * best-fit chain on the incoming tiers) recomputes the full pick set -
  * tier, method, and evidence payload included - over seeded random
  * relations/state/AGR/genes, and checks BOTH physical formulations
  * (the window pick and the benched aggregation pick) against it.
  * Coverage probes assert every method label and both conflict kinds
  * actually occur across the sample set, so the property cannot
  * silently stop discriminating (see MergePropertySpec for the
  * precedent that motivated the probes). */
class CascadePropertySpec extends SparkSpec {
  import spark.implicits._

  // id domains: 1-3 human (sp 1), 11-13 rat (sp 3), 21 mouse (sp 2)
  private def spOf(id: Int): Int = if (id <= 5) 1 else if (id <= 15) 3 else 2

  private case class Rel(g: Int, src: Int, dest: Int, source: String,
                         ev: Option[String])
  private case class Orth(src: Int, dest: Int, xsrc: String, ev: Option[String])
  private case class AgrRow(g1: Int, g2: Int, best: String, bestRev: String,
                            methods: String)
  private case class Pick(g: Int, src: Int, dest: Int, srcSp: Int, destSp: Int,
                          xsrc: String, xset: Option[String], tier: Int,
                          method: String)

  private def evCount(x: Option[String]): Int = x match {
    case None | Some("") => 0
    case Some(s) => s.split(",", -1).length
  }
  private def symMatch(a: Option[String], b: Option[String]): Boolean =
    (a, b) match {
      case (None, None) => true
      case (Some(x), Some(y)) => x.toLowerCase == y.toLowerCase
      case _ => false
    }

  test("property: both cascade formulations equal a row-at-a-time model " +
    "of the 4-tier pick - tier precedence, conflict-no-pick, and the " +
    "full best-fit rule chain") {
    val evGen = Gen.oneOf[Option[String]](None, Some(""), Some("A"),
      Some("B, A"), Some("A, B"), Some("Ensembl, OMA"), Some("C,A"))
    val humanId = Gen.choose(1, 3)
    val ratId = Gen.choose(11, 13)
    val pairGen = Gen.frequency(
      5 -> humanId.flatMap(s => ratId.map(d => (s, d))),
      3 -> ratId.flatMap(s => humanId.map(d => (s, d))),
      1 -> humanId.map(s => (s, 21)))
    val caseGen = for {
      nRel <- Gen.choose(2, 14)
      rels <- Gen.listOfN(nRel, for {
        g <- Gen.choose(1, 2)
        (s, d) <- pairGen
        src <- Gen.frequency(3 -> Gen.const("HGNC"), 1 -> Gen.const("NCBI"))
        e <- evGen
      } yield Rel(g, s, d, src, e))
      nOrth <- Gen.choose(0, 6)
      orths <- Gen.listOfN(nOrth, for {
        (s, d) <- pairGen
        x <- Gen.frequency(2 -> Gen.const("RGD"), 1 -> Gen.const("NCBI"))
        e <- evGen
      } yield Orth(s, d, x, e))
      nAgr <- Gen.choose(0, 6)
      agrs <- Gen.listOfN(nAgr, for {
        (s, d) <- pairGen
        b <- Gen.frequency(3 -> Gen.const("Y"), 1 -> Gen.const("N"))
        br <- Gen.frequency(3 -> Gen.const("Y"), 1 -> Gen.const("N"))
        m <- Gen.oneOf("Ensembl", "OMA|Ensembl", "PANTHER")
      } yield AgrRow(s, d, b, br, m))
      syms <- Gen.listOfN(8, Gen.oneOf[Option[String]](
        Some("aa"), Some("ga"), Some("gA"), Some("gB"), Some("zz"), None))
      // status registry (round 16): the MANUAL tier sees only
      // both-endpoints-ACTIVE state rows (getManualOrthologs goes
      // through getOrthologsForSourceRgdId); Alliance/incoming are
      // status-free by the published SQL
      inact <- Gen.sequence[List[Boolean], Boolean](
        ((1 to 3) ++ (11 to 13) ++ Seq(21)).toList.map(_ => Gen.prob(0.2)))
    } yield {
      // the pick orderings end with (dest, src): two DISTINCT candidates
      // in one tier bucket sharing (src, dest) but differing in payload
      // would tie every rule's order key - the engine accepts any
      // comparator-total order (SURVEY section 4), so the generator
      // keeps the order total by deduping those
      val ids = ((1 to 3) ++ (11 to 13) ++ Seq(21)).toList
      val active = ids.zip(inact).collect { case (id, false) => id }.toSet
      // incoming relations are resolution products -> ACTIVE endpoints
      // only (the operator contract, as in the merge pin)
      val r = rels.filter(x => active(x.src) && active(x.dest))
        .groupBy(x => (x.g, x.src, x.dest, x.source))
        .values.map(_.head).toList
      val o = orths.groupBy(x => (x.src, x.dest)).values.map(_.head).toList
      val a = agrs.groupBy(x => (x.g1, x.g2, x.methods)).values.map(_.head).toList
      val symMap = ids.zip(syms).collect { case (id, Some(s)) => id -> s }.toMap
      (r, o, a, symMap, active)
    }

    var sawByMethod = Map.empty[String, Int].withDefaultValue(0)
    var sawConflict = 0
    var sawRule3FromBelowMax = 0 // the rule-3 nuance: winner ranked over
                                 // ALL candidates, beating every max-ev one
    var sawManualScopeMatters = 0 // the r16 status pin: scoping the manual
                                  // tier changed at least one pick set
    val allActive = ((1 to 3) ++ (11 to 13) ++ Seq(21)).toSet
    // directed cases FIRST: the rarest corners must occur regardless of
    // how the random stream drifts when the generator changes -
    // (1) rule-3 winner from BELOW max evidence (two max-ev candidates
    //     with late-sorting symbols, one low-ev candidate with the
    //     minimum symbol; no symbol matches because src has no symbol),
    // (2) a manual-tier conflict (two RGD state rows for one key),
    // (3) a symbol-match pick among evidence-tied candidates
    val directed: List[(List[Rel], List[Orth], List[AgrRow],
        Map[Int, String], Set[Int])] =
      List(
        (List(Rel(1, 1, 11, "HGNC", Some("A, B")),
          Rel(1, 1, 12, "HGNC", Some("B, A")),
          Rel(1, 1, 13, "HGNC", Some("A"))),
          Nil, Nil, Map(11 -> "zz", 12 -> "zz", 13 -> "aa"), allActive),
        (List(Rel(1, 1, 11, "HGNC", Some("A"))),
          List(Orth(1, 11, "RGD", Some("A")), Orth(1, 12, "RGD", Some("B, A"))),
          Nil, Map(1 -> "ga", 11 -> "zz", 12 -> "aa"), allActive),
        (List(Rel(1, 2, 11, "NCBI", Some("A")),
          Rel(1, 2, 12, "NCBI", Some("C"))),
          Nil, Nil, Map(2 -> "ga", 11 -> "ga", 12 -> "gB"), allActive),
        // (4) the r16 status corner, directed: the sole manual row's
        // dest is WITHDRAWN, so tier 4 vanishes and the HGNC relation
        // wins - an unscoped manual tier would pick the manual row
        (List(Rel(1, 1, 11, "HGNC", Some("A"))),
          List(Orth(1, 12, "RGD", Some("B, A"))),
          Nil, Map(1 -> "ga", 11 -> "zz", 12 -> "aa"), allActive - 12))
    var s = Seed(90125L)
    val sampled = (1 to 16).map { _ =>
      val c = caseGen.pureApply(Gen.Parameters.default, s)
      s = s.next
      c
    }
    for ((rels, orths, agrs, symMap, active) <- directed ++ sampled) {
      val sym: Int => Option[String] = symMap.get

      // ---- the model ----
      // candidates: incoming (tier 2/1) + manual (tier 4) + alliance (tier 3)
      val incoming = rels.map(r => Pick(r.g, r.src, r.dest, spOf(r.src),
        spOf(r.dest), r.source, r.ev, if (r.source == "HGNC") 2 else 1, ""))
      val keys = rels.map(r => (r.g, r.src, spOf(r.src), spOf(r.dest))).distinct
      // manual tier is both-endpoints-ACTIVE (r16); the unscoped variant
      // exists only to measure whether the scope changed the outcome
      def manualOf(scoped: Boolean) = for {
        (g, src, srcSp, destSp) <- keys
        o <- orths if o.xsrc == "RGD" && o.src == src &&
          spOf(o.dest) == destSp &&
          (!scoped || (active(o.src) && active(o.dest)))
      } yield Pick(g, src, o.dest, srcSp, destSp, "RGD", o.ev, 4, "")
      val manual = manualOf(scoped = true)
      val agrSym = agrs.filter(a => a.best == "Y" && a.bestRev == "Y")
        .flatMap(a => Seq((a.g1, a.g2, a.methods), (a.g2, a.g1, a.methods)))
        .distinct
      val tier3 = agrSym.filter(t => symMap.contains(t._2))
        .groupBy(t => (t._1, spOf(t._2)))
        .map { case (k, ts) =>
          k -> (ts.size, ts.map(t => (t._2, t._3)).minBy(identity)) }
      val alliance = for {
        (g, src, srcSp, destSp) <- keys
        (cnt, (aDest, m)) <- tier3.get((src, destSp)).toList
        _ <- 1 to (if (cnt > 1) 2 else 1)
      } yield Pick(g, src, aDest, srcSp, destSp, "Alliance", Some(m), 3, "")
      val cands = incoming ++ manual ++ alliance

      // pick per (group, srcSp, destSp) partition
      def picksOf(all0: List[Pick], probes: Boolean): Set[Pick] =
        all0.groupBy(c => (c.g, c.srcSp, c.destSp)).values.flatMap { all =>
          val topTier = all.map(_.tier).max
          val top = all.filter(_.tier == topTier)
          def sm(c: Pick) = symMatch(sym(c.src), sym(c.dest))
          def sl(c: Pick) = sym(c.dest).map(_.toLowerCase).getOrElse("￿")
          val n = top.size
          if (topTier >= 3) {
            if (n == 1) Some(top.head.copy(method = "tierPick")) else None
          } else if (n == 1) Some(top.head.copy(method = "oneRel"))
          else {
            val maxEv = top.map(c => evCount(c.xset)).max
            val atMax = top.filter(c => evCount(c.xset) == maxEv)
            if (atMax.size == 1) Some(atMax.head.copy(method = "longestEvidence"))
            else if (top.exists(sm))
              Some(top.minBy(c => (if (sm(c)) 0 else 1, -evCount(c.xset),
                sl(c), c.dest, c.src)).copy(method = "symbolMatch"))
            else {
              val win = top.minBy(c => (sl(c), c.dest, c.src))
              if (probes && evCount(win.xset) != maxEv) sawRule3FromBelowMax += 1
              Some(win.copy(method = "shortestSymbol"))
            }
          }
        }.toSet
      val expected = picksOf(cands, probes = true)
      if (picksOf(incoming ++ manualOf(scoped = false) ++ alliance,
        probes = false) != expected) sawManualScopeMatters += 1
      sawConflict += cands.groupBy(c => (c.g, c.srcSp, c.destSp)).values.count {
        all => val t = all.map(_.tier).max
          t >= 3 && all.count(_.tier == t) > 1
      }
      for (p <- expected) sawByMethod = sawByMethod.updated(
        p.method, sawByMethod(p.method) + 1)

      // ---- the engine, both formulations ----
      val relDf = rels.map(r => (r.g, r.src, r.dest, spOf(r.src), spOf(r.dest),
          r.source, r.ev))
        .toDF("groupId", "srcRgdId", "destRgdId", "srcSpeciesTypeKey",
          "destSpeciesTypeKey", "dataSource", "dataSetName")
      val orthDf = orths.map(o => (o.src, o.dest, spOf(o.dest), o.xsrc, o.ev))
        .toDF("srcRgdId", "destRgdId", "destSpeciesTypeKey",
          "xrefDataSrc", "xrefDataSet")
      val agrDf = agrs.map(a => (a.g1, a.g2, a.best, a.bestRev, a.methods))
        .toDF("geneRgdId1", "geneRgdId2", "isBestScore", "isBestRevScore",
          "methodsMatched")
      val genesDf = symMap.toSeq
        .map { case (id, sm) => (id, sm, sm, "protein-coding", spOf(id), sm) }
        .toDF("rgdId", "geneSymbol", "geneName", "geneTypeLc",
          "speciesTypeKey", "ensemblGeneSymbol")

      val rgdDf = ((1 to 3) ++ (11 to 13) ++ Seq(21))
        .map(id => (id, if (active(id)) "ACTIVE" else "WITHDRAWN", spOf(id)))
        .toDF("rgdId", "objectStatus", "speciesTypeKey")
      val cdf = Cascade.candidates(relDf, orthDf, agrDf, genesDf, Some(rgdDf))
      def pickSet(df: org.apache.spark.sql.DataFrame): Set[Pick] =
        df.select("groupId", "srcRgdId", "destRgdId", "srcSpeciesTypeKey",
            "destSpeciesTypeKey", "xrefDataSrc", "xrefDataSet", "tier", "method")
          .as[(Int, Int, Int, Int, Int, String, Option[String], Int, String)]
          .collect()
          .map(t => Pick(t._1, t._2, t._3, t._4, t._5, t._6, t._7, t._8, t._9))
          .toSet

      val label = s"rels=$rels orths=$orths agrs=$agrs syms=$symMap"
      assert(pickSet(Cascade.pickStrongOrthologsAgg(cdf, genesDf)) == expected,
        s"agg pick: $label")
      assert(pickSet(Cascade.pickStrongOrthologs(cdf, genesDf)) == expected,
        s"window pick: $label")
    }
    // discriminating coverage: every method label and the conflict path
    // must occur somewhere in the sample set
    for (m <- Seq("tierPick", "oneRel", "longestEvidence", "symbolMatch",
      "shortestSymbol"))
      assert(sawByMethod(m) > 0, s"generator never produced method '$m'")
    assert(sawConflict > 0, "generator never produced a tier conflict")
    assert(sawRule3FromBelowMax > 0, "generator never exercised the rule-3 " +
      "nuance (a below-max-evidence candidate winning on symbol) - the " +
      "property would accept an argmax-over-(ev, symbol) implementation")
    assert(sawManualScopeMatters > 0,
      "the manual-tier ACTIVE scope never changed an outcome - that " +
        "tooth is dull")
  }
}
