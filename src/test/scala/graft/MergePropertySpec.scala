package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.operators.{Merge, ShardedPrefixSum}

/** Brute-force semantic pin for the flagship reconcile merge
  * (M1/M2/W3/F11 + S7): a plain-Scala, row-at-a-time model of the
  * reference semantics - classification against the W3-best state row,
  * duplicate-state cleanup, surrogate keys, the manual guard, and the
  * stale sweep - recomputes every output of [[Merge.reconcile]] over
  * seeded random states/incomings, INCLUDING the assigned surrogate
  * keys. MergeSpec pins hand-built golden cases; this closes the gaps
  * between them (random collisions of priority/evidence/symbol ties,
  * manual rows in every role, both sweep directions, out-of-pair
  * species, missing gene symbols). */
class MergePropertySpec extends SparkSpec {
  import spark.implicits._

  private val runTs = java.sql.Timestamp.valueOf("2026-08-01 00:00:00")
  private val ts0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
  private val spKey = 3 // the run's species pair = human <-> rat

  // id domains: 1-5 human (sp 1), 11-15 rat (sp 3), 21-22 mouse (sp 2,
  // outside the sweep pair)
  private def spOf(id: Int): Int = if (id <= 5) 1 else if (id <= 15) 3 else 2

  private case class St(key: Long, src: Int, dest: Int, xsrc: String,
                        xset: Option[String], mb: Int,
                        md: java.sql.Timestamp) {
    def srcSp: Int = spOf(src); def destSp: Int = spOf(dest)
  }
  private case class In(src: Int, dest: Int, xsrc: String,
                        xset: Option[String]) {
    def srcSp: Int = spOf(src); def destSp: Int = spOf(dest)
  }

  // ---- plain-Scala mirrors of the engine's scalar semantics ----
  private def prio(s: String): Int = s match {
    case "RGD" => 4; case "Alliance" => 3; case "HGNC" => 2
    case "NCBI" => 1; case _ => 0
  }
  private def ev(x: Option[String]): Int = x match {
    case None | Some("") => 0
    case Some(s) => s.split(",", -1).length
  }
  private def symMatch(a: Option[String], b: Option[String]): Boolean =
    (a, b) match { // null-safe <=> over lower()
      case (None, None) => true
      case (Some(x), Some(y)) => x.toLowerCase == y.toLowerCase
      case _ => false
    }
  private def canonXset(x: Option[String]): Option[String] = x match {
    case None | Some("") => x
    case Some(s) =>
      // Dao:447-459 verbatim: Java default-limit split, single-token
      // skip, TreeSet + Utils.concatenate (leading "" contributes
      // nothing), rewrite only when strictly shorter
      val toks = s.split(", ")
      if (toks.length <= 1) Some(s)
      else {
        val sb = new StringBuilder
        scala.collection.immutable.TreeSet(toks: _*).foreach { t =>
          if (sb.nonEmpty) sb.append(", "); sb.append(t)
        }
        val canon = sb.toString
        if (canon != s && canon.length < s.length) Some(canon) else Some(s)
      }
  }
  private def otk(srcSp: Int, destSp: Int): Int =
    if (srcSp == 1 || destSp == 1) graft.model.Species.directOrthologTypeKey
    else graft.model.Species.transitiveOrthologTypeKey

  /** W3 "ranks before": priority desc, evidence desc, symbol-match
    * desc, lower(destSymbol) DESC nulls last, destRgdId asc. */
  private def w3Before(aP: Int, aE: Int, aSm: Boolean, aSym: Option[String], aDest: Int,
                       bP: Int, bE: Int, bSm: Boolean, bSym: Option[String], bDest: Int): Boolean = {
    if (aP != bP) return aP > bP
    if (aE != bE) return aE > bE
    if (aSm != bSm) return aSm
    val (al, bl) = (aSym.map(_.toLowerCase), bSym.map(_.toLowerCase))
    if (al != bl) return (al, bl) match {
      case (Some(x), Some(y)) => x > y // reverse-alphabetical
      case (Some(_), None) => true // nulls last
      case _ => false
    }
    aDest < bDest
  }

  test("property: reconcile equals a row-at-a-time model of the reference " +
    "semantics - classification, W3 ties, manual guard, stale sweep, and " +
    "the exact surrogate keys") {
    // RGD-heavy on purpose: the manual-guard corners (a manual row in
    // the duplicate slot, a manual replace target - which needs an
    // RGD-vs-RGD priority tie broken by evidence/symbols) are the
    // rarest collisions and the ones F11 exists for
    val xsrcGen = Gen.frequency(3 -> Gen.const("RGD"),
      1 -> Gen.const("Alliance"), 1 -> Gen.const("HGNC"),
      1 -> Gen.const("NCBI"), 1 -> Gen.const("OMA"))
    val xsetGen = Gen.oneOf[Option[String]](None, Some(""), Some("A"),
      Some("B, A"), Some("A, B"), Some("Ensembl, OMA"), Some("B, A, B"),
      Some("C,A"))
    // a TIGHT id domain on purpose: multi-row (src, destSp) state
    // groups (the duplicate-cleanup path, manual rows in the non-best
    // slot) and incoming/state key collisions must occur routinely,
    // not by luck - the first cut of this generator (src 1-5, dest
    // 11-15, 8 samples) never produced a manual duplicate row, and a
    // deliberately broken F11 guard in the model passed the property
    val humanId = Gen.choose(1, 3)
    val ratId = Gen.choose(11, 13)
    val pairGen = Gen.frequency( // both sweep directions + out-of-pair
      5 -> humanId.flatMap(s => ratId.map(d => (s, d))),
      3 -> ratId.flatMap(s => humanId.map(d => (s, d))),
      1 -> humanId.map(s => (s, 21)))
    val allIds = ((1 to 5) ++ (11 to 15) ++ Seq(21, 22)).toList
    val caseGen = for {
      nSt <- Gen.choose(0, 14)
      st <- Gen.listOfN(nSt, for {
        (s, d) <- pairGen
        x <- xsrcGen; e <- xsetGen
        old <- Gen.frequency(2 -> Gen.const(true), 1 -> Gen.const(false))
      } yield (s, d, x, e, old))
      // sparse incoming in 1/3 of samples: the incoming-gate corner (a
      // no-incoming multi-row key where gated and ungated dup handling
      // truly diverge) needs keys the dense incoming would cover
      nIn <- Gen.frequency(1 -> Gen.choose(0, 2), 2 -> Gen.choose(0, 12))
      in <- Gen.listOfN(nIn, for {
        (s, d) <- pairGen
        x <- xsrcGen; e <- xsetGen
      } yield In(s, d, x, e))
      syms <- Gen.listOfN(20, Gen.oneOf[Option[String]](
        Some("ga"), Some("gA"), Some("gB"), None))
      // status registry: occasional WITHDRAWN ids make state rows
      // INVISIBLE to the reconcile (getOrthologsForSourceRgdId is
      // both-endpoints-ACTIVE) and inactive sweep candidates. Biased
      // toward the dest side (rat/mouse): an inactive SRC blacks out
      // its whole key (both walks trivially agree at activeTotal=0),
      // while an inactive DEST among active siblings is what the
      // ACTIVE-only depletion corner needs
      inact <- Gen.sequence[List[Boolean], Boolean](allIds.map(id =>
        Gen.prob(if (id <= 5) 0.08 else 0.25)))
      // crafted corner (half the samples): one key holding all three rat
      // dests, oldest-keyed row's dest WITHDRAWN, no incoming for the
      // key - the minimal shape where ACTIVE-only depletion diverges
      // from depleting on every deleted candidate (the organic chance
      // of all three dests landing in one key with exactly that status
      // and key order is too thin to rely on)
      inject <- Gen.prob(0.5)
      injSrc <- humanId
      injPerm <- Gen.oneOf(List(11, 12, 13).permutations.toList)
      injXsrc <- Gen.listOfN(3, Gen.oneOf("NCBI", "HGNC", "Alliance"))
      injXset <- Gen.listOfN(3, xsetGen)
    } yield {
      val active0 = allIds.zip(inact).collect {
        case (id, false) => id }.toSet
      // registry adjustment for the crafted corner: the oldest-keyed
      // injected dest withdrawn, the other two + the src active (a
      // GLOBAL registry - other rows touching these ids follow suit,
      // which the model handles uniformly)
      val active = if (inject)
        active0 - injPerm.head ++ injPerm.tail + injSrc else active0
      // distinct (src, dest) state pairs: same-pair duplicates are W1's
      // domain and would make the within-group W3 tie-break (dest asc)
      // degenerate; distinct (src, destSp, dest) incomings keep the
      // dedupe pick total for the same reason. Incoming endpoints are
      // ACTIVE only - the pipeline's resolution maps only to active
      // genes (the operator contract).
      val stRows0 = st.groupBy(t => (t._1, t._2)).values.map(_.head).toList
        .zipWithIndex.map { case ((s, d, x, e, old), i) =>
          St(100L + i, s, d, x, e, mb = 50,
            md = if (old) ts0 else runTs) }
      val stRows = if (!inject) stRows0 else
        stRows0.filterNot(r => r.src == injSrc && r.destSp == 3) ++
          injPerm.zipWithIndex.map { case (d, i) =>
            St(200L + i, injSrc, d, injXsrc(i), injXset(i), mb = 50, md = ts0) }
      val inRows0 = in.filter(r => active(r.src) && active(r.dest))
        .groupBy(t => (t.src, spOf(t.dest), t.dest))
        .values.map(_.head).toList
      val inRows = if (!inject) inRows0 else
        inRows0.filterNot(r => r.src == injSrc && r.destSp == 3)
      val symMap = allIds.zip(syms).collect { case (id, Some(s)) => id -> s }.toMap
      (stRows, inRows, symMap, active)
    }

    // coverage probes: the teeth experiments below need these corners
    // to actually occur across the sample set, or the property can
    // silently stop discriminating (it did - see the generator note)
    var sawManualDup = 0
    var sawManualReplaceTarget = 0
    var sawDupDelete = 0
    var sawSole = 0
    var sawInvisiblePass = 0
    var sawNoIncomingDupKept = 0
    var sawNoIncomingGateMatters = 0
    var sawInactiveDepletionMatters = 0
    var sawSweepDelete = 0
    var sawSweepDepletionBlock = 0
    var sawInactiveCandidate = 0
    var s = Seed(7321L)
    // each reconcile pins its key frame: one pin scope per case
    for (_ <- 1 to 32) ShardedPrefixSum.scoped {
      val (st, in, symMap, active) = caseGen.pureApply(Gen.Parameters.default, s)
      s = s.next
      val sym: Int => Option[String] = symMap.get

      // ---- the model ----
      def bothActive(src: Int, dest: Int) = active(src) && active(dest)
      val visible = st.filter(r => bothActive(r.src, r.dest))
      val invisible = st.filterNot(r => bothActive(r.src, r.dest))
      if (invisible.nonEmpty) sawInvisiblePass += 1

      def smOf(src: Int, dest: Int) = symMatch(sym(src), sym(dest))
      def w3St(a: St, b: St) = w3Before(
        prio(a.xsrc), ev(a.xset), smOf(a.src, a.dest), sym(a.dest), a.dest,
        prio(b.xsrc), ev(b.xset), smOf(b.src, b.dest), sym(b.dest), b.dest)
      def w3In(a: In, b: In) = w3Before(
        prio(a.xsrc), ev(a.xset), smOf(a.src, a.dest), sym(a.dest), a.dest,
        prio(b.xsrc), ev(b.xset), smOf(b.src, b.dest), sym(b.dest), b.dest)

      val incBest = in.groupBy(r => (r.src, r.destSp)).map { case (k, rs) =>
        k -> rs.sortWith(w3In).head }
      val stByKey = visible.groupBy(r => (r.src, r.destSp))
      val stBest = stByKey.map { case (k, rs) => k -> rs.sortWith(w3St).head }
      // conflict deletes only where an incoming exists for the key
      // (getKeyForMatchingOrtholog runs per incoming)
      val dupDeletes = stByKey.collect {
        case (k, rs) if incBest.contains(k) =>
          rs.sortWith(w3St).tail.filter(_.xsrc != "RGD")
      }.flatten.toSet
      if (stByKey.exists { case (k, rs) =>
        !incBest.contains(k) && rs.size > 1 }) sawNoIncomingDupKept += 1
      if (stByKey.values.exists(rs =>
        rs.sortWith(w3St).tail.exists(_.xsrc == "RGD"))) sawManualDup += 1

      def existingWeaker(ex: St, i: In): Boolean = {
        val (exP, inP) = (prio(ex.xsrc), prio(i.xsrc))
        if (exP != inP) return exP < inP
        val (exE, inE) = (ev(ex.xset), ev(i.xset))
        if (exE != inE) return exE < inE
        if (smOf(ex.src, ex.dest)) return false
        if (smOf(i.src, i.dest)) return true
        (sym(ex.dest), sym(i.dest)) match {
          case (None, Some(_)) => true
          case (_, None) => false
          case (Some(a), Some(b)) => a.toLowerCase < b.toLowerCase
        }
      }

      var touched = Set.empty[St]
      var insertSrc = List.empty[In]
      var replacedDeletes = Set.empty[St]
      var downgraded = Set.empty[In]
      for ((k, i) <- incBest) stBest.get(k) match {
        case None => insertSrc ::= i
        case Some(ex) if ex.dest == i.dest => touched += ex
        case Some(ex) if existingWeaker(ex, i) =>
          insertSrc ::= i
          if (ex.xsrc != "RGD") replacedDeletes += ex
          else sawManualReplaceTarget += 1
        case Some(_) => downgraded += i
      }
      val maxKey = if (st.isEmpty) 0L else st.map(_.key).max
      val inserted = insertSrc
        .sortBy(i => (i.src, i.destSp, i.dest)).zipWithIndex
        .map { case (i, idx) => St(maxKey + idx + 1L, i.src, i.dest,
          i.xsrc, canonXset(i.xset), mb = 70, md = runTs) }
      val kept = visible.filterNot(r => dupDeletes(r) || replacedDeletes(r))
        .map(r => if (touched(r)) r.copy(mb = 70, md = runTs) else r)
      // invisible rows ride through untouched (never fetched); a key
      // whose only state is invisible classifies as INSERT above, so
      // merged can hold several rows per key - exactly the reference
      val merged = kept ++ invisible ++ inserted
      def inPair(r: St) = (r.srcSp == 1 && r.destSp == spKey) ||
        (r.srcSp == spKey && r.destSp == 1)
      // M2 sweep, the reference's literal sequential loop per key:
      // candidates = pair rows modified before the run, ANY status,
      // non-manual (getOrthologsModifiedBefore has no status filter);
      // each deletes while the CURRENT both-ACTIVE row count of its
      // (src, destSp) exceeds 1, and deleting an active row depletes
      // the count (deleteStaleOrtholog re-fetches at every step).
      // Key order stands in for the unspecified DB list order.
      def rowActive(r: St) = bothActive(r.src, r.dest)
      def walkKey(rows: List[St], probes: Boolean = false): Set[St] = {
        var aCur = rows.count(rowActive)
        rows.filter(r => inPair(r) && r.md.before(runTs) && r.xsrc != "RGD")
          .sortBy(_.key).flatMap { r =>
            if (probes && !rowActive(r)) sawInactiveCandidate += 1
            if (aCur > 1) {
              if (rowActive(r)) aCur -= 1
              if (probes) sawSweepDelete += 1
              Some(r)
            } else { if (probes) sawSweepDepletionBlock += 1; None }
          }.toSet
      }
      val stale = merged.groupBy(r => (r.src, r.destSp)).values
        .flatMap(rows => walkKey(rows.toList, probes = true)).toSet
      // ACTIVE-only depletion only DISCRIMINATES when a wrong walk that
      // depletes on EVERY deleted candidate (inactive included) lands on
      // a different stale set - needs an inactive candidate ahead of an
      // active one near the depletion boundary
      sawInactiveDepletionMatters += merged.groupBy(r => (r.src, r.destSp))
        .values.count { rows =>
          def wrongWalk(rs: List[St]): Set[St] = {
            var aCur = rs.count(rowActive)
            rs.filter(r => inPair(r) && r.md.before(runTs) && r.xsrc != "RGD")
              .sortBy(_.key).flatMap { r =>
                if (aCur > 1) { aCur -= 1; Some(r) } else None
              }.toSet
          }
          walkKey(rows.toList) != wrongWalk(rows.toList)
        }
      val expState = merged.filterNot(stale).toSet
      val expDeleted = dupDeletes ++ replacedDeletes ++ stale
      // the gate only DISCRIMINATES when running the UNGATED variant
      // (delete every non-best non-manual duplicate, then sweep) over a
      // no-incoming multi-row key lands on a different final row set
      // than the gated walk - cases where the sweep deletes exactly the
      // rows an ungated dup-cleanup would have deleted don't count, and
      // neither do manual duplicates (never deleted either way)
      sawNoIncomingGateMatters += stByKey.count { case (k, rs) =>
        !incBest.contains(k) && rs.size > 1 && {
          val invK = invisible.filter(r => (r.src, r.destSp) == k)
          val gated = rs ++ invK
          val ungated = (rs.sortWith(w3St) match {
            case best :: rest => best :: rest.filter(_.xsrc == "RGD")
            case Nil => Nil
          }) ++ invK
          (gated.toSet -- walkKey(gated)) != (ungated.toSet -- walkKey(ungated))
        }
      }

      // ---- the engine ----
      val stDf = st.map(r => (r.key, r.src, r.dest, r.srcSp, r.destSp,
          r.xsrc, r.xset, otk(r.srcSp, r.destSp), 50, ts0, r.mb, r.md))
        .toDF("key", "srcRgdId", "destRgdId", "srcSpeciesTypeKey",
          "destSpeciesTypeKey", "xrefDataSrc", "xrefDataSet",
          "orthologTypeKey", "createdBy", "createdDate",
          "lastModifiedBy", "lastModifiedDate")
      val inDf = in.map(r => (r.src, r.dest, r.srcSp, r.destSp, r.xsrc, r.xset))
        .toDF("srcRgdId", "destRgdId", "srcSpeciesTypeKey",
          "destSpeciesTypeKey", "xrefDataSrc", "xrefDataSet")
      val genesDf = symMap.toSeq
        .map { case (id, sm) => (id, sm, sm, "protein-coding", spOf(id), sm) }
        .toDF("rgdId", "geneSymbol", "geneName", "geneTypeLc",
          "speciesTypeKey", "ensemblGeneSymbol")
      val rgdDf = allIds
        .map(id => (id, if (active(id)) "ACTIVE" else "WITHDRAWN", spOf(id)))
        .toDF("rgdId", "objectStatus", "speciesTypeKey")
      val m = Merge.reconcile(inDf, stDf, genesDf, runTs, spKey,
        rgdIds = Some(rgdDf))

      def stSet(df: org.apache.spark.sql.DataFrame): Set[St] =
        df.select("key", "srcRgdId", "destRgdId", "xrefDataSrc",
            "xrefDataSet", "lastModifiedBy", "lastModifiedDate")
          .as[(Long, Int, Int, String, Option[String], Int, java.sql.Timestamp)]
          .collect().map(t => St(t._1, t._2, t._3, t._4, t._5, t._6, t._7)).toSet

      val label = s"st=$st in=$in syms=$symMap"
      assert(stSet(m.newState) == expState, s"newState: $label")
      assert(stSet(m.inserted) == inserted.toSet, s"inserted: $label")
      assert(stSet(m.deleted) == expDeleted, s"deleted: $label")
      assert(stSet(m.touched) ==
        touched.map(_.copy(mb = 70, md = runTs)), s"touched: $label")
      assert(m.downgraded.select("srcRgdId", "destRgdId", "xrefDataSrc",
          "xrefDataSet")
        .as[(Int, Int, String, Option[String])].collect().toSet ==
        downgraded.map(d => (d.src, d.dest, d.xsrc, d.xset)), s"downgraded: $label")
      // sole-survivor evidence: an old, untouched, non-manual pair row
      // that SURVIVES the sweep (its key's active count never exceeded
      // 1 at its turn) - the blocked candidates counted above must
      // exist in the final state
      if (expState.exists(r => inPair(r) && r.md.before(runTs) &&
        r.xsrc != "RGD")) sawSole += 1
      if (dupDeletes.nonEmpty) sawDupDelete += 1
    }
    // the property only discriminates if the guarded corners occurred:
    // a manual row in the duplicate (non-best) slot, a manual row as a
    // replace target, duplicate cleanup firing, the status-visibility
    // and sweep corners, and the sole-survivor rule letting a row live
    assert(sawManualDup > 0, "generator never produced a manual duplicate row")
    assert(sawManualReplaceTarget > 0,
      "generator never produced a manual replace target")
    assert(sawDupDelete > 0, "generator never exercised duplicate cleanup")
    assert(sawSole > 0, "generator never exercised the sole-survivor rule")
    assert(sawInvisiblePass > 0,
      "generator never produced an invisible (inactive-endpoint) row")
    assert(sawNoIncomingDupKept > 0,
      "generator never kept duplicates on a no-incoming key")
    assert(sawNoIncomingGateMatters > 0,
      "the incoming gate never changed an outcome - the gating tooth is dull")
    assert(sawInactiveDepletionMatters > 0,
      "ACTIVE-only depletion never changed an outcome - that tooth is dull")
    assert(sawSweepDelete > 0, "the sweep never deleted")
    assert(sawSweepDepletionBlock > 0,
      "the sweep's depletion rule never blocked a candidate")
    assert(sawInactiveCandidate > 0,
      "the sweep never saw an inactive candidate")
  }
}
