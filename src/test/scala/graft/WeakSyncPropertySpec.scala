package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.operators.{Keys, ShardedPrefixSum, WeakSync}

/** Brute-force semantic pin for the weak-ortholog sync segment
  * (M4/A7/J4/J5/J6/U6/D1/D2/D3 + the S6 sync scope): a plain-Scala,
  * row-at-a-time model of the reference semantics recomputes every
  * output of the pipeline's weak-sync composition
  * (OrthologPipeline.scala:144-180) over seeded random ortholog state /
  * association state / relations / downgrades - including the final
  * association state with its exact surrogate keys. WeakSyncSpec pins
  * hand-built golden cases per operator; this closes the gaps BETWEEN
  * the operators: detaches actually canceling queued deletes, the D2
  * both-queued rule racing the D1 detach, out-of-scope state rows
  * riding through untouched (the S6 scope - ref
  * OrthologRelationLoader.java:153, OrthologRelationDao.java:377-381),
  * and null-subtype match/update classification.
  *
  * Like the merge/cascade pins, the model follows the engine's declared
  * snapshot semantics (SURVEY section 4 order-dependence recast): every
  * decision reads the PRIOR state snapshot, not interleaved writes.
  */
class WeakSyncPropertySpec extends SparkSpec {
  import spark.implicits._

  private val runTs = java.sql.Timestamp.valueOf("2026-08-01 00:00:00")
  private val ts0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
  private val spKey = 3 // run pair: human (1) <-> rat (3)

  // id domain: 1-3 human, 11-13 rat, 21 mouse (out of the run pair)
  private def spOf(id: Int): Int = if (id <= 3) 1 else if (id <= 13) 3 else 2

  private case class Orth(key: Long, src: Int, dest: Int,
                          xsrc: String, xset: String)
  private case class Assoc(key: Long, typ: String, sub: Option[String],
                           m: Int, d: Int, pipe: String)
  private case class Rel(src: Int, dest: Int, dataSource: String,
                         dataSetName: Option[String])

  // subtype ordering used by the dedupe (asc_nulls_last) vs the key
  // assignment order (plain asc = nulls FIRST) - two different orders
  // on purpose, matching the engine
  private def subNullsLast(s: Option[String]): (Int, String) =
    s.map((1, _)).getOrElse((2, ""))
  private def subNullsFirst(s: Option[String]): (Int, String) =
    s.map((1, _)).getOrElse((0, ""))

  test("property: the weak-sync segment equals a row-at-a-time model - " +
    "scope, classification, both repairs, detach cancellation, and the " +
    "exact final association state keys") {
    val humanId = Gen.choose(1, 3)
    val ratId = Gen.choose(11, 13)
    val pairGen = Gen.frequency( // both directions + out-of-pair
      5 -> humanId.flatMap(s => ratId.map(d => (s, d))),
      3 -> ratId.flatMap(s => humanId.map(d => (s, d))),
      1 -> humanId.map(s => (s, 21)))
    val xsrcGen = Gen.frequency(1 -> Gen.const("RGD"),
      2 -> Gen.const("NCBI"), 2 -> Gen.const("HGNC"))
    val subGen = Gen.oneOf[Option[String]](None, Some("a"), Some("b"))
    val pipeGen = Gen.oneOf("NCBI", "HGNC")

    val caseGen = for {
      nOr <- Gen.choose(0, 10)
      or0 <- Gen.listOfN(nOr, for {
        (s, d) <- pairGen; x <- xsrcGen
        mirror <- Gen.frequency(2 -> Gen.const(false), 1 -> Gen.const(true))
      } yield if (mirror) List((s, d, x), (d, s, x)) else List((s, d, x)))
      nAs <- Gen.choose(0, 10)
      as0 <- Gen.listOfN(nAs, for {
        (m, d) <- pairGen
        typ <- Gen.frequency(4 -> Gen.const("weak_ortholog"),
          1 -> Gen.const("annotation"))
        sub <- subGen; pipe <- pipeGen
        mirror <- Gen.frequency(2 -> Gen.const(false), 1 -> Gen.const(true))
      } yield if (mirror) List((typ, sub, m, d, pipe), (typ, sub, d, m, pipe))
        else List((typ, sub, m, d, pipe)))
      nRel <- Gen.choose(0, 8)
      rels <- Gen.listOfN(nRel, for {
        (s, d) <- pairGen; pipe <- pipeGen; sub <- subGen
      } yield Rel(s, d, pipe, sub))
      nDg <- Gen.choose(0, 4)
      dgs <- Gen.listOfN(nDg, for {
        (s, d) <- pairGen; pipe <- pipeGen; sub <- subGen
      } yield Rel(s, d, pipe, sub))
      // status registry (round 16): the D1 candidate fetch is
      // both-endpoints-ACTIVE (getAllOrthologs), and the D2
      // reverse-assoc check requires the scoped row's MASTER active
      // (getAssociationsForMasterRgdId joins rgd_ids on detail)
      inact <- Gen.sequence[List[Boolean], Boolean](
        (List(1, 2, 3) ++ List(11, 12, 13) ++ List(21)).map(_ =>
          Gen.prob(0.2)))
    } yield {
      // distinct (src, dest) ortholog state (DB uniqueness); distinct
      // unique-key association state (DB constraint on the assoc key)
      val orth = or0.flatten.groupBy(t => (t._1, t._2)).values.map(_.head)
        .toList.sortBy(t => (t._1, t._2)).zipWithIndex
        .map { case ((s, d, x), i) => Orth(200L + i, s, d, x, "ev") }
      val assoc = as0.flatten.groupBy(t => (t._1, t._3, t._4, t._5))
        .values.map(_.head).toList.sortBy(t => (t._3, t._4, t._1, t._5))
        .zipWithIndex
        .map { case ((typ, sub, m, d, pipe), i) =>
          Assoc(100L + i, typ, sub, m, d, pipe) }
      val active = (List(1, 2, 3) ++ List(11, 12, 13) ++ List(21))
        .zip(inact).collect { case (id, false) => id }.toSet
      // incoming endpoints are ACTIVE only: relations and downgrades are
      // resolution products, and the resolution maps to active genes
      // (the operator contract, as in the merge pin)
      val relsAct = rels.filter(r => active(r.src) && active(r.dest))
      val dgsAct = dgs.filter(r => active(r.src) && active(r.dest))
      (orth, assoc, relsAct, dgsAct, active)
    }

    // coverage probes: the property only discriminates if the guarded
    // corners occur across the sample set (merge-pin lesson: assert it)
    var sawStrongDrop = 0; var sawUpdate = 0; var sawDelete = 0
    var sawManualAsym = 0; var sawD1DetachCancels = 0
    var sawD2Both = 0; var sawD2Detach = 0; var sawD2Mirror = 0
    var sawOutOfScopeSurvivor = 0; var sawNullSubMatch = 0
    var sawD1ScopedOut = 0; var sawD2InactiveMasterRev = 0

    val unmatBefore = ShardedPrefixSum.unmaterializedReleases

    def runCase(orth: List[Orth], assoc: List[Assoc],
                rels: List[Rel], dgs: List[Rel],
                active: Set[Int]): Unit = ShardedPrefixSum.scoped {
      // each iteration pins its key frame; the scope releases it
      // ---- the model ----
      val strongPairs = orth.map(o => (o.src, o.dest)).toSet
      val incAll = rels.map(r =>
          (r.src, r.dest, r.dataSetName, r.dataSource)) ++
        dgs.map(g => (g.src, g.dest, g.dataSetName, g.dataSource))
      val incKept = incAll.filterNot(t => strongPairs((t._1, t._2)))
      // dedupe on the unique key, smallest subtype first (nulls last)
      val incBest = incKept.groupBy(t => (t._1, t._2, t._4)).map {
        case (_, rows) => rows.minBy(r => subNullsLast(r._3))
      }.toList

      def inScope(a: Assoc): Boolean = a.typ == "weak_ortholog" &&
        ((spOf(a.m) == 1 && spOf(a.d) == spKey) ||
          (spOf(a.m) == spKey && spOf(a.d) == 1))
      val scope = assoc.filter(inScope)

      val scopeByKey = scope.map(a => (a.m, a.d, a.pipe) -> a).toMap
      val incByKey = incBest.map(t => (t._1, t._2, t._4) -> t._3).toMap
      val matchedKeys = scope.filter(a =>
          incByKey.get((a.m, a.d, a.pipe)).contains(a.sub))
        .map(_.key).toSet
      val updates = scope.flatMap { a =>
        incByKey.get((a.m, a.d, a.pipe)) match {
          case Some(incSub) if incSub != a.sub => Some(a.copy(sub = incSub))
          case _ => None
        }
      }
      val syncInserts = incBest.filterNot(t =>
          scopeByKey.contains((t._1, t._2, t._4)))
        .map(t => Assoc(0L, "weak_ortholog", t._3, t._1, t._2, t._4))
      var deletes = scope.filterNot(a =>
        incByKey.contains((a.m, a.d, a.pipe))).map(_.key).toSet

      if (scope.exists(a => a.sub.isEmpty &&
        incByKey.get((a.m, a.d, a.pipe)).contains(None))) sawNullSubMatch += 1

      // D1 both directions: asym = no reverse ortholog in the FULL state
      val weakAssocPairs = assoc.filter(_.typ == "weak_ortholog")
        .map(a => (a.m, a.d)).toSet
      def rep1(sp1: Int, sp2: Int): (Set[Long], List[Assoc], Set[(Int, Int)]) = {
        // candidates are both-endpoints-ACTIVE (getAllOrthologs, r16);
        // the reverse-ortholog existence check below stays raw
        val inDir = orth.filter(o =>
          spOf(o.src) == sp1 && spOf(o.dest) == sp2)
        if (inDir.exists(o => !(active(o.src) && active(o.dest)) &&
          !strongPairs((o.dest, o.src)))) sawD1ScopedOut += 1
        val asym = inDir.filter(o => active(o.src) && active(o.dest) &&
          !strongPairs((o.dest, o.src)))
        if (asym.exists(_.xsrc == "RGD")) sawManualAsym += 1
        val nonManual = asym.filter(_.xsrc != "RGD")
        val fwd = nonManual.map(o =>
          Assoc(0L, "weak_ortholog", Some(o.xset), o.src, o.dest, o.xsrc))
        val withRev = asym.filter(o => weakAssocPairs((o.dest, o.src)))
        val withoutRev = asym.filterNot(o => weakAssocPairs((o.dest, o.src)))
        val det = withRev.map(o => (o.dest, o.src)).toSet
        val rev = withoutRev.map(o =>
          Assoc(0L, "weak_ortholog", Some(o.xset), o.dest, o.src, o.xsrc))
        (nonManual.map(_.key).toSet, fwd ++ rev, det)
      }
      val (del1, ins1, det1) = rep1(1, spKey)
      val (del2, ins2, det2) = rep1(spKey, 1)
      val orthDeletes = del1 ++ del2
      val detachPairs = det1 ++ det2
      val deletesBefore = deletes
      deletes = deletes.filterNot(k => {
        val a = assoc.find(_.key == k).get; detachPairs((a.m, a.d))
      })
      if (deletes.size < deletesBefore.size) sawD1DetachCancels += 1

      // D2: pair scope, no reverse ortholog, branch on reverse assoc +
      // the both-queued rule against the POST-D1-detach delete list
      val delPairs = deletes.map(k => {
        val a = assoc.find(_.key == k).get; (a.m, a.d)
      })
      val noRevOrtho = scope.filter(a => !strongPairs((a.d, a.m)))
      // the reverse assoc is VISIBLE only when this row's master (the
      // reverse's detail) is ACTIVE (r16): an inactive-master row sees
      // its existing reverse as missing -> mirror insert, not detach
      def revVisible(a: Assoc) = weakAssocPairs((a.d, a.m)) && active(a.m)
      if (noRevOrtho.exists(a =>
        weakAssocPairs((a.d, a.m)) && !active(a.m))) sawD2InactiveMasterRev += 1
      val withRev2 = noRevOrtho.filter(revVisible)
      val withoutRev2 = noRevOrtho.filterNot(revVisible)
      val bothQueued = withRev2.filter(a =>
        delPairs((a.m, a.d)) && delPairs((a.d, a.m)))
      if (bothQueued.nonEmpty) sawD2Both += 1
      val det3 = withRev2.filterNot(a =>
        bothQueued.exists(b => b.m == a.m && b.d == a.d))
        .map(a => (a.d, a.m)).toSet
      if (det3.nonEmpty) sawD2Detach += 1
      val ins3 = withoutRev2.map(a => a.copy(key = 0L, m = a.d, d = a.m))
      if (ins3.nonEmpty) sawD2Mirror += 1
      val finalDeleteKeys = deletes.filterNot(k => {
        val a = assoc.find(_.key == k).get; det3((a.m, a.d))
      })

      // final association state: untouched + updates + keyed inserts
      val allInserts = syncInserts ++ ins1 ++ ins2 ++ ins3
      val maxKey = if (assoc.isEmpty) 0L else assoc.map(_.key).max
      val keyedInserts = allInserts
        .sortBy(a => (a.m, a.d, a.pipe, subNullsFirst(a.sub)))
        .zipWithIndex.map { case (a, i) => a.copy(key = maxKey + i + 1L) }
      val updateKeys = updates.map(_.key).toSet
      val expFinal = (assoc.filterNot(a =>
        finalDeleteKeys(a.key) || updateKeys(a.key)) ++
        updates ++ keyedInserts).toSet

      if (assoc.exists(a => !inScope(a) && expFinal.exists(_.key == a.key)))
        sawOutOfScopeSurvivor += 1
      if (incAll.size > incKept.size) sawStrongDrop += 1
      if (updates.nonEmpty) sawUpdate += 1
      if (deletesBefore.nonEmpty) sawDelete += 1

      // ---- the engine, composed exactly as the pipeline composes it ----
      val orthDf = orth.map(o => (o.key, o.src, o.dest, spOf(o.src),
          spOf(o.dest), o.xsrc, o.xset, 11, 70, ts0, 70, ts0))
        .toDF("key", "srcRgdId", "destRgdId", "srcSpeciesTypeKey",
          "destSpeciesTypeKey", "xrefDataSrc", "xrefDataSet",
          "orthologTypeKey", "createdBy", "createdDate",
          "lastModifiedBy", "lastModifiedDate")
      val assocDf = assoc.map(a => (a.key, a.typ, a.sub, a.m, a.d, a.pipe, ts0))
        .toDF("assocKey", "assocType", "assocSubType", "masterRgdId",
          "detailRgdId", "srcPipeline", "creationDate")
      val relDf = rels.map(r => (r.src, r.dest, r.dataSource, r.dataSetName))
        .toDF("srcRgdId", "destRgdId", "dataSource", "dataSetName")
      val dgDf = dgs.map(g => (g.src, g.dest, g.dataSource, g.dataSetName))
        .toDF("srcRgdId", "destRgdId", "xrefDataSrc", "xrefDataSet")
      val rgdIds = ((1 to 3) ++ (11 to 13) ++ Seq(21))
        .map(id => (id, spOf(id),
          if (active(id)) "ACTIVE" else "WITHDRAWN"))
        .toDF("rgdId", "speciesTypeKey", "objectStatus")

      val weakIncoming = WeakSync.dropStrongOrthologs(
        WeakSync.buildIncoming(relDf, dgDf, runTs), orthDf)
      val assocInScope = WeakSync.syncScope(assocDf, rgdIds, spKey)
      val sync = WeakSync.syncDiff(weakIncoming, assocInScope)
      val r1 = WeakSync.repairOrthologSymmetry(orthDf, assocDf, 1, spKey, runTs,
        rgdIds = Some(rgdIds))
      val r2 = WeakSync.repairOrthologSymmetry(orthDf, assocDf, spKey, 1, runTs,
        rgdIds = Some(rgdIds))
      val afterOrtho = WeakSync.detach(sync.deletes,
        r1.detachKeys.unionByName(r2.detachKeys))
      val r3 = WeakSync.repairAssocSymmetry(assocDf, orthDf, rgdIds,
        afterOrtho, spKey, runTs)
      val finalDeletes = WeakSync.detach(afterOrtho, r3.detachKeys)

      val untouched = assocDf
        .join(finalDeletes.select(col("assocKey")), Seq("assocKey"), "left_anti")
        .join(sync.updates.select(col("assocKey")), Seq("assocKey"), "left_anti")
      val inserts = sync.inserts.unionByName(r1.assocInserts)
        .unionByName(r2.assocInserts).unionByName(r3.assocInserts)
      val keyed = Keys.assignSequentialFrom(inserts.drop("assocKey"),
        "assocKey", assocDf.agg(coalesce(max(col("assocKey")), lit(0L))),
        Seq(col("masterRgdId"), col("detailRgdId"), col("srcPipeline"),
          col("assocSubType")))
      val cols = untouched.columns.toIndexedSeq.map(col)
      val finalAssoc = untouched
        .unionByName(sync.updates.select(cols: _*))
        .unionByName(keyed.select(cols: _*))

      def assocSet(df: DataFrame): Set[Assoc] =
        df.select("assocKey", "assocType", "assocSubType", "masterRgdId",
            "detailRgdId", "srcPipeline")
          .as[(Long, String, Option[String], Int, Int, String)]
          .collect().map(t => Assoc(t._1, t._2, t._3, t._4, t._5, t._6)).toSet

      val label = s"orth=$orth assoc=$assoc rels=$rels dgs=$dgs"
      assert(sync.matched.select("assocKey").as[Long].collect().toSet ==
        matchedKeys, s"matched: $label")
      assert(sync.updates.select("assocKey", "assocSubType")
        .as[(Long, Option[String])].collect().toSet ==
        updates.map(a => (a.key, a.sub)).toSet, s"updates: $label")
      assert(sync.inserts.select("masterRgdId", "detailRgdId", "srcPipeline",
          "assocSubType").as[(Int, Int, String, Option[String])]
        .collect().toSet ==
        syncInserts.map(a => (a.m, a.d, a.pipe, a.sub)).toSet,
        s"sync inserts: $label")
      assert(finalDeletes.select("assocKey").as[Long].collect().toSet ==
        finalDeleteKeys, s"final deletes: $label")
      assert(r1.orthologDeletes.unionByName(r2.orthologDeletes)
        .as[Long].collect().toSet == orthDeletes, s"ortholog deletes: $label")
      assert(r3.assocInserts.select("masterRgdId", "detailRgdId",
          "assocSubType", "srcPipeline")
        .as[(Int, Int, Option[String], String)].collect().sorted.toSeq ==
        ins3.map(a => (a.m, a.d, a.sub, a.pipe)).sorted, s"D2 mirrors: $label")
      assert(assocSet(finalAssoc) == expFinal, s"final assoc state: $label")
    }

    var s = Seed(40151L)
    for (_ <- 1 to 14) {
      val (orth, assoc, rels, dgs, active) =
        caseGen.pureApply(Gen.Parameters.default, s)
      s = s.next
      runCase(orth, assoc, rels, dgs, active)
    }
    // DIRECTED case for the rarest corner the generator seldom hits: a
    // null-subtype MATCH needs the incoming null to be the SOLE candidate
    // for its unique key (the dedupe ranks nulls last, so any non-null
    // sibling wins instead - which key (2,12,HGNC) below pins as a
    // null -> "a" update through the nulls-last pick)
    runCase(
      orth = Nil,
      assoc = List(Assoc(100L, "weak_ortholog", None, 1, 11, "NCBI"),
        Assoc(101L, "weak_ortholog", None, 2, 12, "HGNC")),
      rels = List(Rel(1, 11, "NCBI", None),
        Rel(2, 12, "HGNC", None), Rel(2, 12, "HGNC", Some("a"))),
      dgs = Nil,
      active = ((1 to 3) ++ (11 to 13) ++ Seq(21)).toSet)

    assert(ShardedPrefixSum.unmaterializedReleases == unmatBefore,
      "a key pin was swept before its product materialized")

    assert(sawStrongDrop > 0, "never dropped a strong-ortholog candidate")
    assert(sawUpdate > 0, "never classified an update")
    assert(sawDelete > 0, "never classified a delete")
    assert(sawManualAsym > 0, "never saw a manual asymmetric ortholog")
    assert(sawD1DetachCancels > 0,
      "a D1 detach never canceled a queued delete")
    assert(sawD2Both > 0, "never exercised the D2 both-queued rule")
    assert(sawD2Detach > 0, "never exercised a D2 detach")
    assert(sawD2Mirror > 0, "never exercised a D2 mirror insert")
    assert(sawOutOfScopeSurvivor > 0,
      "never saw an out-of-scope state row survive")
    assert(sawNullSubMatch > 0, "never saw a null-subtype match")
    assert(sawD1ScopedOut > 0,
      "never scoped an inactive-endpoint D1 candidate out")
    assert(sawD2InactiveMasterRev > 0,
      "never saw an inactive-master row with an existing reverse assoc")
  }
}
