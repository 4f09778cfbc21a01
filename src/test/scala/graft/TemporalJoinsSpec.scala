package graft

import graft.operators.TemporalJoins

/** As-of and range joins vs brute-force references, plus the plan-shape
  * guarantees (as-of is join-free; range join never plans a cartesian /
  * broadcast-nested-loop). */
class TemporalJoinsSpec extends SparkSpec {
  import spark.implicits._

  // random event fixture: ~40 keys, colliding timestamps included
  private val rnd = new scala.util.Random(11)
  private val leftRows = (0 until 400).map { i =>
    (i.toLong, rnd.nextInt(40).toLong, rnd.nextInt(500).toLong)
  }
  private val rightRows = (0 until 400).map { i =>
    (1000L + i, rnd.nextInt(40).toLong, rnd.nextInt(500).toLong)
  }
  private def leftDf = leftRows.toDF("event_id", "user_id", "ts")
  private def rightDf = rightRows.toDF("r_id", "user_id", "ts")

  private def bruteAsof(inclusive: Boolean): Map[Long, Option[Long]] =
    leftRows.map { case (id, u, t) =>
      val cand = rightRows.filter { case (_, ru, rt) =>
        ru == u && (if (inclusive) rt <= t else rt < t)
      }
      // latest by (ts, tiebreak id)
      id -> (if (cand.isEmpty) None
             else Some(cand.maxBy { case (rid, _, rt) => (rt, rid) }._1))
    }.toMap

  test("asof join (inclusive) matches the brute-force latest-prior lookup") {
    val got = TemporalJoins.asofJoin(leftDf, rightDf, Seq("user_id"),
      "ts", "ts", Seq("r_id"), tiebreak = "r_id")
      .select($"event_id", $"r_id").as[(Long, Option[Long])]
      .collect().toMap
    assert(got.size == leftRows.size)
    assert(got == bruteAsof(inclusive = true))
    assert(got.values.exists(_.isEmpty), "fixture needs no-match rows")
    assert(got.values.exists(_.isDefined))
  }

  test("asof join strict mode excludes equal-timestamp right rows") {
    val got = TemporalJoins.asofJoin(leftDf, rightDf, Seq("user_id"),
      "ts", "ts", Seq("r_id"), tiebreak = "r_id", inclusive = false)
      .select($"event_id", $"r_id").as[(Long, Option[Long])]
      .collect().toMap
    assert(got == bruteAsof(inclusive = false))
    // the two modes genuinely differ on this fixture (equal-ts collisions)
    assert(got != bruteAsof(inclusive = true))
  }

  test("asof tie at equal ts goes to the largest tiebreak value") {
    val l = Seq((1L, 7L, 100L)).toDF("event_id", "user_id", "ts")
    val r = Seq((10L, 7L, 100L), (11L, 7L, 100L), (5L, 7L, 50L))
      .toDF("r_id", "user_id", "ts")
    val got = TemporalJoins.asofJoin(l, r, Seq("user_id"), "ts", "ts",
      Seq("r_id"), tiebreak = "r_id")
      .select($"r_id").as[Long].collect()
    assert(got.toSeq == Seq(11L))
  }

  test("asof join plans without any join operator (union + window)") {
    val plan = TemporalJoins.asofJoin(leftDf, rightDf, Seq("user_id"),
      "ts", "ts", Seq("r_id"), tiebreak = "r_id")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"asof compiled to a join:\n$plan")
  }

  private def bruteRange(lo: Long, hi: Long): Set[(Long, Long)] =
    (for {
      (lid, lu, lt) <- leftRows
      (rid, ru, rt) <- rightRows
      if lu == ru && lt >= rt + lo && lt <= rt + hi
    } yield (lid, rid)).toSet

  test("bucketed range join matches brute force (incl. negative lo)") {
    for ((lo, hi, width) <- Seq((0L, 60L, 0L), (-30L, 30L, 0L),
        (10L, 200L, 64L))) {
      val got = TemporalJoins.rangeJoinBucketed(leftDf, rightDf,
        Seq("user_id"), "ts", "ts", lo, hi, width)
        .select($"event_id", $"r_id").as[(Long, Long)].collect().toSet
      assert(got == bruteRange(lo, hi), s"range [$lo,$hi] width=$width")
      assert(got.nonEmpty)
    }
  }

  test("asof join never matches null keys (SQL join semantics)") {
    val l = Seq((1L, Some(7L), 100L), (2L, None: Option[Long], 100L))
      .toDF("event_id", "user_id", "ts")
    val r = Seq((10L, Some(7L), 50L), (11L, None: Option[Long], 50L))
      .toDF("r_id", "user_id", "ts")
    val got = TemporalJoins.asofJoin(l, r, Seq("user_id"), "ts", "ts",
      Seq("r_id"), tiebreak = "r_id")
      .select($"event_id", $"r_id").as[(Long, Option[Long])]
      .collect().toMap
    // keyed left row matches; null-key left row surfaces with NO match
    // (a null-key right row must never attach to it)
    assert(got == Map(1L -> Some(10L), 2L -> None))
  }

  test("asof join never matches null-timestamp right rows") {
    // a null right ts sorts FIRST under __ts asc, so without the filter
    // it would become the running match for every left row that
    // precedes any real right row - the ASOF model (r.ts <= l.ts)
    // never matches a null ts
    val l = Seq((1L, 7L, 100L)).toDF("event_id", "user_id", "ts")
    val r = Seq((10L, 7L, None: Option[Long]), (11L, 7L, Some(200L)))
      .toDF("r_id", "user_id", "ts")
    val got = TemporalJoins.asofJoin(l, r, Seq("user_id"), "ts", "ts",
      Seq("r_id"), tiebreak = "r_id")
      .select($"event_id", $"r_id").as[(Long, Option[Long])]
      .collect().toMap
    assert(got == Map(1L -> None))
  }

  test("asof join accepts date and timestamp tiebreaks (ANSI-safe)") {
    // DATE cannot cast to long under ANSI; the guard routes it through
    // unix_date. Latest date/timestamp must win the equal-ts tie.
    val l = Seq((1L, 7L, 100L)).toDF("event_id", "user_id", "ts")
    val rd = Seq(
      (10L, 7L, 100L, java.sql.Date.valueOf("2026-01-01")),
      (11L, 7L, 100L, java.sql.Date.valueOf("2026-06-01")))
      .toDF("r_id", "user_id", "ts", "d")
    val gotD = TemporalJoins.asofJoin(l, rd, Seq("user_id"), "ts", "ts",
      Seq("r_id"), tiebreak = "d").select($"r_id").as[Long].collect()
    assert(gotD.toSeq == Seq(11L))
    val rt = Seq(
      (10L, 7L, 100L, java.sql.Timestamp.valueOf("2026-01-01 00:00:00")),
      (11L, 7L, 100L, java.sql.Timestamp.valueOf("2026-06-01 00:00:00")))
      .toDF("r_id", "user_id", "ts", "t")
    val gotT = TemporalJoins.asofJoin(l, rt, Seq("user_id"), "ts", "ts",
      Seq("r_id"), tiebreak = "t").select($"r_id").as[Long].collect()
    assert(gotT.toSeq == Seq(11L))
  }

  test("asof join rejects a non-castable tiebreak column") {
    val l = Seq((1L, 7L, 100L)).toDF("event_id", "user_id", "ts")
    val r = Seq(("x", 7L, 50L)).toDF("r_id", "user_id", "ts")
    val e = intercept[IllegalArgumentException] {
      TemporalJoins.asofJoin(l, r, Seq("user_id"), "ts", "ts",
        Seq("r_id"), tiebreak = "r_id")
    }
    assert(e.getMessage.contains("tiebreak"))
  }

  test("range join plan is an equi-join - no cartesian, no BNLJ") {
    val plan = TemporalJoins.rangeJoinBucketed(leftDf, rightDf,
      Seq("user_id"), "ts", "ts", 0L, 600L)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }
}
