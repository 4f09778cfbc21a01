package graft

import org.apache.spark.sql.functions._
import graft.functions.UnigramSegment
import graft.llm.Unigram

/** Unigram-LM (SentencePiece-class) tokenizer: Viterbi semantics of the
  * native expression, corpus encode/train behavior, and the scale-shape
  * plan properties (distinct-word frame, plan-time vocabulary). */
class UnigramSpec extends SparkSpec {
  import spark.implicits._

  private def seg(word: String, vocab: Seq[(String, Long)],
                  unk: Long = Unigram.DefaultUnkCost): (Seq[String], Int) = {
    val m = new UnigramSegment.Model(
      vocab.map(_._1).toArray, vocab.map(_._2).toArray, unk)
    val (p, n) = UnigramSegment.segment(word, m)
    (p.toSeq, n)
  }

  test("viterbi picks the min-total-cost segmentation") {
    val v = Seq("a" -> 2500L, "b" -> 3200L, "c" -> 3200L,
      "ab" -> 4000L, "abc" -> 9000L)
    // ab(4000)+c(3200)=7200 beats abc(9000) and a+b+c(8900)
    assert(seg("abc", v) == (Seq("ab", "c"), 0))
  }

  test("equal totals break toward the longer piece") {
    // piece cost exactly equals the sum of its parts: longer wins
    val v = Seq("a" -> 2500L, "b" -> 3200L, "ab" -> 5700L)
    assert(seg("ab", v) == (Seq("ab"), 0))
  }

  test("missing single code points fall back at unkCost and count") {
    val v = Seq("a" -> 2500L, "b" -> 3200L)
    assert(seg("axb", v) == (Seq("a", "x", "b"), 1))
    assert(seg("xy", v) == (Seq("x", "y"), 2))
    assert(seg("", v) == (Seq(), 0))
  }

  test("a cheap enough unk beats a real piece only via total cost") {
    // unk at 100 makes per-char fallback cheaper than the 5000 piece,
    // but vocab singles still win where they exist
    val v = Seq("a" -> 50L, "ab" -> 5000L)
    assert(seg("ab", v, unk = 100L) == (Seq("a", "b"), 1))
  }

  test("words over MaxWordLen collapse to a single [UNK]") {
    val v = Seq("a" -> 1000L)
    val long = "a" * (UnigramSegment.MaxWordLen + 1)
    assert(seg(long, v) == (Seq(UnigramSegment.Unk), 1))
    val atCap = "a" * UnigramSegment.MaxWordLen
    assert(seg(atCap, v)._2 == 0)
  }

  test("piece lengths count code points, not UTF-16 units") {
    val clef = new String(Character.toChars(0x1D11E)) // non-BMP
    val v = Seq(clef -> 1000L, (clef + "a") -> 1500L, "a" -> 900L)
    // the 2-code-point piece must probe correctly across the surrogate
    assert(seg(clef + "a", v) == (Seq(clef + "a"), 0))
    assert(seg(clef + clef, v) == (Seq(clef, clef), 0))
  }

  test("encode reassembles per-doc pieces in reading order with zeros " +
    "for empty docs") {
    val docs = Seq(
      (1L, "ab abc xb"),
      (2L, ""),
      (3L, "AB")
    ).toDF("doc_id", "text")
    val v = Seq("a" -> 2500L, "b" -> 3200L, "c" -> 3200L, "ab" -> 4000L)
    val r = Unigram.encode(docs, v)
      .orderBy("doc_id")
      .as[(Long, Int, Int, String)].collect().toSeq
    assert(r == Seq(
      (1L, 5, 1, "ab,ab,c,x,b"),        // "ab"->[ab]; "abc"->[ab,c]; "xb"->[x,b]
      (2L, 0, 0, ""),
      (3L, 1, 0, "ab")))                 // lowercased by normalizedWords
  }

  test("encode runs the segmenter on the distinct-word frame and ships " +
    "the vocabulary as plan-time state (no vocab join)") {
    val docs = (1L to 50L).map(i => (i, "same words every doc"))
      .toDF("doc_id", "text")
    val v = Seq("s" -> 1000L, "a" -> 1000L, "me" -> 1000L)
    val qe = Unigram.encode(docs, v).queryExecution
    // the segmenter is a native expression over the distinct-word
    // frame (vocab rides inside it - no vocab-side join input exists)
    assert(qe.optimizedPlan.toString.contains("unigram_segment"),
      qe.optimizedPlan.toString)
    val plan = qe.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("train seeds from substring counts, prunes per round, and keeps " +
    "all used single chars") {
    val docs = Seq(
      (1L, "banana banana banana band"),
      (2L, "banana bandana"),
      (3L, "ana ana nab")
    ).toDF("doc_id", "text")
    val out = Unigram.train(docs, rounds = 2, maxPieceLen = 3, keepTop = 8)
      .as[(String, Long)].collect().toMap
    // every corpus letter that the final segmentation uses must be kept
    assert(out.keys.exists(_.length > 1), s"no multi-char piece kept: $out")
    // all pieces segment corpus words (counts are positive usage)
    assert(out.values.forall(_ > 0))
    // determinism: re-run gives the identical vocabulary
    val out2 = Unigram.train(docs, rounds = 2, maxPieceLen = 3, keepTop = 8)
      .as[(String, Long)].collect().toMap
    assert(out == out2)
  }

  test("train's prune is distributed: TakeOrdered top-k, so the driver " +
    "collects <= kMulti + alphabet rows of any corpus-sized count frame") {
    // 26 singles + 5000 multi-char pieces: far more than kMulti, the
    // shape of the seed-substring frame train prunes BEFORE collecting
    val counts = (('a' to 'z').map(c => (c.toString, 100L)) ++
      (1 to 5000).map(i => (f"mp$i%05d", i.toLong))).toDF("piece", "n")
    val pruned = Unigram.prune(counts, 50)
    assert(pruned.count() == 26 + 50)
    // top-k multi pieces by (n DESC, piece ASC): the 50 largest n win
    val multiKept = pruned.filter(length($"piece") > 1)
      .as[(String, Long)].collect().toSeq
    assert(multiKept.map(_._2).min == 4951L, multiKept.map(_._2).min)
    // the limit plans as a distributed TakeOrdered, never a global
    // sort + CollectLimit of the full frame (the r10 seed-collect bug)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.contains("CollectLimit"), plan)
  }

  test("costOf is the integer-quantized negative log-prob") {
    assert(Unigram.costOf(1, 1) == 0L)
    assert(Unigram.costOf(50, 100) == math.round(-1000.0 * math.log(0.5)))
    assert(Unigram.costOf(1, 1000) == math.round(1000.0 * math.log(1000.0)))
  }
}
