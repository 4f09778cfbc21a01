package graft

import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.functions._
import graft.functions.BpeSegment
import graft.llm.TextAnalysis

/** The native BpeSegment expression must be bit-identical to the
  * nested-replace chain it replaces for large tables - including on
  * ill-formed tables (duplicate pairs, later rules re-creating earlier
  * operands) where the sequential round order is observable. */
class BpeSegmentSpec extends SparkSpec {
  import spark.implicits._

  private val sep = ""

  private def chainCol(w: Column, merges: Seq[(String, String)]): Column = {
    val seg0 = regexp_replace(w, "(.)", s"$sep$$1$sep")
    val segN = merges.foldLeft(seg0) { case (acc, (l, r)) =>
      org.apache.spark.sql.functions.replace(
        acc, lit(s"$sep$l$sep$sep$r$sep"), lit(s"$sep$l$r$sep"))
    }
    split(regexp_replace(segN, s"^$sep|$sep$$", ""), s"$sep$sep")
  }

  private def nativeCol(w: Column, merges: Seq[(String, String)]): Column =
    GraftSqlBridge.column(BpeSegment(GraftSqlBridge.expression(w), merges))

  private def checkEquiv(words: Seq[String], merges: Seq[(String, String)]): Unit = {
    val df = words.toDF("w")
    val got = df.select(col("w"), nativeCol(col("w"), merges).as("n"),
        chainCol(col("w"), merges).as("c"))
      .as[(String, Seq[String], Seq[String])].collect()
    for ((w, n, c) <- got)
      assert(n == c, s"word '$w': native $n != chain $c (merges $merges)")
  }

  private val trickyWords = Seq("a", "aa", "aaa", "aaaa", "aaaaa", "ab",
    "abab", "ababab", "abc", "abcd", "ba", "bab", "cab", "abba", "xyz",
    "the", "there", "theater", "aabbaabb", "mississippi")

  test("self-merge and repeat patterns match the chain") {
    checkEquiv(trickyWords, Seq(("a", "a")))
    checkEquiv(trickyWords, Seq(("a", "a"), ("aa", "aa")))
    checkEquiv(trickyWords, Seq(("a", "b"), ("ab", "ab")))
    checkEquiv(trickyWords, Seq(("b", "a"), ("a", "ba")))
  }

  test("ill-formed tables: sequential round order is preserved") {
    // later rule re-creates an earlier rule's operand: (ab,c) precedes
    // (a,b), so "abc" must stay [ab, c] (rank-greedy would give [abc])
    checkEquiv(Seq("abc", "abcabc", "aabc"), Seq(("ab", "c"), ("a", "b")))
    // duplicate pair: second copy applies at its own position
    checkEquiv(Seq("abab", "aab"), Seq(("a", "b"), ("a", "b")))
    checkEquiv(Seq("abcabc"),
      Seq(("ab", "c"), ("a", "b"), ("ab", "c"), ("b", "c")))
  }

  test("randomized words and tables match the chain (80 rules)") {
    val rnd = new scala.util.Random(17)
    val words = (1 to 300).map(_ =>
      (1 to (1 + rnd.nextInt(12))).map(_ => ('a' + rnd.nextInt(4)).toChar)
        .mkString)
    // 80 pseudo-random rules over {a..d} plus products of earlier rules
    val syms = scala.collection.mutable.ArrayBuffer("a", "b", "c", "d")
    val merges = (1 to 80).map { _ =>
      val l = syms(rnd.nextInt(syms.size)); val r = syms(rnd.nextInt(syms.size))
      if (syms.size < 40) syms += (l + r)
      (l, r)
    }
    checkEquiv(words.distinct, merges)
  }

  test("code points outside the BMP segment as single base symbols") {
    checkEquiv(Seq("a😀b", "😀😀"),
      Seq(("😀", "😀"), ("a", "😀")))
  }

  test("bpeEncode ids are unchanged when no-op rules push the table " +
    "past 64 (native path vs chain path end-to-end)") {
    val docs = Seq((1L, "aa ab abc the theater"), (2L, "mississippi aa aa"),
      (3L, ""), (4L, null: String)).toDF("doc_id", "text")
    val base = Seq(("a", "a"), ("a", "b"), ("ab", "c"), ("t", "h"),
      ("th", "e"), ("s", "s"), ("i", "ss"))
    // dummy rules over symbols absent from the corpus: same vocabulary
    // prefix, so every emitted id is identical; table size 71 forces
    // the BpeSegment path
    val dummies = (1 to 64).map(_ => ("§", "¶"))
    def run(m: Seq[(String, String)]) =
      TextAnalysis.bpeEncode(docs, m)
        .select(col("doc_id"), col("n_tokens"),
          col("token_ids").cast("array<int>"))
        .as[(Long, Int, Seq[Int])].collect().toSeq.sortBy(_._1)
    assert(run(base ++ dummies) == run(base))
  }
}
