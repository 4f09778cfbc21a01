package graft

import org.apache.spark.sql.functions._

/** Equivalence pins for the two native candidate-pair verify
  * expressions added in the r17 optimization round, against the
  * interpreted HOF constructions they replaced (which the DuckDB
  * oracles still replay):
  *
  *  - [[graft.functions.HammingStr]] vs
  *    `size(filter(transform(sequence(1, n), i -> substr(a, i, 1) <>
  *    substr(b, i, 1)), x -> x))` - including the past-the-end
  *    convention (a position beyond a string's length reads as the
  *    empty string: differs from any real char, equals another
  *    past-the-end position) and a non-ASCII input exercising the
  *    char-vs-byte slice path.
  *
  *  - [[graft.functions.SigAgreeStr]] vs
  *    `size(filter(zip_with(a, b, (x, y) -> x = y), v -> v))` -
  *    including null signature positions (null never agrees, even with
  *    another null) and unequal lengths (zip_with's null padding).
  */
class HammingAgreeSpec extends SparkSpec {
  import spark.implicits._

  private def hofHamming(a: org.apache.spark.sql.Column,
                         b: org.apache.spark.sql.Column, n: Int) =
    size(filter(transform(sequence(lit(1), lit(n)),
      i => a.substr(i, lit(1)) =!= b.substr(i, lit(1))), x => x))

  private def nativeHamming(a: org.apache.spark.sql.Column,
                            b: org.apache.spark.sql.Column, n: Int) =
    org.apache.spark.sql.GraftSqlBridge.column(
      graft.functions.HammingStr(
        org.apache.spark.sql.GraftSqlBridge.expression(a),
        org.apache.spark.sql.GraftSqlBridge.expression(b), n))

  test("hamming_str == HOF formulation, incl. length and unicode corners") {
    val rows = Seq(
      ("0101010101010101", "0101010101010101"), // equal
      ("0101010101010101", "1010101010101010"), // all differ
      ("0000111100001111", "0000111100001110"), // 1 diff
      ("0101", "0101010101010101"),             // short left
      ("0101010101010101", ""),                 // empty right
      ("", ""),                                 // both empty
      ("ä0101ß010", "ä0101ss10"),               // non-ASCII slices
      ("é", "e")                                // single unicode char
    ).toDF("a", "b")
    val got = rows.select(
      hofHamming(col("a"), col("b"), 16).as("hof"),
      nativeHamming(col("a"), col("b"), 16).as("nat")).collect()
    got.foreach { r =>
      assert(r.getInt(0) == r.getInt(1), s"hamming mismatch: $r")
    }
    // teeth: the pin fails if the convention is wrong
    assert(rows.select(nativeHamming(col("a"), col("b"), 16))
      .collect().map(_.getInt(0)).toSeq == Seq(0, 16, 1, 12, 16, 0, 2, 1))
  }

  private def hofAgree(a: org.apache.spark.sql.Column,
                       b: org.apache.spark.sql.Column) =
    size(filter(zip_with(a, b, (x, y) => x === y), v => v))

  private def nativeAgree(a: org.apache.spark.sql.Column,
                          b: org.apache.spark.sql.Column) =
    org.apache.spark.sql.GraftSqlBridge.column(
      graft.functions.SigAgreeStr(
        org.apache.spark.sql.GraftSqlBridge.expression(a),
        org.apache.spark.sql.GraftSqlBridge.expression(b)))

  test("sig_agree_str == HOF formulation, incl. nulls and length skew") {
    val rows = Seq(
      (Seq[String]("a", "b", "c"), Seq[String]("a", "b", "c")),   // 3
      (Seq[String]("a", "b", "c"), Seq[String]("a", "x", "c")),   // 2
      (Seq[String](null, "b"), Seq[String](null, "b")),           // null != null -> 1
      (Seq[String]("a", null), Seq[String]("a", "b")),            // 1
      (Seq[String]("a", "b", "c"), Seq[String]("a")),             // padding -> 1
      (Seq.empty[String], Seq[String]("a"))                       // 0
    ).toDF("a", "b")
    val got = rows.select(hofAgree(col("a"), col("b")).as("hof"),
      nativeAgree(col("a"), col("b")).as("nat")).collect()
    got.foreach { r =>
      assert(r.getInt(0) == r.getInt(1), s"agree mismatch: $r")
    }
    assert(rows.select(nativeAgree(col("a"), col("b")))
      .collect().map(_.getInt(0)).toSeq == Seq(3, 2, 1, 1, 1, 0))
  }
}
