package graft

import org.apache.spark.sql.functions._

/** Equivalence pin for the native [[graft.functions.NgramPosArray]]
  * gram-position stream against the SQL formulation it replaced
  * (TextAnalysis.normalizedWords + transform/slice/array_join over an
  * index sequence, filtered to docs with >= n words). The span-family
  * DuckDB oracles replay the SQL construction, so this pin is the local
  * fast-fail for the same contract. */
class NgramPosSpec extends SparkSpec {
  import spark.implicits._

  private def sqlGrams(df: org.apache.spark.sql.DataFrame, n: Int) =
    df.select(col("id"),
        graft.llm.TextAnalysis.normalizedWords(col("text")).as("__ws"))
      .filter(size(col("__ws")) >= n)
      .select(col("id"), explode(transform(
        sequence(lit(0L), size(col("__ws")) - n),
        i => struct(i.as("pos"),
          array_join(slice(col("__ws"), (i + 1).cast("int"), lit(n)), " ")
            .as("gram")))).as("__pg"))
      .select(col("id"), col("__pg.pos").as("pos"), col("__pg.gram").as("gram"))

  private def nativeGrams(df: org.apache.spark.sql.DataFrame, n: Int) =
    df.select(col("id"), explode(
        org.apache.spark.sql.GraftSqlBridge.column(
          graft.functions.NgramPosArray(
            org.apache.spark.sql.GraftSqlBridge.expression(col("text")), n)))
        .as("__pg"))
      .select(col("id"), col("__pg.pos").as("pos"), col("__pg.gram").as("gram"))

  test("native gram positions == SQL formulation on tokenizer corners") {
    val docs = Seq(
      (1L, "one two three four five six seven"),
      (2L, "  Leading And   Trailing  \t whitespace\n runs  here \r ok "),
      (3L, ""),                       // empty -> no grams
      (4L, "   \t\n  "),              // whitespace-only -> no grams
      (5L, "short doc"),              // < n words -> no grams
      (6L, "MIXED case ÉTÉ Straße ÅNGSTRÖM unicode lower"),
      (7L, "a b c d e f"),       // NBSP is NOT \s: stays inside a token
      (8L, "dup dup dup dup dup dup dup"),
      (9L, null.asInstanceOf[String]) // null text -> no grams
    ).toDF("id", "text")
    for (n <- Seq(2, 5)) {
      val expected = sqlGrams(docs, n).collect().map(_.toSeq).toSet
      val actual = nativeGrams(docs, n).collect().map(_.toSeq).toSet
      assert(actual == expected, s"n=$n gram mismatch")
    }
  }

  test("teeth: a tokenizer that dropped unicode lowercasing would fail") {
    val docs = Seq((1L, "ÉTÉ ete x y z")).toDF("id", "text")
    val grams = nativeGrams(docs, 2).orderBy("pos").as[(Long, Long, String)]
      .collect()
    assert(grams.head._3 == "été ete",
      s"unicode lowercase must match Spark's lower(): ${grams.head}")
  }
}
