package graft

import graft.functions.Exprs

class ExprsSpec extends SparkSpec {
  import spark.implicits._

  test("sourcePriority matches the reference CASE (Dao:879-890)") {
    val r = Seq("RGD", "Alliance", "HGNC", "NCBI", "other", null)
      .toDF("s").select(Exprs.sourcePriority($"s")).as[Int].collect()
    assert(r.toSeq == Seq(4, 3, 2, 1, 0, 0))
  }

  test("evidenceCount = 1 + commas; 0 for null/empty (Loader:580-588)") {
    val r = Seq("A", "A, B", "A, B, C", "", null).toDF("s")
      .select(Exprs.evidenceCount($"s")).as[Int].collect()
    assert(r.toSeq == Seq(1, 2, 3, 0, 0))
  }

  test("sanitizeEvidence dedupes and sorts (Parser:126-136)") {
    val r = Seq("OrthoDB,OrthoMCL,Ensembl,Ensembl").toDF("s")
      .select(Exprs.sanitizeEvidence($"s")).as[String].head()
    assert(r == "Ensembl, OrthoDB, OrthoMCL")
  }

  test("canonicalXrefDataSet rewrites only when shorter (Dao:447-459)") {
    val r = Seq(
      "B, A, B",   // dedupe+sort -> "A, B" (shorter) -> rewritten
      "B, A",      // reorder only, same length -> kept as-is
      "A",         // single token -> kept
      ""           // empty -> kept
    ).toDF("s").select(Exprs.canonicalXrefDataSet($"s")).as[String].collect()
    assert(r.toSeq == Seq("A, B", "B, A", "A", ""))
  }

  test("transliterateGreek maps the 15 codepoints incl. eta->lambda quirk") {
    val r = Seq("aΔb", "αβγδε", "ζηθικλμσ", "x€y").toDF("s")
      .select(Exprs.transliterateGreek($"s")).as[String].collect()
    assert(r(0) == "aDELTAb")
    assert(r(1) == "alphabetagammadeltaepsilon")
    // reference AgrTsvLoader.java:461-462 maps eta (951) to "lambda"
    assert(r(2) == "zetalambdathetaiotakappalambdamusigma")
    assert(r(3) == "xy") // unhandled >127 dropped
  }

  test("greek_translit is usable from SQL via function registration") {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "greek_translit",
      exprs => graft.functions.GreekTransliterate(exprs.head), "built-in")
    val r = spark.sql("SELECT greek_translit('TNFα-Δ42-η') AS s")
      .as[String].head()
    assert(r == "TNFalpha-DELTA42-lambda")
  }

  test("stripPrefixToInt parses RGD:12345 (AgrTsvLoader:346)") {
    val r = Seq("RGD:12345").toDF("s")
      .select(Exprs.stripPrefixToInt($"s", 4)).as[Int].head()
    assert(r == 12345)
  }

  test("sortAlgorithms sorts |-separated list (AgrTsvLoader:224-229)") {
    val r = Seq("Roundup|OMA|InParanoid").toDF("s")
      .select(Exprs.sortAlgorithms($"s")).as[String].head()
    assert(r == "InParanoid|OMA|Roundup")
  }

  test("orthologTypeKey: human pairs direct(11), others transitive(13)") {
    val r = Seq((1, 3), (3, 1), (2, 3)).toDF("a", "b")
      .select(Exprs.orthologTypeKey($"a", $"b")).as[Int].collect()
    assert(r.toSeq == Seq(11, 11, 13))
  }
}
