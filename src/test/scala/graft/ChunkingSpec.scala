package graft

import graft.llm.{Chunking, TextAnalysis}
import org.apache.spark.sql.functions._

/** Chunking invariants: hand-computed windows, losslessness via the
  * coverage frame, the no-subset-trailing-chunk rule, and the funnel's
  * consistency with the per-doc filter verdicts. */
class ChunkingSpec extends SparkSpec {
  import spark.implicits._

  test("chunkDocuments: hand-computed windows at size 4 overlap 1") {
    // 9 tokens, stride 3: starts 0,3,6 -> [t1..t4][t4..t7][t7..t9]
    val docs = Seq((1L, (1 to 9).map("t" + _).mkString(" ")))
      .toDF("doc_id", "text")
    val r = Chunking.chunkDocuments(docs, chunkSize = 4, overlap = 1)
      .select("chunk_id", "chunk_start", "n_chunk_tokens", "chunk_text")
      .as[(Int, Int, Int, String)].collect().sortBy(_._1)
    assert(r.toSeq == Seq(
      (0, 0, 4, "t1 t2 t3 t4"),
      (1, 3, 4, "t4 t5 t6 t7"),
      (2, 6, 3, "t7 t8 t9")))
  }

  test("trailing window with no new tokens is not emitted; short doc = 1 chunk") {
    // 5 tokens, size 4, overlap 2, stride 2: starts 0,2 (start 4 would
    // add nothing beyond overlap); 2-token doc -> single chunk
    val docs = Seq((1L, "a b c d e"), (2L, "x y")).toDF("doc_id", "text")
    val r = Chunking.chunkDocuments(docs, chunkSize = 4, overlap = 2)
      .groupBy("doc_id").agg(count(lit(1)).as("n"))
      .as[(Long, Long)].collect().toMap
    assert(r == Map(1L -> 2L, 2L -> 1L))
  }

  test("curationFunnel totals equal the per-doc filter verdicts") {
    val docs = Seq(
      (1L, "s1", "the cat sat on the mat and it was good for all of us"),
      (2L, "s1", "x"), // too_few_words
      (3L, "s2", (1 to 40).map(_ => "9999").mkString(" ")) // no stopwords path
    ).toDF("doc_id", "source", "text")
    val funnel = TextAnalysis.curationFunnel(docs)
      .select("source", "outcome", "n_docs").as[(String, String, Long)]
      .collect().toSet
    val verdicts = TextAnalysis.withQualityFilter(docs)
      .select(col("source"), coalesce(col("drop_reason"), lit("kept")).as("o"))
      .groupBy("source", "o").agg(count(lit(1)).as("n"))
      .as[(String, String, Long)].collect().toSet
    assert(funnel == verdicts)
    assert(funnel.exists { case (s, o, _) => s == "s1" && o == "too_few_words" })
  }
}
