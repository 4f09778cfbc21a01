package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The end-to-end LLM training-data preparation flow, composed from
  * the individually-oracled deterministic stages:
  *
  *   scrub (PII/URL placeholders) -> quality filter (C4/Gopher rules
  *   on the SCRUBBED text) -> exact normalized dedup (keep lowest id
  *   per hash) -> content-hash split assignment -> per-source
  *   stratified sampling.
  *
  * Every stage is a pure function of document content, so the whole
  * flow is reproducible run-to-run and engine-to-engine - the
  * registered q_llm_prep_e2e query is DuckDB-oracled END TO END, not
  * just per stage. (The near-dup LSH stages are deliberately outside
  * this flow: they are hash-seeded approximations pinned by their own
  * brute-force ground-truth tests.)
  *
  * Scale: stages 1-2 and 4-5 are pure map work; the only shuffle is
  * the dedup's hash partition on norm_md5 (high-cardinality 16-byte
  * key, no skew; the per-key window touches ~1 row). Nothing is
  * collected; the selection flags ride with the rows.
  */
object PrepPipeline {

  def run(docs: DataFrame,
          rates: Map[String, Double] = Map.empty,
          defaultRate: Double = 1.0,
          thresholds: TextAnalysis.QualityThresholds =
            TextAnalysis.QualityThresholds(),
          idCol: String = "doc_id",
          strataCol: String = "source"): DataFrame = {
    // persisted: `scrubbed` is a 3-regex computed column that the
    // quality features reference ~15 times; Catalyst's project collapse
    // inlines the producer per reference, turning 3 regex passes into
    // ~45 per row. Materializing once is the same stage barrier a
    // production run gets from writing the scrubbed corpus out
    // (measured 6.0s -> 1.85s at sf0.1). The cache lives as long as
    // the session; a registry query releases it on exit (graft.Scope).
    val scrubbed = TextAnalysis.withScrubbedText(docs).persist()
    val filtered = TextAnalysis
      .withQualityFilter(scrubbed, "scrubbed", thresholds)
      .filter(col("keep") === 1)
    val w = Window.partitionBy(col("norm_md5")).orderBy(col(idCol))
    val deduped = filtered.withColumn("norm_md5", Dedup.normMd5(col("scrubbed")))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
    val split = Splitting.assignSplit(deduped, contentCol = "scrubbed")
    Splitting.sampleStratified(split, rates, strataCol, "scrubbed",
        defaultRate = defaultRate)
      .select(col(idCol), col(strataCol), col("split"), col("kept"),
        col("n_urls"), col("n_emails"), col("n_ips"))
  }
}
