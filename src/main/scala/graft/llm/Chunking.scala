package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Token-window document chunking - the prep stage that turns variable
  * length documents into fixed-size overlapping windows for embedding /
  * retrieval pipelines (and the context-window slicing a pretraining
  * tokenizer does before [[Packing]] concatenates).
  *
  * Chunks are `chunkSize` tokens with `overlap` tokens shared between
  * neighbours (stride = chunkSize - overlap). A trailing window that
  * would contribute no new tokens (start >= n - overlap) is not
  * emitted, so every token appears in at least one chunk and no chunk
  * is a subset of its predecessor; a document shorter than one stride
  * still yields exactly one chunk.
  *
  * Scale contract: pure map-side explode - O(n_tokens / stride) output
  * rows per document, no shuffle, no window, nothing on the driver.
  * Downstream embedding / ANN stages key on (doc_id, chunk_id), which
  * hash-partitions evenly regardless of document length skew.
  */
object Chunking {

  def chunkDocuments(df: DataFrame, idCol: String = "doc_id",
                     textCol: String = "text", chunkSize: Int = 64,
                     overlap: Int = 8): DataFrame = {
    require(chunkSize > 0 && overlap >= 0 && overlap < chunkSize,
      s"need 0 <= overlap < chunkSize: $overlap / $chunkSize")
    val step = chunkSize - overlap
    val toks = df.select(col(idCol),
        TextAnalysis.normalizedWords(col(textCol)).as("ws"))
      .filter(size(col("ws")) > 0)
    toks
      .select(col(idCol), col("ws"),
        explode(expr(
          s"sequence(0, greatest(size(ws) - $overlap - 1, 0), $step)"))
          .as("chunk_start"))
      .select(col(idCol),
        (col("chunk_start") / step).cast("int").as("chunk_id"),
        col("chunk_start"),
        expr(s"slice(ws, chunk_start + 1, $chunkSize)").as("cw"))
      .select(col(idCol), col("chunk_id"), col("chunk_start"),
        size(col("cw")).as("n_chunk_tokens"),
        array_join(col("cw"), " ").as("chunk_text"),
        lit(overlap).as("chunk_overlap"))
  }
}
