package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Mergeable frequency/cardinality sketches and corpus-statistics
  * scores for training-data curation at 100 TB:
  *
  *  - [[hllReport]]: HyperLogLog distinct-count registers per stratum
  *    (Flajolet et al. 2007). The register frame is `m = 2^p` rows per
  *    stratum regardless of input size, built with ONE map-side-combined
  *    max aggregation - the canonical "sketch, don't count" primitive a
  *    100 TB per-source distinct-token dashboard needs. Registers merge
  *    by `max`, so partial sketches from independent jobs/days combine
  *    without rescanning (the property that makes the sketch, not the
  *    exact `count(DISTINCT)`, the production path: exact distinct at
  *    100 TB is a full shuffle of every token occurrence).
  *  - [[hllEstimate]]: the standard bias-corrected harmonic-mean
  *    estimate with linear-counting fallback, computed from the report's
  *    exact integers (driver-safe: operates on m-row frames).
  *  - [[cmsSketch]] / [[cmsHeavyHitterCheck]]: Count-Min sketch (Cormode
  *    & Muthukrishnan 2005) - a fixed `depth x width` grid of counters,
  *    mergeable by cell-wise sum, plus the point-query check that
  *    reports estimated vs true counts for the exact top-k terms
  *    (est >= true always; the gap is the collision overestimate).
  *  - [[tfidfTopTerms]]: per-stratum top-k distinctive terms by
  *    tf x idf - the "what is this source about" report behind corpus
  *    card summaries.
  *  - [[pmiCollocations]]: top-k bigram collocations by pointwise mutual
  *    information over the bigram-event space - the phrase-mining signal
  *    (Church & Hanks 1990) used to spot boilerplate and template
  *    phrases.
  *
  * Determinism contract (registry-oracle-exact, same convention as
  * [[LmScore]]): all hashing is md5-derived so any engine reproduces the
  * bucket assignment - `h60(x)` is the first 15 md5 hex chars parsed as
  * a 60-bit nonnegative integer. HLL register contents, harmonic sums
  * (held as `2^(Z-M)` integer terms), and CMS cells are pure integer
  * arithmetic - no floats anywhere in the sketch state. tf-idf / PMI
  * quantize each `ln` to integer micro-nats BEFORE any cross-row use,
  * so ranking and aggregation are exact integer operations.
  *
  * Scale contract: every operator is one explode + one map-side-combined
  * aggregation to a bounded-size frame (m rows per stratum; depth*width
  * cells; |vocab| term rows). No data-sized driver collect, no window
  * over an unbounded partition, no cross join. Reference framing: the
  * reference pipeline's counter pools (SURVEY A5/A6) are exact scalar
  * counts; these are their sub-linear-state analogues for corpus scale.
  */
object Sketches {

  /** 60-bit nonnegative integer from the first 15 md5 hex chars of
    * (portable across engines: DuckDB `('0x'||substr(md5(x),1,15))::BIGINT`). */
  private def h60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  // ---------------------------------------------------------------- HLL

  /** The (bucket, rho) column pair for one value under precision `p`. */
  private def hllBucketRho(value: Column, p: Int): (Column, Column) = {
    require(p >= 4 && p <= 16, s"p in [4,16]: $p")
    val rem = 60 - p // bits left after the bucket index
    val h = h60(value)
    val remBits = h.bitwiseAND(lit((1L << rem) - 1L))
    (shiftright(h, rem),
      when(remBits === 0L, lit(rem + 1))
        .otherwise(lit(rem + 1) - length(bin(remBits))))
  }

  /** Per-stratum HyperLogLog registers: (stratum, bucket, m_j) where
    * bucket = top `p` bits of h60(value) and m_j = max over values of
    * rho (1 + leading-zero count of the remaining `60-p` bits).
    * At most `2^p` rows per stratum; merge two register frames with
    * `groupBy(stratum, bucket).agg(max(m_j))`. */
  def hllRegisters(df: DataFrame, strataCol: String, value: Column,
                   p: Int = 10): DataFrame = {
    val (bucket, rho) = hllBucketRho(value, p)
    df.select(col(strataCol), bucket.as("bucket"), rho.as("rho"))
      .groupBy(col(strataCol), col("bucket"))
      .agg(max(col("rho")).as("m_j"))
  }

  /** Collapse [[hllRegisters]] to one exact-integer row per stratum:
    * (stratum, m, nonzero_registers, harmonic_scaled) with
    * harmonic_scaled = sum over ALL m registers of `2^(Z - M_j)` for
    * Z = 61 - p (absent registers contribute M = 0, i.e. `2^Z`). The
    * sum is bounded by `m * 2^Z = 2^61` - exact in a BIGINT in any
    * engine. These two integers fully determine the HLL estimate;
    * [[hllEstimate]] does the float step. */
  def hllReport(df: DataFrame, strataCol: String, value: Column,
                p: Int = 10): DataFrame = {
    val z = 61 - p
    val m = 1 << p
    hllRegisters(df, strataCol, value, p)
      .groupBy(col(strataCol))
      .agg(count(lit(1)).as("nonzero_registers"),
        // 2^(Z - M_j) as an exact BIGINT; functions.shiftleft only
        // accepts a literal shift, so the column-shift goes through expr
        sum(expr(s"shiftleft(CAST(1 AS BIGINT), $z - m_j)"))
          .as("present_sum"))
      .select(col(strataCol), lit(m).as("m"),
        col("nonzero_registers"),
        (col("present_sum") +
          (lit(m.toLong) - col("nonzero_registers")) * lit(1L << z))
          .as("harmonic_scaled"))
  }

  /** Bias-corrected cardinality estimate from a [[hllReport]] frame:
    * E = alpha_m * m^2 / (harmonic_scaled / 2^Z), with the standard
    * small-range linear-counting fallback m*ln(m/zeros) when E <= 2.5m
    * and zero registers exist. Adds `est_distinct` (double). */
  def hllEstimate(report: DataFrame, p: Int = 10): DataFrame = {
    val m = (1 << p).toDouble
    val alpha =
      if (p == 4) 0.673 else if (p == 5) 0.697
      else if (p == 6) 0.709 else 0.7213 / (1.0 + 1.079 / m)
    val z = 61 - p
    val raw = lit(alpha * m * m * math.pow(2.0, z)) / col("harmonic_scaled")
    val zeros = lit(m) - col("nonzero_registers")
    report.withColumn("est_distinct",
      when(raw <= 2.5 * m && zeros > 0, lit(m) * log(lit(m) / zeros))
        .otherwise(raw))
  }

  // ---------------------------------------------------------- Count-Min

  /** Count-Min sketch of a value stream: `depth` independent md5-seeded
    * hash rows x `width` counters. Output (d, c, cnt) - at most
    * depth*width rows, mergeable by cell-wise sum. One explode (factor
    * `depth`) + one map-side-combined count. */
  def cmsSketch(df: DataFrame, value: Column, depth: Int = 4,
                width: Int = 512): DataFrame = {
    require(depth >= 1 && depth <= 8 && width >= 16,
      s"depth in [1,8], width >= 16: $depth x $width")
    // collapse to the (value, count) vocabulary frame FIRST (map-side
    // combined), so the depth explode and md5 digests run once per
    // DISTINCT value, not once per occurrence - at corpus scale the
    // vocabulary is orders of magnitude smaller than the token stream
    cmsFromVocab(
      df.select(value.as("v")).groupBy(col("v")).agg(count(lit(1)).as("vc")),
      depth, width)
  }

  private def cmsFromVocab(vocab: DataFrame, depth: Int,
                           width: Int): DataFrame =
    vocab
      .select(col("vc"),
        explode(sequence(lit(0), lit(depth - 1))).as("d"),
        col("v"))
      .select(col("d"), col("vc"),
        pmod(h60(concat(col("d").cast("string"), lit("|"), col("v"))),
          lit(width.toLong)).as("c"))
      .groupBy(col("d"), col("c")).agg(sum(col("vc")).as("cnt"))

  /** Point-query acceptance check: for the exact top-k values by true
    * count (tie-break: value ascending), report the CMS estimate
    * (min over depth rows of the addressed cells) next to the truth.
    * `cms_est >= true_cnt` by construction; equality iff no collision.
    * The top-k truth frame is tiny and broadcast against the
    * depth*width-row sketch - nothing data-sized moves. */
  def cmsHeavyHitterCheck(df: DataFrame, value: Column, k: Int = 20,
                          depth: Int = 4, width: Int = 512): DataFrame = {
    // one vocabulary aggregation feeds both the sketch build and the
    // exact top-k truth (AQE reuses the exchange)
    val vocab = df.select(value.as("v"))
      .groupBy(col("v")).agg(count(lit(1)).as("vc"))
    val sketch = cmsFromVocab(vocab, depth, width)
    val top = vocab.withColumnRenamed("vc", "true_cnt")
      .orderBy(col("true_cnt").desc, col("v")).limit(k)
    val probes = top
      .select(col("v"), col("true_cnt"),
        explode(sequence(lit(0), lit(depth - 1))).as("d"))
      .select(col("v"), col("true_cnt"), col("d"),
        pmod(h60(concat(col("d").cast("string"), lit("|"), col("v"))),
          lit(width.toLong)).as("c"))
    broadcast(probes).join(sketch, Seq("d", "c"))
      .groupBy(col("v"), col("true_cnt"))
      .agg(min(col("cnt")).as("cms_est"))
      .select(col("v"), col("true_cnt"), col("cms_est"),
        (col("cms_est") - col("true_cnt")).as("overestimate"))
  }

  // -------------------------------------------------------------- tf-idf

  /** Per-stratum top-k distinctive terms by tf-idf: tf = term
    * occurrences within the stratum, idf_micro = round(1e6 * ln(N/df))
    * with N = number of tokenized docs and df = distinct docs containing
    * the term. score_micro = tf * idf_micro (exact integer); rank by
    * (score desc, term asc) per stratum.
    *
    * Plan: one explode + two map-side-combined counts (per-stratum tf;
    * per-term df via distinct (doc, term)), a broadcast of the 1-row N
    * frame and of the |vocab|-row idf table, then a TWO-LEVEL top-k:
    * per-(stratum, hash-shard) window first (64-way parallel, no
    * single task ever sees a stratum's whole vocabulary), then the
    * final per-stratum window over the <= 64*k survivors - the same
    * shard discipline [[Packing]] uses for its prefix sums. Top-k
    * global is a subset of the union of per-shard top-k, so the result
    * is exact. */
  def tfidfTopTerms(df: DataFrame, strataCol: String = "source",
                    idCol: String = "doc_id", textCol: String = "text",
                    k: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = df.select(col(strataCol), col(idCol),
        TextAnalysis.normalizedWords(col(textCol)).as("ws"))
      .filter(size(col("ws")) > 0)
    val occ = toks.select(col(strataCol), col(idCol),
      explode(col("ws")).as("w"))
    val nDocs = toks.agg(count(lit(1)).as("n"))
    val dfreq = occ.select(col(idCol), col("w")).distinct()
      .groupBy(col("w")).agg(count(lit(1)).as("df_docs"))
    val idf = dfreq.crossJoin(broadcast(nDocs))
      .select(col("w"), col("df_docs"),
        round(log(col("n").cast("double") / col("df_docs").cast("double"))
          * 1e6).cast("long").as("idf_micro"))
    val tf = occ.groupBy(col(strataCol), col("w"))
      .agg(count(lit(1)).as("tf"))
    val scored = tf.join(idf, Seq("w"))
      .select(col(strataCol), col("w"), col("tf"), col("df_docs"),
        (col("tf") * col("idf_micro")).as("score_micro"))
    val shardWin = Window
      .partitionBy(col(strataCol), pmod(h60(col("w")), lit(64L)))
      .orderBy(col("score_micro").desc, col("w"))
    val survivors = scored
      .withColumn("srnk", row_number().over(shardWin))
      .filter(col("srnk") <= k).drop("srnk")
    val win = Window.partitionBy(col(strataCol))
      .orderBy(col("score_micro").desc, col("w"))
    survivors.withColumn("rnk", row_number().over(win))
      .filter(col("rnk") <= k)
  }

  // -------------------------------------------------- hashed tf-idf vecs

  /** Sparse hashed tf-idf features per document: bucket = h60(word) mod
    * `dim`, value = sum over the bucket's words of tf_in_doc *
    * idf_milli with idf_milli = round(1e3 * ln(N/df)) - the hashing
    * vectorizer (Weinberger et al. 2009) that turns text into
    * fixed-dimension features without a vocabulary dictionary. MILLI
    * (not micro) quantization keeps the downstream 64-dim integer dot
    * products safely inside BIGINT (entries <= ~1e6, dots <= ~1e14).
    * Output: (id, bucket, v) sparse rows - zeros never materialize.
    *
    * One explode + two map-side-combined counts + a broadcast idf
    * attach; the sparse frame is what similarity search joins on.
    *
    * Tried and REJECTED (r17): deriving df_docs/nDocs from the (id, w)
    * tf aggregation (one corpus tokenize instead of three) measured
    * q_t_hash_vectors 2.03 -> 3.07 s (4-pass min, same boot) - the
    * count-distinct over the tf frame adds its own two-phase shuffle
    * and the broadcast builds stop sharing the scan stages, costing
    * more than the tokenize passes saved. The three-pass form stands. */
  def hashedTfidfSparse(df: DataFrame, idCol: String = "doc_id",
                        textCol: String = "text", dim: Int = 64): DataFrame = {
    require(dim >= 2 && dim <= 4096, s"dim in [2,4096]: $dim")
    val toks = df.select(col(idCol).as("id"),
        TextAnalysis.normalizedWords(col(textCol)).as("ws"))
      .filter(size(col("ws")) > 0)
    val occ = toks.select(col("id"), explode(col("ws")).as("w"))
    val nDocs = toks.agg(count(lit(1)).as("n"))
    val idf = occ.select(col("id"), col("w")).distinct()
      .groupBy(col("w")).agg(count(lit(1)).as("df_docs"))
      .crossJoin(broadcast(nDocs))
      .select(col("w"),
        round(log(col("n").cast("double") / col("df_docs").cast("double"))
          * 1e3).cast("long").as("idf_milli"))
    occ.groupBy(col("id"), col("w")).agg(count(lit(1)).as("cnt"))
      .join(idf, Seq("w"))
      .select(col("id"), pmod(h60(col("w")), lit(dim.toLong)).as("bucket"),
        (col("cnt") * col("idf_milli")).as("wv"))
      .groupBy(col("id"), col("bucket")).agg(sum(col("wv")).as("v"))
      .filter(col("v") =!= 0L)
  }

  /** Dense vector frame for export/inspection: (id, vec_csv) with the
    * `dim` bucket values comma-joined in bucket order (CSV so the
    * oracle compare is a plain string). */
  def hashedTfidfVectors(df: DataFrame, idCol: String = "doc_id",
                         textCol: String = "text", dim: Int = 64): DataFrame =
    hashedTfidfSparse(df, idCol, textCol, dim)
      .groupBy(col("id"))
      .agg(map_from_entries(collect_list(struct(col("bucket"), col("v"))))
        .as("m"))
      .select(col("id").as(idCol),
        array_join(expr(s"transform(sequence(0, ${dim - 1})," +
          " b -> coalesce(element_at(m, CAST(b AS BIGINT)), 0))"), ",")
          .as("vec_csv"))

  /** Probe-set text similarity search over the hashed tf-idf features:
    * for each probe document, the top-k corpus documents by EXACT
    * integer dot product (descending, id ascending; self excluded).
    * The dot is computed sparsely - probe and corpus bucket rows
    * equi-join on the bucket key and combine map-side - so zeros cost
    * nothing and nothing dense ever shuffles; the probe side is tiny
    * and broadcast. Top-k uses the same two-level shard window as
    * [[tfidfTopTerms]], so no task ever sees a probe's full corpus
    * score list. */
  def textKnnByTfidf(df: DataFrame, probe: Column, k: Int = 5,
                     idCol: String = "doc_id", textCol: String = "text",
                     dim: Int = 64): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // NOT persisted (r16 A/B): both knn legs read the sparse vectors,
    // but their final exchanges are identical subtrees that Spark's
    // exchange reuse already deduplicates - a cache here measured +0.6 s
    // (materialization job + memory write, no recompute avoided).
    val sparse = hashedTfidfSparse(df, idCol, textCol, dim)
    val probes = sparse.join(
      broadcast(df.filter(probe).select(col(idCol).as("id")).distinct()),
      Seq("id"))
    val dots = broadcast(probes
        .select(col("id").as("probe_id"), col("bucket"), col("v").as("pv")))
      .join(sparse.select(col("id").as("doc_id2"), col("bucket"), col("v")),
        Seq("bucket"))
      .filter(col("probe_id") =!= col("doc_id2"))
      .groupBy(col("probe_id"), col("doc_id2"))
      .agg(sum(col("pv") * col("v")).as("dot"))
    val shardWin = Window
      .partitionBy(col("probe_id"),
        pmod(h60(col("doc_id2").cast("string")), lit(64L)))
      .orderBy(col("dot").desc, col("doc_id2"))
    val survivors = dots.withColumn("srnk", row_number().over(shardWin))
      .filter(col("srnk") <= k).drop("srnk")
    val win = Window.partitionBy(col("probe_id"))
      .orderBy(col("dot").desc, col("doc_id2"))
    survivors.withColumn("rnk", row_number().over(win))
      .filter(col("rnk") <= k)
      .select(col("probe_id"), col("doc_id2").as(idCol), col("dot"),
        col("rnk"))
  }

  // ----------------------------------------------------------------- PMI

  /** Top-k bigram collocations by PMI over the bigram-event space:
    * pmi_micro = round(1e6 * ln(c_ab * N / (c_a* * c_*b))) where N is
    * the total bigram count and the marginals are bigram-position
    * counts; candidates require c_ab >= minCount. Rank by
    * (pmi desc, prev, w).
    *
    * Plan: positional bigram stream (O(doc length) rows, no O(L^2)
    * retention), three map-side-combined counts, broadcast marginal
    * tables (|vocab|-row). The global top-k is `orderBy(...).limit(k)`
    * - Spark's TakeOrderedAndProject (per-partition heap + driver merge
    * of k*partitions rows), NOT a single-task global window; the rank
    * column is then a window over the k-row result only. */
  def pmiCollocations(df: DataFrame, textCol: String = "text",
                      minCount: Long = 5L, k: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = df.select(TextAnalysis.normalizedWords(col(textCol)).as("ws"))
      .filter(size(col("ws")) >= 2)
    val bg = toks.select(explode(expr(
        "transform(sequence(0, size(ws) - 2)," +
          " i -> struct(ws[i] AS prev, ws[i + 1] AS w))")).as("b"))
      .select(col("b.prev").as("prev"), col("b.w").as("w"))
    val cab = bg.groupBy(col("prev"), col("w")).agg(count(lit(1)).as("c_ab"))
    val ca = bg.groupBy(col("prev")).agg(count(lit(1)).as("c_a"))
    val cb = bg.groupBy(col("w")).agg(count(lit(1)).as("c_b"))
    val n = bg.agg(count(lit(1)).as("n"))
    val cand = cab.filter(col("c_ab") >= minCount)
      .join(broadcast(ca), Seq("prev"))
      .join(broadcast(cb), Seq("w"))
      .crossJoin(broadcast(n))
      .select(col("prev"), col("w"), col("c_ab"),
        round(log(col("c_ab").cast("double") * col("n").cast("double")
          / (col("c_a").cast("double") * col("c_b").cast("double")))
          * 1e6).cast("long").as("pmi_micro"))
    val topK = cand
      .orderBy(col("pmi_micro").desc, col("prev"), col("w")).limit(k)
    val win = Window.orderBy(col("pmi_micro").desc, col("prev"), col("w"))
    topK.withColumn("rnk", row_number().over(win))
  }
}
