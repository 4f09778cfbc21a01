package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Statistical language-model scoring for training-data curation: the
  * model-based quality signals a large corpus pipeline runs alongside
  * the heuristic ones in [[TextAnalysis]].
  *
  *  - [[bigramLmScores]]: CCNet-style perplexity filtering - train an
  *    add-one-smoothed bigram LM on the corpus and score every document
  *    by average negative log-likelihood; low-ppl = fluent/common, very
  *    high-ppl = noise. (CCNet scores with a KenLM 5-gram; the bigram
  *    order keeps the count tables join-sized while exercising the
  *    identical train-then-score shape.)
  *  - [[dsirScores]]: DSIR-style importance weighting (Xie et al. 2023,
  *    "Data Selection for Language Models via Importance Resampling") -
  *    score each document by the log-likelihood ratio of a target-domain
  *    unigram model vs the raw-corpus model over HASHED token buckets,
  *    the signal importance resampling selects on.
  *  - [[sourceKlReport]]: per-stratum KL divergence of each source's
  *    unigram distribution from the corpus mixture - the drift dashboard
  *    that tells a mixing decision which source stopped looking like the
  *    rest of the diet.
  *
  * Determinism contract (shared by all three): every log-probability is
  * quantized to integer micro-nats (`round(ln(p) * 1e6)` as BIGINT; the
  * KL terms to pico-nats at 1e12) BEFORE any cross-row sum, so the
  * aggregates are exact integer arithmetic - order-independent and
  * engine-exact, immune to floating-point summation order. Spark's
  * `round` (BigDecimal HALF_UP) and DuckDB's `round` both round ties
  * away from zero, and the quantized inputs are ratios of exact integer
  * counts, so both engines quantize identically. The only doubles in the
  * output are final per-row divisions of those exact integers.
  *
  * Scale contract: counts collapse by token/bucket key with map-side
  * combine before any join; model-size frames (vocabulary stats, bucket
  * tables, per-source totals) are broadcast; nothing data-sized reaches
  * the driver. Per-document work explodes O(doc length) rows (the
  * bigram list is built positionally from the token array - no O(L^2)
  * array retention, no per-doc window shuffle).
  */
object LmScore {

  private val MicroNats = 1e6

  /** Tokenized non-empty docs: (id, ws) under the shared
    * [[TextAnalysis.normalizedWords]] definition. */
  private def tokenized(df: DataFrame, idCol: String, textCol: String) =
    df.select(col(idCol), TextAnalysis.normalizedWords(col(textCol)).as("ws"))
      .filter(size(col("ws")) > 0)

  /** Train an add-one-smoothed bigram LM on the corpus and score every
    * document by average negative log-likelihood under it.
    *
    * Model: p(w_1) = (c(w_1)+1)/(N+V); p(w_i|w_{i-1}) =
    * (c(w_{i-1} w_i)+1)/(c(w_{i-1})+V) with V = |vocabulary|,
    * N = total tokens. Output per doc: `n_tokens`, `micro_nll`
    * (exact total negative log-likelihood in integer micro-nats),
    * `avg_nll` = micro_nll/1e6/n_tokens rounded to 6, and
    * `ppl` = exp(avg) rounded to 4.
    *
    * Plan shape: two count aggregations (unigram, bigram - both
    * map-side combined, shuffled once on their key), a broadcast of the
    * 1-row (V, N) stats frame, and two equi-joins of the per-occurrence
    * streams against the count tables keyed by token/bigram (the same
    * dfreq-join posture as [[TextAnalysis.withCommonnessScore]], with
    * the same hot-term skew note). The bigram stream is built with
    * `transform` over index `sequence`s guarded by `size(ws) >= 2` -
    * `sequence(1, 0)` descends, the trap [[Splitting]] documents. */
  def bigramLmScores(df: DataFrame, idCol: String = "doc_id",
                     textCol: String = "text"): DataFrame = {
    // persisted (r16): toks feeds four branches (unigram counts, the
    // bigram stream, the first-token join, the length projection) and
    // uni three (the stats broadcast, first, cond) - unpersisted, every
    // broadcast build and branch replayed the scan+normalize (toks) or
    // the full unigram aggregation (uni). toks is O(docs) rows with the
    // word arrays, uni vocab-sized; released by the query's graft.Scope.
    val toks = tokenized(df, idCol, textCol).persist()

    val uni = toks.select(explode(col("ws")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cw"))
      .persist()
    val stats = uni.agg(count(lit(1)).as("v"),
      sum(col("cw")).cast("double").as("n"))

    // per-occurrence bigram stream, O(doc length) rows, array not kept
    val bg = toks.filter(size(col("ws")) >= 2)
      .select(col(idCol), explode(expr(
        "transform(sequence(0, size(ws) - 2)," +
          " i -> struct(ws[i] AS prev, ws[i + 1] AS w))")).as("b"))
      .select(col(idCol), col("b.prev").as("prev"), col("b.w").as("w"))
    val bi = bg.groupBy(col("prev"), col("w")).agg(count(lit(1)).as("cb"))

    // first token: micro-nats of the smoothed unigram start probability
    val first = toks.select(col(idCol), element_at(col("ws"), 1).as("w"))
      .join(uni, Seq("w"))
      .crossJoin(broadcast(stats))
      .select(col(idCol),
        round(log((col("cw") + 1.0) / (col("n") + col("v"))) * MicroNats)
          .cast("long").as("m"))

    // conditionals: micro-nats of each smoothed bigram probability
    val cond = bg
      .join(bi, Seq("prev", "w"))
      .join(uni.withColumnRenamed("w", "prev").withColumnRenamed("cw", "cp"),
        Seq("prev"))
      .crossJoin(broadcast(stats))
      .select(col(idCol),
        round(log((col("cb") + 1.0) / (col("cp") + col("v"))) * MicroNats)
          .cast("long").as("m"))

    val perDoc = first.unionByName(cond)
      .groupBy(col(idCol)).agg((-sum(col("m"))).as("micro_nll"))

    toks.select(col(idCol), size(col("ws")).as("n_tokens"))
      .join(perDoc, Seq(idCol))
      // tie-safe presentation: round(micro/1e6/n, 6) hits EXACT .5 ties
      // whenever 2*micro/n is odd (~1/n of rows), and Spark's
      // BigDecimal HALF_UP on the inexact double disagrees with
      // DuckDB's round there (caught by sf0.1 parity). The integer
      // half-away division is engine-exact; the final /1e6 is the same
      // double op on the same integer in both engines, never rounded.
      .withColumn("avg_nll", expr(
        "((micro_nll * 2 + n_tokens) DIV (n_tokens * 2)) / 1e6"))
      .withColumn("ppl", round(exp(col("avg_nll")), 4))
  }

  /** DSIR-style importance score: average per-token log-likelihood
    * ratio of a target-domain unigram model vs the raw-corpus model,
    * both over hashed token buckets (the hashed-n-gram feature space of
    * the DSIR paper; `hexChars` md5 hex characters = 16^hexChars
    * buckets). Positive `avg_llr` = looks more like the target than
    * like the average corpus document; importance resampling keeps a
    * document with probability proportional to exp(llr), and the
    * common hard variant is `keep = avg_llr > 0`, emitted here.
    *
    * md5 is the bucket hash so any engine reproduces the assignment
    * (the registry's cross-engine convention; xxhash64 stays the
    * in-Spark fast path elsewhere). Both bucket tables collapse to at
    * most 16^hexChars rows and broadcast; the corpus stream joins them
    * on the bucket key - a broadcast join per side, no shuffle of the
    * token stream at all. */
  def dsirScores(corpus: DataFrame, target: DataFrame,
                 idCol: String = "doc_id", textCol: String = "text",
                 hexChars: Int = 2): DataFrame = {
    require(hexChars >= 1 && hexChars <= 8, s"hexChars in [1,8]: $hexChars")
    val b = math.pow(16.0, hexChars.toDouble)

    def bucketStream(df: DataFrame) =
      tokenized(df, idCol, textCol)
        .select(col(idCol), explode(col("ws")).as("w"))
        .select(col(idCol), substring(md5(col("w")), 1, hexChars).as("bucket"))

    val raw = bucketStream(corpus)
    val rawCounts = raw.groupBy(col("bucket")).agg(count(lit(1)).as("cr"))
    val tgtCounts = bucketStream(target)
      .groupBy(col("bucket")).agg(count(lit(1)).as("ct"))

    // one broadcast model frame: bucket -> quantized llr of that bucket
    val nr = rawCounts.agg(sum(col("cr")).cast("double").as("nr"))
    val nt = tgtCounts.agg(sum(col("ct")).cast("double").as("nt"))
    val model = rawCounts
      .join(tgtCounts, Seq("bucket"), "left")
      .withColumn("ct", coalesce(col("ct"), lit(0L)))
      .crossJoin(broadcast(nr)).crossJoin(broadcast(nt))
      .select(col("bucket"),
        round((log((col("ct") + 1.0) / (col("nt") + b)) -
          log((col("cr") + 1.0) / (col("nr") + b))) * MicroNats)
          .cast("long").as("m"))

    val scored = raw.join(broadcast(model), Seq("bucket"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"), sum(col("m")).as("micro_llr"))

    scored
      // signed tie-safe micro average (see bigramLmScores): abs/sign so
      // Spark's truncating DIV and DuckDB's flooring // agree
      .withColumn("avg_llr", expr(
        """(CASE WHEN micro_llr < 0 THEN -1 ELSE 1 END *
             ((abs(micro_llr) * 2 + n_tokens) DIV (n_tokens * 2))) / 1e6"""))
      .withColumn("keep", col("micro_llr") > 0L)
  }

  /** Per-source distribution drift: KL(P_source || Q_corpus) over
    * add-one-smoothed unigram distributions, with the smoothing vocab V
    * = corpus-wide distinct tokens (so every source is scored over the
    * SAME support, including the corpus words it never uses - absence
    * is divergence too). Each (source, word) term
    * P_s(w) * ln(P_s(w)/Q(w)) is quantized to pico-nats (1e12) before
    * the per-source integer sum; terms can be O(1/V), so micro would
    * underflow a realistic vocabulary.
    *
    * Plan shape: the dense support is vocab x sources built by
    * cross-joining the vocabulary counts against the BROADCAST
    * per-source totals (|S| rows), then left-joining the (source, word)
    * counts - |V| x |S| rows total, embarrassingly parallel, nothing
    * driver-side. Output: one row per source. */
  def sourceKlReport(df: DataFrame, strataCol: String = "source",
                     textCol: String = "text"): DataFrame = {
    val words = df.select(col(strataCol).as("src"),
      explode(TextAnalysis.normalizedWords(col(textCol))).as("w"))

    val sw = words.groupBy(col("src"), col("w")).agg(count(lit(1)).as("cs"))
    val vocab = sw.groupBy(col("w")).agg(sum(col("cs")).as("cq"))
    val stats = vocab.agg(count(lit(1)).as("v"),
      sum(col("cq")).cast("double").as("n"))
    val srcTotals = sw.groupBy(col("src"))
      .agg(sum(col("cs")).as("n_tokens"))

    val dense = vocab.crossJoin(broadcast(srcTotals))
      .join(sw, Seq("src", "w"), "left")
      .withColumn("cs", coalesce(col("cs"), lit(0L)))
      .crossJoin(broadcast(stats))
    val terms = dense.select(col("src"), col("n_tokens"),
      round(((col("cs") + 1.0) / (col("n_tokens") + col("v"))) *
        log(((col("cs") + 1.0) / (col("n_tokens") + col("v"))) /
          ((col("cq") + 1.0) / (col("n") + col("v")))) * 1e12)
        .cast("long").as("t"))

    terms.groupBy(col("src"), col("n_tokens"))
      .agg(sum(col("t")).as("pico_kl"))
      // tie-safe micro presentation (see bigramLmScores); KL >= 0 is
      // pinned but the signed form keeps the pattern uniform
      .select(col("src").as(strataCol), col("n_tokens"), col("pico_kl"),
        expr("""(CASE WHEN pico_kl < 0 THEN -1 ELSE 1 END *
                  ((abs(pico_kl) * 2 + 1000000) DIV 2000000)) / 1e6""")
          .as("kl"))
  }

  /** Loss-aware mixture reweighting (DoReMi-style signal, Xie et al.
    * 2023): score every source by its token-weighted average NLL under
    * the corpus bigram LM, take the integer excess over the corpus
    * average, and tilt weights exponentially - weight_s proportional to
    * exp(eta * excess_s in nats). Sources the shared model finds HARD
    * (high excess loss) get upweighted, the DoReMi domain-reweighting
    * direction; eta < 0 gives the quality-filtering direction instead.
    *
    * All aggregation is exact-integer (micro-nat sums; the per-source
    * and corpus averages use the tie-safe integer half-away division -
    * see the round-8 parity note); only the final exponential tilt and
    * ppm normalization are doubles, computed from identical integers in
    * any engine. Everything after the per-document scoring operates on
    * a |strata|-row frame. */
  def lossReweightReport(df: DataFrame, strataCol: String = "source",
                         idCol: String = "doc_id", textCol: String = "text",
                         eta: Double = 1.0): DataFrame = {
    val perDoc = bigramLmScores(df, idCol, textCol)
      .select(col(idCol), col("n_tokens"), col("micro_nll"))
    // persisted (r16): bySrc/excess are stratum-sized (one row per
    // source) but their upstream is the full per-doc bigram-LM scoring
    // pass - unpersisted, the grand-total branch, the tilt-sum branch
    // and the final projection each replayed it (4 evaluations
    // measured). Model-sized cache, released by the query's graft.Scope.
    val bySrc = df.select(col(idCol), col(strataCol))
      .join(perDoc, Seq(idCol))
      .groupBy(col(strataCol))
      .agg(sum(col("n_tokens")).as("n_tokens"),
        sum(col("micro_nll")).as("micro_nll"))
      .persist()
    val tot = bySrc.agg(sum(col("n_tokens")).as("tnt"),
      sum(col("micro_nll")).as("tmn"))
    val excess = bySrc.crossJoin(broadcast(tot))
      .withColumn("avg_nll_micro",
        expr("(micro_nll * 2 + n_tokens) DIV (n_tokens * 2)"))
      .withColumn("excess_micro", col("avg_nll_micro")
        - expr("(tmn * 2 + tnt) DIV (tnt * 2)"))
      .withColumn("e_micro",
        round(exp(lit(eta) * col("excess_micro") / 1e6) * 1e6).cast("long"))
      .persist() // two consumers: the tilt sum and the final projection
    // Tilts are quantized to integer micro-units BEFORE the normalizing
    // sum, so esum is an exact BIGINT independent of partition /
    // accumulation order (the round-8 determinism contract); the final
    // ppm division is then a pure function of identical integers in any
    // engine.
    val esum = excess.agg(sum(col("e_micro")).as("esum_micro"))
    excess.crossJoin(broadcast(esum))
      .select(col(strataCol), col("n_tokens"), col("avg_nll_micro"),
        col("excess_micro"),
        round(col("e_micro") / col("esum_micro") * 1e6)
          .cast("long").as("weight_ppm"))
  }

  /** Round half away from zero - the tie rule Spark's `round`
    * (BigDecimal HALF_UP) and DuckDB's `round` share; used for the
    * driver-side weight updates so all three agree. */
  private def roundHalfAway(x: Double): Long =
    (if (x >= 0) math.floor(x + 0.5) else math.ceil(x - 0.5)).toLong

  /** Train a logistic-regression quality classifier on hashed
    * bag-of-words features - the GPT-3/LLaMA-family "quality classifier"
    * data filter (score documents by similarity to a curated positive
    * class, keep high scorers) - via `steps` full-batch gradient-descent
    * steps. Features are L1-normalized md5-bucket token counts (the same
    * 16^hexChars hashed space as [[dsirScores]]); `label` is the
    * positive-class indicator column evaluated against `df`'s rows.
    *
    * Returns the learned weights as (bucket -> micro-nat weight) plus
    * the bias under key "__bias__". Weights and every gradient are
    * quantized to integer micro-units before cross-row summation
    * (exact, order-independent - the [[LmScore]] determinism contract),
    * so training is reproducible bit-for-bit on any engine; the only
    * model state on the driver is the <= 16^hexChars + 1 weight rows per
    * step (the k-means-centroid pattern).
    *
    * Plan per step: one broadcast join of the token-bucket counts
    * against the weight table (model-sized), one per-doc aggregation for
    * the margins, one per-bucket aggregation for the gradient - all
    * map-side combined; the bucket-count and label frames are computed
    * once and persisted across steps. */
  def logregTrainWeights(df: DataFrame, label: org.apache.spark.sql.Column,
                         idCol: String = "doc_id", textCol: String = "text",
                         steps: Int = 2, lr: Double = 1.0,
                         hexChars: Int = 2): Map[String, Long] = {
    require(steps >= 1, s"steps >= 1: $steps")
    val spark = df.sparkSession
    import spark.implicits._

    // r16: one persisted frame carries everything a step needs. `y`
    // rides the bucket counts (same cardinality, no extra shuffle key
    // cost) and the per-doc length is SUM(c) over the doc's buckets -
    // exactly size(ws), since every word lands in exactly one bucket -
    // so the old second document scan + per-step `lens` join are gone
    // (guide section 2.3: aggregate before you shuffle, fewer joins).
    val base = df.select(col(idCol), label.cast("int").as("y"),
      TextAnalysis.normalizedWords(col(textCol)).as("ws"))
      .filter(size(col("ws")) > 0)
    val cnts = base.select(col(idCol), col("y"), explode(col("ws")).as("w"))
      .select(col(idCol), col("y"),
        substring(md5(col("w")), 1, hexChars).as("bucket"))
      .groupBy(col(idCol), col("y"), col("bucket")).agg(count(lit(1)).as("c"))
      .persist()
    // doc count and the initial bucket set in ONE action (r16 - was two
    // jobs, each scanning the persisted counts); the set is model-sized
    // (<= 16^hexChars buckets), the repo's collect ceiling
    val init = cnts.agg(countDistinct(col(idCol)).as("n"),
      collect_set(col("bucket")).as("bs")).head()
    val nDocs = init.getLong(0)

    var bias = 0L
    var w: Map[String, Long] =
      init.getSeq[String](1).map(_ -> 0L).toMap
    (1 to steps).foreach { _ =>
      val wF = broadcast(w.toSeq.toDF("bucket", "wm"))
      // left join + coalesce(wm, 0) is value-identical to the old inner
      // join (w covers every bucket of the training corpus; a missing
      // bucket would contribute weight 0 either way) but also keeps
      // len = SUM(c) exact for any caller
      val zf = cnts.join(wF, Seq("bucket"), "left")
        .groupBy(col(idCol), col("y"))
        .agg(sum(col("c") * coalesce(col("wm"), lit(0L))).as("swm"),
          sum(col("c")).as("len"))
        .withColumn("z",
          col("swm").cast("double") / MicroNats / col("len") +
            lit(bias) / MicroNats)
        .withColumn("sg", lit(1.0) / (lit(1.0) + exp(-col("z"))))
      // bucket gradients AND the bias gradient in ONE action: the bias
      // is a pseudo-bucket whose per-doc gradient round((sg-y)*1e6)
      // matches the old separate gBias aggregate exactly (r16 - was two
      // actions per step, each replaying the zf subtree)
      val pd = zf.select(col(idCol), col("sg"), col("y"), col("len"))
      val bucketG = cnts.select(col(idCol), col("bucket"), col("c"))
        .join(pd, Seq(idCol))
        .select(col("bucket"),
          round((col("sg") - col("y")) * col("c") / col("len") * MicroNats)
            .cast("long").as("gm"))
      val biasG = pd.select(lit("__bias__").as("bucket"),
        round((col("sg") - col("y")) * MicroNats).cast("long").as("gm"))
      val grads = bucketG.unionByName(biasG)
        .groupBy(col("bucket")).agg(sum(col("gm")).as("g"))
        .as[(String, Long)].collect()
      grads.foreach {
        case ("__bias__", g) => bias -= roundHalfAway(lr * (g.toDouble / nDocs))
        case (b, g) =>
          w = w.updated(b, w(b) - roundHalfAway(lr * (g.toDouble / nDocs)))
      }
    }
    cnts.unpersist()
    w.updated("__bias__", bias)
  }

  /** Score every document under a trained [[logregTrainWeights]] model:
    * `score` = the margin z (micro-exact inputs, rounded to 6),
    * `prob` = sigmoid(z) rounded to 4, `keep` = z > 0. One broadcast
    * join against the weight table, one per-doc aggregation. */
  def logregScore(df: DataFrame, weights: Map[String, Long],
                  idCol: String = "doc_id", textCol: String = "text",
                  hexChars: Int = 2): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val bias = weights.getOrElse("__bias__", 0L)
    val wF = broadcast(
      weights.view.filterKeys(_ != "__bias__").toSeq.toDF("bucket", "wm"))

    // r16: n_tokens = SUM(c) over the doc's buckets - exactly size(ws),
    // since every word lands in exactly one bucket - computed in the
    // same aggregation as the margin, so the old second document scan +
    // `lens` join are gone. The left join + coalesce(wm, 0) is
    // value-identical to an inner join for buckets the model covers and
    // keeps n_tokens exact even for buckets it does not.
    val base = df.select(col(idCol),
      TextAnalysis.normalizedWords(col(textCol)).as("ws"))
      .filter(size(col("ws")) > 0)
    base.select(col(idCol), explode(col("ws")).as("w"))
      .select(col(idCol), substring(md5(col("w")), 1, hexChars).as("bucket"))
      .groupBy(col(idCol), col("bucket")).agg(count(lit(1)).as("c"))
      .join(wF, Seq("bucket"), "left")
      .groupBy(col(idCol))
      .agg(sum(col("c") * coalesce(col("wm"), lit(0L))).as("swm"),
        // cast back to the old size(ws) type - the schema gate is exact
        sum(col("c")).cast("int").as("n_tokens"))
      // fold the bias into one exact integer total so score, prob and
      // keep all derive from it: z = total/(1e6*n); the rounded score
      // uses the tie-safe integer half-away division (see
      // bigramLmScores), keep is a pure integer sign test
      .withColumn("total_m", col("swm") + lit(bias) * col("n_tokens"))
      .withColumn("z",
        col("total_m").cast("double") / MicroNats / col("n_tokens"))
      .select(col(idCol), col("n_tokens"),
        expr("""(CASE WHEN total_m < 0 THEN -1 ELSE 1 END *
                  ((abs(total_m) * 2 + n_tokens) DIV (n_tokens * 2))) / 1e6""")
          .as("score"),
        round(lit(1.0) / (lit(1.0) + exp(-col("z"))), 4).as("prob"),
        (col("total_m") > 0L).as("keep"))
  }

  /** Train-then-score in one call - the registered quality-classifier
    * query shape. */
  def logregQualityScores(df: DataFrame, label: org.apache.spark.sql.Column,
                          idCol: String = "doc_id", textCol: String = "text",
                          steps: Int = 2, lr: Double = 1.0,
                          hexChars: Int = 2): DataFrame =
    logregScore(df,
      logregTrainWeights(df, label, idCol, textCol, steps, lr, hexChars),
      idCol, textCol, hexChars)
}
