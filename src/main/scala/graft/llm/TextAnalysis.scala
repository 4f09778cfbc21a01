package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * token counting, quality scoring, language identification, document
  * fingerprinting. Everything is built from codegen'd built-in functions
  * (no UDFs), so each stays inside whole-stage codegen and scales
  * linearly - these run as pure map stages with zero shuffles.
  */
object TextAnalysis {

  /** Whitespace token count. */
  def wordCount(text: Column): Column =
    size(split(trim(text), "\\s+", -1))

  /** Shared tokenization: lowercased, whitespace-split, empties dropped.
    * Single definition - the repetition signals and the contamination
    * screen (and their DuckDB oracles) must agree on what a "word" is.
    *
    * r16: the empty-drop is a CASE WHEN, not a filter() lambda. The
    * input is first trimmed of the EXACT `\s` character set (plain
    * `trim` strips spaces only - a tab/newline-edged string would leak
    * leading/trailing empty tokens, caught by NgramPosSpec); after that
    * a `\s+` split can produce an empty token ONLY for the empty string
    * (Java split returns [""] there), and that case is an empty array.
    * ArrayFilter is CodegenFallback (interpreted per row, lambda alloc
    * per element) sitting on the hottest shared path in the registry
    * (~40 queries tokenize through here); the CASE WHEN stays inside
    * whole-stage codegen with subexpression elimination handling the
    * repeated trim. */
  def normalizedWords(text: Column): Column = {
    val t = trim(text, " \t\n\u000B\f\r")
    when(t === "", array().cast("array<string>"))
      .otherwise(split(lower(t), "\\s+", -1))
  }

  /** BPE-ish token estimate: alphanumeric runs count as one token each,
    * every non-alnum non-space character as one more (a cheap
    * deterministic proxy for a real BPE vocabulary; lookaround-free so
    * the same regex semantics hold in any RE2-class engine).
    *
    * Implementation note: the run count is pure regexp arithmetic -
    * collapsing each alnum run to one marker char and length-diffing
    * against the run-stripped text - rather than the equivalent
    * split + higher-order filter. ArrayFilter is CodegenFallback
    * (interpreted per row, lambda alloc per element): measured 17s vs
    * 2.4s for this form on a 150k-doc 30x corpus, with bit-identical
    * results - the exact "functions, not HOFs in the hot path" rule
    * the quality scorer already follows. */
  def tokenCountBpeIsh(text: Column): Column =
    (length(regexp_replace(text, "[A-Za-z0-9]+", "#"))
      - length(regexp_replace(text, "[A-Za-z0-9]+", ""))) +
      length(regexp_replace(text, "[A-Za-z0-9\\s]", ""))

  /** Tokenizer-training primitive: the BPE pair-count step. Collapses
    * the corpus to a word-frequency table first (one shuffle on the
    * word), then splits each DISTINCT word into character symbols and
    * counts adjacent symbol pairs weighted by word frequency - the
    * argmax over this table is exactly the merge rule a byte-pair-
    * encoding trainer learns each round. A real trainer iterates this
    * count over re-segmented words; one full counting pass is the hot
    * loop and is what the registered query oracle-checks.
    *
    * Scale: the pair stream is |vocabulary| x avg word length rows -
    * the corpus collapses BEFORE the explode, so 100 TB of text with a
    * ~10M-word vocabulary feeds the pair count from megabytes. Both
    * aggregations combine map-side; top-k under a total (n desc, pair
    * asc) order, so the cut is deterministic. */
  def bpePairCounts(df: DataFrame, k: Int = 100,
                    textCol: String = "text"): DataFrame = {
    val words = df.select(explode(normalizedWords(col(textCol))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("wc"))
    // adjacent char pairs; the length guard keeps sequence() ascending
    // (Spark infers a NEGATIVE step for sequence(1, 0))
    val pairCol = transform(sequence(lit(1), length(col("w")) - 1),
      i => concat(col("w").substr(i, lit(1)), col("w").substr(i + 1, lit(1))))
    words.filter(length(col("w")) >= 2)
      .select(col("wc"), explode(pairCol).as("pair"))
      .groupBy(col("pair")).agg(sum(col("wc")).as("n"))
      .orderBy(col("n").desc, col("pair").asc)
      .limit(k)
  }

  /** Tokenizer training, the full loop: `rounds` BPE iterations over
    * the corpus vocabulary. Each round re-segments every distinct word
    * under the merges learned so far, recounts adjacent symbol pairs
    * weighted by word frequency ([[bpePairCounts]]'s hot loop), and
    * adopts the (n desc, left asc, right asc) argmax as the round's
    * merge rule. Returns the learned merge table
    * (round, left, right, n) - the model a BPE tokenizer ships.
    *
    * Representation: a word's segmentation is ONE string - symbols
    * wrapped in U+0001 separators - so applying a
    * merge is a single non-regex `replace` of ^L^^R^ with ^LR^, whose
    * left-to-right non-overlapping scan IS the BPE merge order, and
    * whose semantics are identical in any engine ("aaa" + merge(a,a)
    * -> [aa, a]). No per-row lambda fold, no UDF.
    *
    * Scale shape: the corpus collapses to the distinct-word frequency
    * table ONCE (the only corpus-sized pass, one shuffle); every round
    * then runs over the vocab-sized frame (persisted - each round's
    * job would otherwise replay the corpus scan plus all prior
    * rounds). Only the per-round argmax row reaches the driver - the
    * merge table IS driver-side model state, exactly like
    * [[Ann.kmeansCentroids]]'s centroids. Words containing the
    * separator byte are dropped (precondition, vanishingly rare in
    * text); training stops early when no pair remains. */
  def bpeTrain(df: DataFrame, rounds: Int,
               textCol: String = "text"): DataFrame = {
    require(rounds >= 1 && rounds <= 64, s"rounds $rounds outside [1, 64]")
    val sep = "\u0001"
    val words = df.select(explode(normalizedWords(col(textCol))).as("w"))
      .filter(!col("w").contains(sep))
      .groupBy(col("w")).agg(count(lit(1)).as("wc"))
    bpeTrainLoopOverSeg(words
      .select(col("wc"),
        regexp_replace(col("w"), "(.)", s"$sep$$1$sep").as("seg")), rounds)
  }

  /** The shared merge-training loop over a SEEDED segmentation frame
    * (`wc`, `seg` = chr(1)-wrapped symbol string): per round, one
    * frequency-weighted adjacent-pair argmax job over the persisted
    * vocab-sized frame, then one left-to-right replace pass - the body
    * of [[bpeTrain]], also driven by [[graft.llm.ByteBpe.train]]'s
    * byte-level seeding. Returns (round, left, right, n) in round
    * order; stops early when no pair remains. */
  private[llm] def bpeTrainLoopOverSeg(seg0: DataFrame,
                                       rounds: Int): DataFrame = {
    val sep = "\u0001"
    val spark = seg0.sparkSession
    import spark.implicits._
    var seg = seg0.persist()
    // one job per round: the argmax action is the FIRST action over the
    // lazily-persisted current segmentation, so it both materializes the
    // cache and returns the merge - no separate count() job. The parent
    // frame stays persisted until the child's cache is populated (the
    // argmax below reads the child), then unpersists: the child never
    // recomputes through an evicted parent.
    var parent: Option[org.apache.spark.sql.DataFrame] = None
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var r = 1
    var dry = false
    while (r <= rounds && !dry) {
      val syms = split(
        regexp_replace(col("seg"), s"^$sep|$sep$$", ""), s"$sep$sep")
      val top = seg
        .select(col("wc"), syms.as("__syms"))
        .filter(size(col("__syms")) >= 2)
        .select(col("wc"), explode(
          transform(sequence(lit(1), size(col("__syms")) - 1),
            i => struct(element_at(col("__syms"), i).as("l"),
              element_at(col("__syms"), i + 1).as("r")))).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("wc")).as("n"))
        .orderBy(col("n").desc, col("l").asc, col("r").asc)
        .limit(1)
        .as[(String, String, Long)].collect()
      parent.foreach(_.unpersist()) // seg's cache is populated now
      parent = Some(seg)
      top.headOption match {
        case None => dry = true
        case Some((l, rr, n)) =>
          merges += ((r, l, rr, n))
          seg = seg
            .withColumn("seg", org.apache.spark.sql.functions.replace(
              col("seg"), lit(s"$sep$l$sep$sep$rr$sep"), lit(s"$sep$l$rr$sep")))
            .persist()
          r += 1
      }
    }
    parent.foreach(_.unpersist())
    seg.unpersist()
    merges.toSeq.toDF("round", "left", "right", "n")
  }

  /** Tokenizer application: encode the corpus under a TRAINED merge
    * table ([[bpeTrain]]'s `(left, right)` rules in round order) and
    * emit per document the token-id sequence plus its length - the
    * train -> encode -> pack chain a tokenizer pipeline ships.
    *
    * Semantics: a word's segmentation starts as single characters and
    * applies each merge in training order as ONE left-to-right
    * non-overlapping `replace` over the U+0001-separated symbol string -
    * the exact operation [[bpeTrain]]'s rounds apply, so
    * `encode(train(corpus))` reproduces training's final segmentation
    * symbol-for-symbol. Token ids come from the induced vocabulary:
    * corpus characters first (sorted ascending), then one id per merge
    * in round order; when a later merge re-creates an existing token
    * string (e.g. (a,bc) after (ab,c) both form "abc"), the FIRST id
    * wins, so ids are a function of the vocabulary alone.
    *
    * Output: `idCol`, `n_tokens` (int), `token_ids` (array<int> in
    * document word order; words split the id stream in reading order).
    * Documents with no words (null/empty text) keep a row with
    * `n_tokens = 0` and an empty array. Words containing the U+0001
    * separator are dropped, mirroring [[bpeTrain]]'s precondition.
    *
    * Scale shape: the corpus collapses to the DISTINCT-word frame
    * before any per-character work (the [[bpeTrain]] pattern) - the
    * merge-application chain (<= 64 codegen'd `replace` calls in one
    * projection; larger tables via the native
    * [[graft.functions.BpeSegment]] expression with identical
    * semantics) and the per-word id lookup run over |vocabulary| rows,
    * not |tokens|. The vocabulary (chars + one row per merge) is
    * config-sized and broadcasts; its id assignment runs a
    * single-partition window over that config-sized frame only. The
    * only corpus-sized work is the tokenize-explode, one equi-join
    * against the encoded word frame (word-hash shuffle), and the
    * per-doc reassembly aggregation - the same two-shuffle shape as
    * any tokenize pass. */
  /** Tables up to [[bpeTrain]]'s 64-round limit apply as ONE
    * nested-replace projection (pinned plan shape); anything larger -
    * e.g. an external ~30k-rule tokenizer table - routes through the
    * native [[graft.functions.BpeSegment]] expression, whose per-word
    * sequential-pass loop is bit-identical to the replace chain and
    * independent of table size. The ceiling only guards against a
    * nonsensical table exploding the vocabulary-id frame. */
  private def requireMergeTable(merges: Seq[(String, String)]): Unit = {
    require(merges.size <= (1 << 20),
      s"merge table size ${merges.size} > ${1 << 20}")
    require(merges.forall { case (l, r) =>
      l.nonEmpty && r.nonEmpty && !l.contains("\u0001") && !r.contains("\u0001")
    }, "empty or separator-containing symbol in merge table")
  }

  /** Shared encode core: the DISTINCT-word frame with each word's
    * post-merge segmentation token array (`w`, `toks`) - the
    * vocabulary-sized stage [[bpeEncode]] and [[bpeTokenCounts]] share. */
  private def encodedWordFrame(df: DataFrame, merges: Seq[(String, String)],
                               textCol: String): DataFrame = {
    val sep = "\u0001"
    val words = df.select(explode(normalizedWords(col(textCol))).as("w"))
      .filter(!col("w").contains(sep))
      .distinct()
    if (merges.size <= 64) {
      // training-sized table: one nested-replace projection (the exact
      // string rewrite bpeTrain's rounds apply; pinned plan shape)
      val seg0 = regexp_replace(col("w"), "(.)", s"$sep$$1$sep")
      val segN = merges.foldLeft(seg0) { case (acc, (l, r)) =>
        org.apache.spark.sql.functions.replace(
          acc, lit(s"$sep$l$sep$sep$r$sep"), lit(s"$sep$l$r$sep"))
      }
      words.select(col("w"),
        split(regexp_replace(segN, s"^$sep|$sep$$", ""), s"$sep$sep").as("toks"))
    } else {
      // external-tokenizer-sized table (e.g. ~30k rules): the native
      // BpeSegment expression applies the same sequential-pass
      // semantics in one codegen'd call per distinct word, with cost
      // independent of table size (LlmSpec pins path equivalence)
      import org.apache.spark.sql.GraftSqlBridge
      words.select(col("w"),
        GraftSqlBridge.column(graft.functions.BpeSegment(
          GraftSqlBridge.expression(col("w")), merges)).as("toks"))
    }
  }

  /** The induced vocabulary `(tok, id)` for a corpus + merge table:
    * corpus characters first (grp 0, ordered by char) then merge
    * products (grp 1, ordered by round); duplicate token strings keep
    * the first id, so ids are a function of the vocabulary alone. This
    * is the shippable half of the tokenizer artifact - persist it with
    * [[BpeArtifact.save]] and encode OTHER corpora against it via
    * [[bpeEncodeWithVocab]] for ids that are stable across corpora
    * (plain [[bpeEncode]] re-induces the vocab from the encoded
    * corpus's own characters). Both frames are vocabulary/config-sized,
    * so the unpartitioned windows are driver-bounded by construction. */
  def bpeVocab(df: DataFrame, merges: Seq[(String, String)],
               textCol: String = "text"): DataFrame = {
    requireMergeTable(merges)
    val sep = "\u0001"
    val words = df.select(explode(normalizedWords(col(textCol))).as("w"))
      .filter(!col("w").contains(sep))
      .distinct()
    val chars = words.select(explode(transform(
        sequence(lit(1), length(col("w"))),
        i => col("w").substr(i, lit(1)))).as("tok"))
      .distinct()
      .select(col("tok"), lit(0).as("grp"), col("tok").as("ord"))
    val spark = df.sparkSession
    import spark.implicits._
    val mergedToks = merges.zipWithIndex
      .map { case ((l, r), i) => (l + r, 1, f"${i + 1}%06d") }
      .toDF("tok", "grp", "ord")
    val wId = org.apache.spark.sql.expressions.Window
      .orderBy(col("grp"), col("ord"))
    val wTok = org.apache.spark.sql.expressions.Window
      .partitionBy(col("tok")).orderBy(col("id"))
    chars.union(mergedToks)
      .withColumn("id", (row_number().over(wId) - 1).cast("int"))
      .withColumn("__rn", row_number().over(wTok))
      .filter(col("__rn") === 1)
      .select(col("tok"), col("id"))
  }

  def bpeEncode(df: DataFrame, merges: Seq[(String, String)],
                idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    encodeCore(df, merges, bpeVocab(df, merges, textCol), idCol, textCol,
      unkId = -1)

  /** Encode under an EXPLICIT vocabulary frame `(tok, id)` - the
    * trained-artifact path: `bpeVocab` (or [[BpeArtifact.load]]) fixes
    * the ids at train time, so encoding new corpora under a shipped
    * merge table yields stable ids regardless of which characters the
    * new corpus happens to contain. Segmentation tokens absent from the
    * vocabulary (characters the training corpus never saw) emit
    * `unkId` - they still occupy one position, mirroring a real
    * tokenizer's UNK. */
  def bpeEncodeWithVocab(df: DataFrame, merges: Seq[(String, String)],
                         vocab: DataFrame, idCol: String = "doc_id",
                         textCol: String = "text",
                         unkId: Int = -1): DataFrame =
    encodeCore(df, merges, vocab.select(col("tok"), col("id")), idCol,
      textCol, unkId)

  /** Shared encode body: segmentation (chain or native path), per-word
    * id lookup against the broadcast vocabulary (left join - a missing
    * token becomes `unkId`; total for the induced vocab), per-doc
    * reassembly. The same two-shuffle shape as any tokenize pass. */
  private def encodeCore(df: DataFrame, merges: Seq[(String, String)],
                         vocab: DataFrame, idCol: String, textCol: String,
                         unkId: Int): DataFrame = {
    requireMergeTable(merges)
    val sep = "\u0001"
    val wordToks = encodedWordFrame(df, merges, textCol)
    val encoded = wordToks
      .select(col("w"), posexplode(col("toks")).as(Seq("i", "tok")))
      .join(broadcast(vocab), Seq("tok"), "left")
      .withColumn("id", coalesce(col("id"), lit(unkId)))
      .groupBy(col("w"))
      .agg(array_sort(collect_list(struct(col("i"), col("id")))).as("__ps"))
      .select(col("w"), transform(col("__ps"), p => p("id")).as("__ids"))
    val docToks = df
      .select(col(idCol), posexplode(normalizedWords(col(textCol))).as(Seq("p", "w")))
      .filter(!col("w").contains(sep))
      .join(encoded, Seq("w"))
      .groupBy(col(idCol))
      .agg(array_sort(collect_list(struct(col("p"), col("__ids")))).as("__ps"))
      .select(col(idCol),
        flatten(transform(col("__ps"), x => x("__ids"))).as("token_ids"))
    df.select(col(idCol))
      .join(docToks, Seq(idCol), "left")
      .withColumn("token_ids",
        coalesce(col("token_ids"), array().cast("array<int>")))
      .withColumn("n_tokens", size(col("token_ids")))
      .select(col(idCol), col("n_tokens"), col("token_ids"))
  }

  /** Count-only BPE encode: per-doc `n_tokens` under the trained merge
    * table WITHOUT assembling the token-id arrays. [[bpeEncode]]'s
    * n_tokens is size(flatten(collect_list(...))), which Catalyst
    * cannot prune to a count - so consumers that only need lengths
    * (sequence packing, budget planning) use this operator and skip
    * the id lookup, the per-word array sort, and the array shuffle
    * entirely: per-word counts are vocabulary-sized, and the per-doc
    * aggregation ships one integer per word instead of an id array. */
  def bpeTokenCounts(df: DataFrame, merges: Seq[(String, String)],
                     idCol: String = "doc_id",
                     textCol: String = "text"): DataFrame = {
    requireMergeTable(merges)
    val sep = "\u0001"
    val wordN = encodedWordFrame(df, merges, textCol)
      .select(col("w"), size(col("toks")).as("__wn"))
    val docN = df
      .select(col(idCol), explode(normalizedWords(col(textCol))).as("w"))
      .filter(!col("w").contains(sep))
      .join(wordN, Seq("w"))
      .groupBy(col(idCol))
      .agg(sum(col("__wn")).cast("int").as("n_tokens"))
    df.select(col(idCol))
      .join(docN, Seq(idCol), "left")
      .withColumn("n_tokens", coalesce(col("n_tokens"), lit(0)))
  }

  /** Quality-scoring feature columns (length / punctuation / stopword
    * ratios and friends). Returns the input plus feature columns; the
    * composite `quality_score` is a simple monotone blend in [0,1]. */
  /** Attach derived scalar columns so their shared expensive producers
    * evaluate ONCE per row: the producers are staged as columns in a
    * Project, and the derived fields are computed from those attributes
    * inside an `explode(array(struct(...)))` Generate - a collapse
    * barrier (CollapseProject merges Project into Project, never across
    * a Generate), the r16 containment-pairs finding generalized. A
    * plain `withColumn` chain re-inlines a staged array producer (a
    * full-text regex split, a filter/transform lambda chain) into EVERY
    * consumer: the q_llm_prep_e2e plan carried 30 copies of
    * `split(lower(trim(...)))` and 8 of the lines filter+transform
    * before this (r17). Value-identical: the 1-element array explodes
    * to exactly one row per input row. `producers` stay as columns
    * (dropped by callers that staged temporaries). */
  private[llm] def withDerivedOnce(df: DataFrame,
                                   producers: Seq[(String, Column)],
                                   derived: Seq[(String, Column)]): DataFrame = {
    val staged = producers.foldLeft(df) { case (d, (n, c)) => d.withColumn(n, c) }
    staged
      .select(col("*"), explode(array(struct(derived.map {
        case (n, c) => c.as(n)
      }: _*))).as("__once"))
      .select(col("*") +: derived.map { case (n, _) =>
        col(s"__once.$n").as(n)
      }: _*)
      .drop("__once")
  }

  def withQualityFeatures(df0: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    val nChars = length(t)
    val stopwords = Array("the", "a", "an", "and", "or", "of", "to", "in",
      "is", "it", "that", "for", "on", "with", "as", "was", "at", "by")
    val words = col("__qwords")
    // tokenize once - BEHIND a Generate barrier (withDerivedOnce):
    // n_words / n_stop are referenced by several downstream ratio and
    // score columns, and CollapseProject used to re-inline the
    // full-text regex split into every one of them
    val df = withDerivedOnce(df0,
      producers = Seq("__qwords" -> split(lower(trim(t)), "\\s+", -1)),
      derived = Seq(
        "__n_words" -> size(words),
        "__n_stop" -> size(filter(words,
          w => w.isin(stopwords.toIndexedSeq.map(lit(_)): _*))),
        // the regexp_replace counters ride the same barrier: the ratio
        // columns are re-inlined into quality_score otherwise
        "__n_punct" -> (nChars - length(regexp_replace(t, "[\\p{Punct}]", ""))),
        "__n_digit" -> (nChars - length(regexp_replace(t, "[0-9]", "")))))
    val nWords = col("__n_words")
    val nStop = col("__n_stop")
    val nPunct = col("__n_punct")
    val nDigit = col("__n_digit")
    val nUpper = nChars - length(regexp_replace(t, "[A-Z]", ""))

    df.withColumn("n_chars_calc", nChars)
      .withColumn("n_words", nWords)
      .withColumn("avg_word_len",
        when(nWords > 0, (nChars - nWords + 1).cast("double") / nWords).otherwise(0.0))
      .withColumn("punct_ratio",
        when(nChars > 0, nPunct.cast("double") / nChars).otherwise(0.0))
      .withColumn("digit_ratio",
        when(nChars > 0, nDigit.cast("double") / nChars).otherwise(0.0))
      .withColumn("upper_ratio",
        when(nChars > 0, nUpper.cast("double") / nChars).otherwise(0.0))
      .withColumn("stopword_ratio",
        when(nWords > 0, nStop.cast("double") / nWords).otherwise(0.0))
      .withColumn("quality_score",
        least(lit(1.0), greatest(lit(0.0),
          lit(0.4) * least(col("stopword_ratio") * 4, lit(1.0)) +
          lit(0.3) * (lit(1.0) - least(col("punct_ratio") * 5, lit(1.0))) +
          lit(0.3) * (lit(1.0) - least(col("digit_ratio") * 5, lit(1.0))))))
      .drop("__qwords", "__n_words", "__n_stop", "__n_punct", "__n_digit")
  }

  /** Language-ID heuristic: per-language stopword hit counts over the
    * token set; the language with the most hits wins ("und" when no
    * marker hits). Marker lists are tiny and inlined, so the whole
    * classifier is one codegen'd expression - the same shape a character
    * n-gram model compiles to. */
  private val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "is", "that", "for", "with"),
    "de" -> Seq("der", "die", "und", "das", "ist", "nicht", "mit", "ein"),
    "fr" -> Seq("le", "la", "les", "et", "est", "que", "pour", "dans"),
    "es" -> Seq("el", "los", "las", "es", "que", "para", "con", "una"),
    "it" -> Seq("il", "di", "che", "per", "con", "della", "sono", "una")
  )

  def withLangId(df0: DataFrame, textCol: String = "text"): DataFrame = {
    // tokenize once and score once - BOTH behind the Generate barrier
    // (withDerivedOnce): Catalyst does not CSE the regex split across
    // expressions, and CollapseProject re-inlines a staged column into
    // every consumer, so the five interpreted marker filters (and the
    // split under them) used to replay per consuming column. Scores
    // live in ONE array column and the winner is array_max +
    // array_position (first max = earliest language, the tie-break). A
    // when-chain fold over per-language structs duplicates the
    // accumulated tree at each step - 2^k copies of every interpreted
    // marker filter.
    val words = col("__words")
    val langs = array(langMarkers.map(m => lit(m._1)): _*)
    val df = withDerivedOnce(df0,
      producers = Seq(
        "__words" -> split(lower(trim(col(textCol))), "\\W+", -1)),
      derived = Seq(
        "__scores" -> array(langMarkers.map { case (_, markers) =>
          size(filter(words, w => w.isin(markers.map(lit(_)): _*)))
        }: _*)))
    df.withColumn("lang_score", array_max(col("__scores")))
      .withColumn("lang_pred",
        when(col("lang_score") > 0,
          element_at(langs,
            array_position(col("__scores"), col("lang_score")).cast("int")))
          .otherwise("und"))
      .drop("__words", "__scores")
  }

  /** Repetition signals (Gopher-style boilerplate detection): fraction
    * of duplicate lines, fraction of duplicate words, and the share of
    * lines that are bullets or ellipsis-truncated. High values mark
    * template/spam documents that content-hash dedup misses because of
    * small unique substitutions. Pure map stage - no shuffle; the line
    * and word arrays are staged as columns so each interpreted
    * higher-order lambda evaluates its producer once. */
  def withRepetitionSignals(df0: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    val lines = col("__lines")
    val words = col("__rwords")
    // line/word arrays staged below a Generate barrier
    // (withDerivedOnce): the interpreted filter/transform chain and the
    // tokenizer used to re-inline into every consuming ratio column
    // (8 copies of the lines chain in the q_llm_prep_e2e plan)
    val df = withDerivedOnce(df0,
      producers = Seq(
        "__lines" -> // \r?\n so CRLF text keeps no trailing \r
          filter(transform(split(t, "\r?\n", -1), l => trim(l)), l => l =!= ""),
        "__rwords" -> normalizedWords(t)),
      derived = Seq(
        "__n_lines" -> size(lines),
        "__n_dist_lines" -> size(array_distinct(lines)),
        "__n_bullet" -> size(filter(lines, l => l.rlike("^[-*•]"))),
        "__n_ellipsis" -> size(filter(lines, l => l.endsWith("..."))),
        "__n_rwords" -> size(words),
        "__n_dist_words" -> size(array_distinct(words))))
    val nLines = col("__n_lines")
    val nWords = col("__n_rwords")
    val ratio = (num: Column, den: Column) =>
      when(den > 0, num.cast("double") / den).otherwise(0.0)

    df.withColumn("n_lines", nLines)
      .withColumn("dup_line_ratio", ratio(nLines - col("__n_dist_lines"), nLines))
      .withColumn("dup_word_ratio", ratio(nWords - col("__n_dist_words"), nWords))
      .withColumn("bullet_line_ratio", ratio(col("__n_bullet"), nLines))
      .withColumn("ellipsis_line_ratio", ratio(col("__n_ellipsis"), nLines))
      .drop("__lines", "__rwords", "__n_lines", "__n_dist_lines",
        "__n_bullet", "__n_ellipsis", "__n_rwords", "__n_dist_words")
  }

  // RE2-compatible patterns (no lookarounds), so Java regex (Spark) and
  // RE2 (DuckDB oracle, and most scrubbing services) apply identically
  private val urlRe = "https?://[^\\s]+"
  private val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val ipRe = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"

  /** PII/URL scrubbing: URLs, then emails, then IPv4 literals are
    * replaced with typed placeholder tokens; each count is taken on the
    * text AFTER the previous replacement, so an address inside a URL is
    * counted once as URL, not again as email/IP. A pure map stage of
    * three codegen'd regexp passes. */
  def withScrubbedText(df: DataFrame, textCol: String = "text"): DataFrame = {
    val t0 = col(textCol)
    val t1 = regexp_replace(t0, urlRe, "<URL>")
    val t2 = regexp_replace(t1, emailRe, "<EMAIL>")
    df.withColumn("n_urls", regexp_count(t0, lit(urlRe)).cast("int"))
      .withColumn("n_emails", regexp_count(t1, lit(emailRe)).cast("int"))
      .withColumn("n_ips", regexp_count(t2, lit(ipRe)).cast("int"))
      .withColumn("scrubbed", regexp_replace(t2, ipRe, "<IP>"))
  }

  /** Corpus vocabulary top-k (heavy hitters): the k most frequent
    * normalized words with their total counts. Plan: explode -> hash
    * aggregate with map-side partial combine (the per-partition combine
    * absorbs the Zipfian head, so the shuffle carries at most
    * |vocab per partition| rows, not |tokens|) -> TakeOrdered(k) with a
    * TOTAL order (count desc, term asc) so the cut at k is
    * deterministic. Nothing but the k winners reaches the driver. */
  def topTerms(df: DataFrame, k: Int, textCol: String = "text"): DataFrame =
    df.select(explode(normalizedWords(col(textCol))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("term").asc)
      .limit(k)

  /** Per-document top term, TF-IDF style: term frequency within the
    * document, document frequency across the corpus, and the winner by
    * (tf desc, df asc, term asc) - most frequent, rarest-on-tie. The
    * integer (tf, df) ordering keeps every compared value exact across
    * engines (a float tf*ln(N/df) score is ulp-fragile); consumers
    * wanting the real TF-IDF weight can compute any monotone idf from
    * the returned integer (tf, df) pair.
    *
    * Plan: one aggregation to (doc, term, tf), one to (term, df) - a
    * vocabulary-sized frame, shuffled not broadcast (web-scale vocab
    * with typos/ids can be billions of terms) - one equi-join back on
    * the term, one per-doc top-1 window. Skew note: the df side joins
    * back co-partitioned on its own grouping key - AQE's skew rule
    * cannot split that shape; a diagnosed hot term routes through
    * [[graft.operators.Skew.saltedJoin]] (measurement in PLANS.md
    * "skew-join adoption"). */
  def topTermPerDoc(df: DataFrame, idCol: String = "doc_id",
                    textCol: String = "text"): DataFrame = {
    val words = df.select(col(idCol),
      explode(normalizedWords(col(textCol))).as("term"))
    val tf = words.groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col(idCol))
      .orderBy(col("tf").desc, col("df").asc, col("term").asc)
    tf.join(dfreq, Seq("term"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col(idCol), col("term").as("top_term"), col("tf"), col("df"))
  }

  /** Out-of-vocabulary rate against the corpus' own top-`vocabSize`
    * vocabulary - the cheap proxy for "is this document gibberish /
    * the wrong language / binary junk" (a real pipeline swaps in a
    * fixed reference vocabulary; pass one as `vocab`).
    *
    * Two-pass: the vocabulary is k rows (driver-bounded by topTerms'
    * TakeOrdered) and BROADCASTS into the second pass's join - the per
    * -doc scoring is explode -> broadcast left join -> count, no
    * shuffle of the token stream beyond the doc-id aggregation. Adds
    * n_tokens / n_oov / oov_rate (exact int/int division; token-less
    * docs get 0). */
  def withOovRate(df: DataFrame, vocabSize: Int = 10000,
                  idCol: String = "doc_id", textCol: String = "text",
                  vocab: Option[DataFrame] = None): DataFrame = {
    // distinct: the internal topTerms path is grouped already, but a
    // caller-supplied vocabulary with duplicate terms would multiply
    // joined rows and inflate n_tokens/n_oov
    val v = broadcast(vocab.getOrElse(topTerms(df, vocabSize, textCol))
      .select(col("term")).distinct()
      .select(col("term"), lit(1).as("__in_vocab")))
    val words = df.select(col(idCol),
      explode(normalizedWords(col(textCol))).as("term"))
    val counts = words.join(v, Seq("term"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("__in_vocab").isNull, 1).otherwise(0)).cast("long")
          .as("n_oov"))
    df.join(counts, Seq(idCol), "left")
      .withColumn("n_tokens", coalesce(col("n_tokens"), lit(0L)))
      .withColumn("n_oov", coalesce(col("n_oov"), lit(0L)))
      .withColumn("oov_rate",
        when(col("n_tokens") > 0,
          col("n_oov").cast("double") / col("n_tokens")).otherwise(0.0))
  }

  /** Rule names in evaluation order; the FIRST failing rule is the
    * drop reason (C4/Gopher-style document filtering). */
  case class QualityThresholds(minWords: Int = 10, maxWords: Int = 100000,
                               minAvgWordLen: Double = 2.0,
                               maxAvgWordLen: Double = 12.0,
                               minStopwordRatio: Double = 0.01,
                               maxPunctRatio: Double = 0.2,
                               maxDigitRatio: Double = 0.2,
                               maxDupLineRatio: Double = 0.5,
                               maxDupWordRatio: Double = 0.85)

  /** Composite document-quality filter (the C4 / Gopher rule family)
    * over the feature columns of [[withQualityFeatures]] and
    * [[withRepetitionSignals]]: adds `keep` (1/0) and `drop_reason`
    * (first failing rule, null when kept). Every compared ratio is an
    * exact int/int double division, so the keep/drop decision is
    * bit-stable across engines. Pure map stage. */
  def withQualityFilter(df: DataFrame, textCol: String = "text",
                        t: QualityThresholds = QualityThresholds()): DataFrame = {
    val feats = withRepetitionSignals(withQualityFeatures(df, textCol), textCol)
    val rules: Seq[(String, Column)] = Seq(
      "too_few_words" -> (col("n_words") < t.minWords),
      "too_many_words" -> (col("n_words") > t.maxWords),
      "short_words" -> (col("avg_word_len") < t.minAvgWordLen),
      "long_words" -> (col("avg_word_len") > t.maxAvgWordLen),
      "low_stopword" -> (col("stopword_ratio") < t.minStopwordRatio),
      "high_punct" -> (col("punct_ratio") > t.maxPunctRatio),
      "high_digit" -> (col("digit_ratio") > t.maxDigitRatio),
      "repetitive_lines" -> (col("dup_line_ratio") > t.maxDupLineRatio),
      "repetitive_words" -> (col("dup_word_ratio") > t.maxDupWordRatio))
    val reason = rules.foldRight(lit(null).cast("string")) {
      case ((name, fails), rest) => when(fails, name).otherwise(rest)
    }
    feats.withColumn("drop_reason", reason)
      .withColumn("keep", col("drop_reason").isNull.cast("int"))
  }

  /** Curation funnel report: per (stratum, outcome) document and token
    * accounting over [[withQualityFilter]]'s first-failing-stage
    * verdicts - the "where did my corpus go" dashboard every filtering
    * run publishes. Outcome is the drop_reason, or 'kept'; `n_docs` /
    * `n_tokens` say how much each stage costs, `share` is the
    * within-stratum document fraction (exact integer ratio rounded to
    * 6). One map stage (the filter's pure column expressions) + one
    * map-side-combined aggregation to a |strata| x |stages| frame -
    * nothing data-sized shuffles beyond the count collapse. */
  def curationFunnel(df: DataFrame, strataCol: String = "source",
                     textCol: String = "text",
                     t: QualityThresholds = QualityThresholds()): DataFrame = {
    val verdicts = withQualityFilter(df, textCol, t)
      .select(col(strataCol),
        coalesce(col("drop_reason"), lit("kept")).as("outcome"),
        col("n_words").cast("long").as("nw"))
    val counts = verdicts.groupBy(col(strataCol), col("outcome"))
      .agg(count(lit(1)).as("n_docs"), sum(col("nw")).as("n_tokens"))
    val totals = verdicts.groupBy(col(strataCol))
      .agg(count(lit(1)).as("n_total"))
    counts.join(broadcast(totals), Seq(strataCol))
      .select(col(strataCol), col("outcome"), col("n_docs"),
        col("n_tokens"),
        round(col("n_docs").cast("double") / col("n_total"), 6).as("share"))
  }

  /** Document fingerprint: 64-bit polynomial rolling hash over the
    * normalized text (lowercased, whitespace collapsed) - a Rabin-style
    * content fingerprint computed with `aggregate` over the character
    * array, plus an md5 for exact-content identity. */
  def withFingerprint(df: DataFrame, textCol: String = "text"): DataFrame = {
    val norm = regexp_replace(lower(trim(col(textCol))), "\\s+", " ")
    // modular polynomial hash: accumulator stays < 1e9 so the multiply
    // never overflows a long (Spark 4 runs ANSI mode - overflow throws)
    val rolling = aggregate(
      split(norm, "", -1),
      lit(0L),
      (acc, c) => pmod(acc * lit(31L) + coalesce(ascii(c).cast("long"), lit(0L)),
        lit(1000000007L)))
    df.withColumn("fingerprint", rolling)
      .withColumn("content_md5", md5(norm.cast("binary")))
  }

  /** Corpus bigram top-k: the k most frequent adjacent word pairs
    * under a TOTAL order (count desc, bigram asc). Same plan shape as
    * [[topTerms]]: explode -> hash aggregate with map-side combine
    * (Zipfian head absorbed per-partition) -> TakeOrdered(k); only the
    * k winners reach the driver. */
  def topBigrams(df: DataFrame, k: Int, textCol: String = "text"): DataFrame =
    df.select(normalizedWords(col(textCol)).as("__w"))
      .select(explode(when(size(col("__w")) > 1,
        transform(sequence(lit(1), size(col("__w")) - 1),
          i => concat(element_at(col("__w"), i), lit(" "),
            element_at(col("__w"), i + 1))))
        .otherwise(array().cast("array<string>"))).as("bigram"))
      .groupBy(col("bigram")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("bigram").asc)
      .limit(k)

  /** Per-stratum curation: keep the `k` best documents of each stratum
    * by `quality_score` (ties broken by id - a TOTAL order, so the cut
    * at k is deterministic). The standard "best N pages per domain"
    * selection. One shuffle on the stratum key; the per-stratum sort is
    * a window rank, never a global sort. Returns (stratum, id, rank). */
  def curateTopK(df: DataFrame, k: Int, strataCol: String = "source",
                 idCol: String = "doc_id",
                 textCol: String = "text"): DataFrame = {
    val scored = withQualityFeatures(df, textCol)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(strataCol))
      .orderBy(col("quality_score").desc, col(idCol).asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(strataCol), col(idCol), col("rank").cast("long").as("rank"))
  }

  /** Token-commonness score: the mean corpus document-frequency of each
    * document's tokens - low means the document is built from words the
    * rest of the corpus never uses (gibberish, the wrong language,
    * OCR noise); the complement of [[withOovRate]]'s fixed-vocabulary
    * view. `sum_df` is an exact integer sum, `mean_df` one int/int
    * division - engine-reproducible. Plan: one distinct to (doc, term),
    * one hash aggregate to the vocabulary, one equi-join back on the
    * term (vocabulary-sized frame, shuffled not broadcast - web-scale
    * vocab can be billions of terms), one per-doc aggregate.
    *
    * Skew note: the dfreq side joins back co-partitioned on its own
    * grouping key, the regime AQE's skew rule cannot split (it needs a
    * fresh shuffle on both sides) - under a diagnosed hot term, route
    * the join through [[graft.operators.Skew.saltedJoin]]; measured
    * trade-off in PLANS.md "skew-join adoption". */
  def withCommonnessScore(df: DataFrame, idCol: String = "doc_id",
                          textCol: String = "text"): DataFrame = {
    val words = df.select(col(idCol),
      explode(normalizedWords(col(textCol))).as("term"))
    val dfreq = words.select(col(idCol), col("term")).distinct()
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
    val scores = words.join(dfreq, Seq("term"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"), sum(col("df")).cast("long").as("sum_df"))
      .withColumn("mean_df", col("sum_df").cast("double") / col("n_tokens"))
    df.join(scores, Seq(idCol), "left")
      .withColumn("n_tokens", coalesce(col("n_tokens"), lit(0L)))
      .withColumn("sum_df", coalesce(col("sum_df"), lit(0L)))
      .withColumn("mean_df", coalesce(col("mean_df"), lit(0.0)))
  }

  /** Per-source language distribution: how many documents of each
    * stratum the [[withLangId]] classifier assigns to each language -
    * the mixture view a multilingual data pipeline monitors. One hash
    * aggregate over (source, lang) keys, map-side combine. */
  def sourceLangReport(df: DataFrame, strataCol: String = "source",
                       textCol: String = "text"): DataFrame =
    withLangId(df, textCol)
      .groupBy(col(strataCol), col("lang_pred"))
      .agg(count(lit(1)).as("n_docs"))

  /** Per-source corpus health report: document/keep counts, token and
    * char volume, and the dominant drop reason for each stratum of
    * `strataCol` - the dashboard a data-mixing decision reads (which
    * crawl is rotting, which source the quality filter is eating).
    *
    * Every aggregate is an integer sum/count (engine-exact); the one
    * double, `keep_rate`, is a single int/int division. The dominant
    * reason is picked under a TOTAL order (count desc, reason asc) so
    * ties are deterministic. Two hash aggregations over |sources| keys
    * plus a |sources|-sized window - map-side combine absorbs the
    * per-doc stream, so the shuffle carries one row per (source,
    * reason). */
  def sourceQualityReport(df: DataFrame, strataCol: String = "source",
                          textCol: String = "text",
                          t: QualityThresholds = QualityThresholds()): DataFrame = {
    val scored = withQualityFilter(df, textCol, t)
    val base = scored.groupBy(col(strataCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("keep")).cast("long").as("n_kept"),
        sum(col("n_words")).cast("long").as("total_words"),
        sum(col("n_chars_calc")).cast("long").as("total_chars"))
      .withColumn("keep_rate", col("n_kept").cast("double") / col("n_docs"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(strataCol))
      .orderBy(col("n").desc, col("drop_reason").asc)
    val top = scored.filter(col("drop_reason").isNotNull)
      .groupBy(col(strataCol), col("drop_reason"))
      .agg(count(lit(1)).as("n"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col(strataCol), col("drop_reason").as("top_drop_reason"))
    base.join(top, Seq(strataCol), "left")
      .select(col(strataCol), col("n_docs"), col("n_kept"), col("keep_rate"),
        col("total_words"), col("total_chars"), col("top_drop_reason"))
  }

  /** Per-source token-length histogram on log2 buckets - the
    * sequence-budget planning table (how much of each source fits a
    * 2k/8k/32k context, what packing wastes, where truncation bites).
    * bucket = number of binary digits of the token count (len(bin(n)):
    * 1 for 1, 2 for 2-3, 3 for 4-7, ...; 0 reserved for null text), an
    * INTEGER-EXACT log2 floor - floor(log2(n)) through doubles misranks
    * exact powers of two on engines whose log2 lands a ulp low.
    *
    * One scan, one hash aggregate on (source, bucket) with map-side
    * combine; all outputs integers, so the aggregate hash-matches any
    * engine. Null sources group together (a real category: unattributed
    * docs); null text lands in bucket 0 with 0 tokens. */
  def lengthHistogram(df: DataFrame, strataCol: String = "source",
                      textCol: String = "text"): DataFrame = {
    val n = coalesce(wordCount(col(textCol)), lit(0))
    df.select(col(strataCol).as("source"), n.as("__n"))
      .withColumn("bucket",
        when(col("__n") <= 0, lit(0)).otherwise(length(bin(col("__n")))))
      .groupBy(col("source"), col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("__n")).cast("long").as("sum_tokens"),
        min(col("__n")).as("min_tokens"),
        max(col("__n")).as("max_tokens"))
  }
}
