package graft.registry

import org.apache.spark.sql.functions._
import graft.llm.TextAnalysis
import graft.registry.Shared._
import graft.sources.Readers

/** Sampling, mixing, packing and splitting queries. */
object SampleQueries {

  /** Train -> encode -> pack oracle: the per-doc BPE token counts from
    * [[bpeEncodeCtes]] feed the same per-source running-offset chunk
    * layout q_pack_chunks pins (zero-token docs occupy no span). */
  private def bpePackSql(rounds: Int, seqLen: Int): String =
    s"""WITH ${bpeEncodeCtes(rounds)},
         nd AS (SELECT d0.doc_id, d0.source,
                  coalesce(a.n_tokens, 0) AS n_tokens
                FROM (SELECT doc_id, source FROM documents) d0
                LEFT JOIN agg a ON a.doc_id = d0.doc_id),
         o AS (SELECT doc_id, source, n_tokens,
                 sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                   ROWS UNBOUNDED PRECEDING) - n_tokens AS tok_start
               FROM nd),
         s AS (SELECT doc_id, source, tok_start,
                 tok_start + n_tokens AS tok_end
               FROM o WHERE n_tokens > 0)
         SELECT doc_id, source, CAST(ch AS BIGINT) AS chunk_id,
                CAST(greatest(tok_start - ch * $seqLen, 0) AS BIGINT)
                  AS begin_off,
                CAST(least(tok_end - ch * $seqLen, $seqLen) AS BIGINT)
                  AS end_off
         FROM s, UNNEST(generate_series(
           CAST(floor(tok_start / $seqLen.0) AS BIGINT),
           CAST(floor((tok_end - 1) / $seqLen.0) AS BIGINT))) AS t(ch)"""

  /** Shared CTE chain (through per-doc `cp` with its copy count) for
    * the upsampling-mixture oracles - q_sample_mixture_up reads `cp`
    * directly, q_sample_mixture_real explodes it into one row per
    * copy. Mirrors Splitting.mixtureRepeat: rate = round(least(ratio /
    * min_positive(ratio), 64), 6), copies = floor(rate) + the
    * hash-fractional extra (FALSE-coalesced so null text keeps its
    * base copies), out-of-recipe strata 0. */
  private def mixtureUpCtesSql: String =
    """d AS (SELECT doc_id, text,
             CASE WHEN doc_id % 10 < 7 THEN 'big'
                  WHEN doc_id % 10 < 9 THEN 'mid'
                  ELSE 'small' END AS stratum
           FROM documents),
         c AS (SELECT stratum, count(*) AS n FROM d
           WHERE stratum IS NOT NULL GROUP BY stratum),
         r0 AS (SELECT stratum,
             (CASE WHEN stratum = 'big' THEN 0.3
                   WHEN stratum = 'small' THEN 0.7
                   ELSE 0.0 END) / CAST(n AS DOUBLE) AS ratio
           FROM c),
         r AS (SELECT stratum,
             CASE WHEN ratio = 0
                    OR (SELECT min(ratio) FROM r0 WHERE ratio > 0) IS NULL
                  THEN 0.0
                  ELSE round(least(
                    ratio / (SELECT min(ratio) FROM r0 WHERE ratio > 0),
                    64.0), 6) END AS rate
           FROM r0),
         cut AS (SELECT stratum,
             CAST(floor(rate) AS INT) AS base,
             CASE WHEN round((rate - floor(rate)) * 4294967296.0)
                    >= 4294967296.0
                  THEN 'g'
                  ELSE lower(lpad(hex(CAST(
                    round((rate - floor(rate)) * 4294967296.0)
                    AS BIGINT)), 8, '0')) END AS fcut
           FROM r),
         cp AS (SELECT d.doc_id, d.stratum,
                coalesce(cut.base, 0)
                  + CAST(coalesce(substr(md5('mixrep-v1' || d.text), 1, 8)
                      < coalesce(cut.fcut, '00000000'), FALSE) AS INT)
                  AS copies
           FROM d LEFT JOIN cut ON cut.stratum = d.stratum)"""

  val all: Seq[Q] = Seq(
    // deterministic per-source down-sampling (data mixing)
    Q("q_sample_stratified", (s, dir) =>
      graft.llm.Splitting.sampleStratified(Readers.table(s, dir, "documents"),
        rates = Map("src0" -> 0.25, "src1" -> 0.5, "src2" -> 0.0,
          "src3" -> 1.0), defaultRate = 0.75)
        .select(col("doc_id"), col("source"), col("sample_bucket"),
          col("kept")),
      // stratified sampling: cutoffs are rateCutoffHex() of the rates in
      // the registered query ('g' = keep-all sentinel above every hex)
      """SELECT doc_id, source,
             substr(md5('sample-v1' || text), 1, 8) AS sample_bucket,
             CAST(substr(md5('sample-v1' || text), 1, 8) <
               CASE source WHEN 'src0' THEN '40000000'
                    WHEN 'src1' THEN '80000000'
                    WHEN 'src2' THEN '00000000'
                    WHEN 'src3' THEN 'g'
                    ELSE 'c0000000' END AS INT) AS kept
         FROM documents"""),

    // temperature resampling (alpha=0.5) over a deliberately SKEWED
    // derived stratum (~70/20/10) - the fixture sources are uniform, so
    // sampling on them would make every rate exactly 1.0 and the
    // counts->rates->cutoff chain would never be exercised by the gate
    Q("q_sample_temperature", (s, dir) =>
      graft.llm.Splitting.temperatureSample(
        Readers.table(s, dir, "documents").withColumn("stratum",
          when(pmod(col("doc_id"), lit(10)) < 7, "big")
            .when(pmod(col("doc_id"), lit(10)) < 9, "mid")
            .otherwise("small")),
        alpha = 0.5, strataCol = "stratum")
        .select(col("doc_id"), col("stratum"), col("kept")),
      // temperature resampling recomputed end-to-end over the skewed
      // derived stratum: counts (null strata excluded from n_min, as in
      // Spark), rate = round((n/n_min)^(alpha-1), 6), 32-bit hex cutoff
      // (lower(lpad(hex(...)))) matching Splitting.rateCutoffHex, then
      // the same salted-hash survival test. A rate of exactly 1 (the
      // smallest stratum) maps to the 'g' sentinel, which sorts above
      // every hex bucket - keep-all, as in Spark.
      """WITH d AS (SELECT doc_id, text,
             CASE WHEN doc_id % 10 < 7 THEN 'big'
                  WHEN doc_id % 10 < 9 THEN 'mid'
                  ELSE 'small' END AS stratum
           FROM documents),
         c AS (SELECT stratum, count(*) AS n FROM d
           WHERE stratum IS NOT NULL GROUP BY stratum),
         r AS (SELECT stratum,
             round(pow(CAST(n AS DOUBLE) / (SELECT min(n) FROM c),
               0.5 - 1.0), 6) AS rate
           FROM c),
         cut AS (SELECT stratum,
             CASE WHEN round(rate * 4294967296.0) >= 4294967296.0
                  THEN 'g'
                  ELSE lower(lpad(hex(CAST(round(rate * 4294967296.0)
                    AS BIGINT)), 8, '0')) END AS cutoff
           FROM r)
         SELECT d.doc_id, d.stratum,
                CAST(substr(md5('temp-v1' || d.text), 1, 8)
                  < coalesce(cut.cutoff, 'g') AS INT) AS kept
         FROM d LEFT JOIN cut ON cut.stratum = d.stratum"""),

    // greedy token-budget selection: best documents by stopword-ratio
    // quality score until 10k BPE-ish tokens are spent; the global
    // greedy order runs through the sharded prefix sum (no single-task
    // window), the straddling doc is kept (cum_before < budget)
    Q("q_sample_token_budget", (s, dir) => {
      // the fixture tables are single-row-group parquet files, so the
      // scan stage is ONE task no matter the size; the regex-heavy
      // scoring would serialize through it (measured: the 30x slope
      // rose to ~0.9 purely from this). Repartition the raw text first
      // - one cheap shuffle buys full-width parallelism for the map
      // stage, exactly what multi-split input gives free at real scale
      val docs = Readers.table(s, dir, "documents").repartition(shufflePartitions(s), col("doc_id"))
      val scored = TextAnalysis.withQualityFeatures(docs)
        .select(col("doc_id"),
          TextAnalysis.tokenCountBpeIsh(col("text")).as("n_tokens"),
          col("stopword_ratio").as("score"))
      graft.llm.Splitting.tokenBudgetSelect(scored, budget = 10000L,
        scoreCol = "score", tokenCol = "n_tokens")
    },
      // greedy token-budget selection recomputed: the q_t_tokens BPE-ish
      // token count and the q_t_quality stopword-ratio score (both
      // already hash-matched queries, so the doubles agree bit-for-bit),
      // a window cumsum in (score DESC, doc_id ASC) order, keep every
      // row whose preceding sum is under the 10k budget
      """WITH s AS (SELECT doc_id,
             CAST(len(list_filter(string_split_regex(text, '[^A-Za-z0-9]+'),
                    t -> t <> ''))
               + length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g'))
               AS INT) AS n_tokens,
             CAST(len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
               w -> list_contains(['the','a','an','and','or','of','to','in','is',
                 'it','that','for','on','with','as','was','at','by'], w)))
               AS DOUBLE)
               / len(string_split_regex(lower(trim(text)), '\s+')) AS score
           FROM documents),
         c AS (SELECT doc_id, n_tokens, score,
             CAST(coalesce(sum(n_tokens) OVER (
               ORDER BY score DESC, doc_id ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS cum_before
           FROM s)
         SELECT doc_id, n_tokens, score, cum_before FROM c
         WHERE cum_before < 10000"""),

    // PER-STRATUM token budgets - the data-mixing recipe ("2000 src0
    // tokens, 1000 src1, 500 src2, 300 everything else"): one sharded
    // prefix-sum pass keyed on the source, budget cut by a literal
    // when-chain; named budgets, the default fallback, and the greedy
    // straddler rule all under the hash gate
    Q("q_sample_budget_stratum", (s, dir) => {
      // single-row-group source: parallelize the scoring map stage
      // explicitly (see q_sample_token_budget)
      val docs = Readers.table(s, dir, "documents").repartition(shufflePartitions(s), col("doc_id"))
      val scored = TextAnalysis.withQualityFeatures(docs)
        .select(col("doc_id"), col("source"),
          TextAnalysis.tokenCountBpeIsh(col("text")).as("n_tokens"),
          col("stopword_ratio").as("score"))
      graft.llm.Splitting.tokenBudgetSelectPerStratum(scored,
        budgets = Map("src0" -> 2000L, "src1" -> 1000L, "src2" -> 500L),
        scoreCol = "score", tokenCol = "n_tokens", strataCol = "source",
        defaultBudget = 300L)
    },
      // per-stratum greedy budgets: the same tokenizer/score columns,
      // cum_before partitioned by source, cut by the per-source budget
      // (named budgets + the 300-token default fallback)
      """WITH s AS (SELECT doc_id, source,
             CAST(len(list_filter(string_split_regex(text, '[^A-Za-z0-9]+'),
                    t -> t <> ''))
               + length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g'))
               AS INT) AS n_tokens,
             CAST(len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
               w -> list_contains(['the','a','an','and','or','of','to','in','is',
                 'it','that','for','on','with','as','was','at','by'], w)))
               AS DOUBLE)
               / len(string_split_regex(lower(trim(text)), '\s+')) AS score
           FROM documents),
         c AS (SELECT doc_id, source, n_tokens, score,
             CAST(coalesce(sum(n_tokens) OVER (PARTITION BY source
               ORDER BY score DESC, doc_id ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS cum_before
           FROM s)
         SELECT doc_id, source, n_tokens, score, cum_before FROM c
         WHERE cum_before < CASE source WHEN 'src0' THEN 2000
                                        WHEN 'src1' THEN 1000
                                        WHEN 'src2' THEN 500
                                        ELSE 300 END"""),

    // explicit target-weight mixture over the same skewed stratum:
    // big targets 30%, small 70%, mid is OUT of the recipe (weight 0 ->
    // dropped) - exercises the keep-all sentinel, a fractional cutoff,
    // and the zero-drop path in one query
    Q("q_sample_mixture", (s, dir) =>
      graft.llm.Splitting.mixtureSample(
        Readers.table(s, dir, "documents").withColumn("stratum",
          when(pmod(col("doc_id"), lit(10)) < 7, "big")
            .when(pmod(col("doc_id"), lit(10)) < 9, "mid")
            .otherwise("small")),
        weights = Map("big" -> 0.3, "small" -> 0.7),
        strataCol = "stratum")
        .select(col("doc_id"), col("stratum"), col("kept")),
      // target-weight mixture recomputed: same skewed stratum, ratio =
      // CASE-weight / n, rate = round(ratio / max(ratio), 6), the shared
      // 32-bit cutoff chain; out-of-recipe strata get the '00000000'
      // drop-all cutoff (vs temperatureSample's keep-null 'g')
      """WITH d AS (SELECT doc_id, text,
             CASE WHEN doc_id % 10 < 7 THEN 'big'
                  WHEN doc_id % 10 < 9 THEN 'mid'
                  ELSE 'small' END AS stratum
           FROM documents),
         c AS (SELECT stratum, count(*) AS n FROM d
           WHERE stratum IS NOT NULL GROUP BY stratum),
         r0 AS (SELECT stratum,
             (CASE WHEN stratum = 'big' THEN 0.3
                   WHEN stratum = 'small' THEN 0.7
                   ELSE 0.0 END) / CAST(n AS DOUBLE) AS ratio
           FROM c),
         r AS (SELECT stratum,
             CASE WHEN (SELECT max(ratio) FROM r0) = 0 THEN NULL
                  ELSE round(ratio / (SELECT max(ratio) FROM r0), 6)
                  END AS rate
           FROM r0),
         cut AS (SELECT stratum,
             CASE WHEN rate IS NULL THEN '00000000'
                  WHEN round(rate * 4294967296.0) >= 4294967296.0
                  THEN 'g'
                  ELSE lower(lpad(hex(CAST(round(rate * 4294967296.0)
                    AS BIGINT)), 8, '0')) END AS cutoff
           FROM r)
         SELECT d.doc_id, d.stratum,
                CAST(substr(md5('mix-v1' || d.text), 1, 8)
                  < coalesce(cut.cutoff, '00000000') AS INT) AS kept
         FROM d LEFT JOIN cut ON cut.stratum = d.stratum"""),

    // repetition/upsampling mixture over the same recipe: small's 70%
    // target sits far above its 10% natural share -> integer copies
    // (floor(rate) + hash-fractional extra); big is the keep-once
    // reference, mid is out of recipe (0 copies)
    Q("q_sample_mixture_up", (s, dir) =>
      graft.llm.Splitting.mixtureRepeat(
        Readers.table(s, dir, "documents").withColumn("stratum",
          when(pmod(col("doc_id"), lit(10)) < 7, "big")
            .when(pmod(col("doc_id"), lit(10)) < 9, "mid")
            .otherwise("small")),
        weights = Map("big" -> 0.3, "small" -> 0.7),
        strataCol = "stratum")
        .select(col("doc_id"), col("stratum"), col("copies")),
      // upsampling mixture recomputed: rate = round(least(ratio /
      // min_positive(ratio), 64), 6) >= 1, copies = floor(rate) + the
      // hash-fractional extra under the shared 32-bit cutoff chain;
      // out-of-recipe strata get 0 copies
      s"""WITH $mixtureUpCtesSql
         SELECT doc_id, stratum, copies FROM cp"""),

    // the upsampling mixture REALIZED: one physical row per copy,
    // bounded explode behind the load-bearing copies>0 filter
    Q("q_sample_mixture_real", (s, dir) =>
      graft.llm.Splitting.realizeCopies(
        graft.llm.Splitting.mixtureRepeat(
          Readers.table(s, dir, "documents").withColumn("stratum",
            when(pmod(col("doc_id"), lit(10)) < 7, "big")
              .when(pmod(col("doc_id"), lit(10)) < 9, "mid")
              .otherwise("small")),
          weights = Map("big" -> 0.3, "small" -> 0.7),
          strataCol = "stratum"))
        .select(col("doc_id"), col("stratum"), col("copy_idx")),
      // the realization: one row per (doc, 1..copies); generate_series is
      // inclusive like Spark's sequence, and copies=0 rows emit nothing
      s"""WITH $mixtureUpCtesSql
         SELECT doc_id, stratum, CAST(ci AS INT) AS copy_idx
         FROM cp, UNNEST(generate_series(1, copies)) AS t(ci)
         WHERE copies > 0"""),

    // deterministic training-order shuffle: content-hash shard + rank
    // within shard - a reproducible permutation with no global sort
    Q("q_shuffle_order", (s, dir) =>
      graft.llm.Splitting.shuffleOrder(Readers.table(s, dir, "documents"))
        .select(col("doc_id"), col("shard"), col("pos")),
      // training-order shuffle recomputed: same salted hash, first hex
      // char as the shard, rank of (full hash, id) within the shard
      """SELECT doc_id, substr(md5('shuffle-v1' || text), 1, 1) AS shard,
             CAST(row_number() OVER (
               PARTITION BY substr(md5('shuffle-v1' || text), 1, 1)
               ORDER BY md5('shuffle-v1' || text) ASC, doc_id ASC)
               AS BIGINT) AS pos
         FROM documents"""),

    // token-budget sequence packing: next-fit bin by cumulative offset
    Q("q_pack_bins", (s, dir) => {
      // project BEFORE packing: cumBefore pins one materialization of
      // its input, so the pinned frame must be the narrow (id, stratum,
      // tokens) projection, not the full corpus row with text
      val docs = Readers.table(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          TextAnalysis.wordCount(col("text")).as("n_tokens"))
      graft.llm.Packing.assignBins(docs, budgetTokens = 512)
        .select(col("doc_id"), col("source"), col("n_tokens"),
          col("pack_bin"))
    },
      """SELECT doc_id, source, n_tokens,
             CAST(floor((cum - n_tokens) / 512) AS BIGINT) AS pack_bin
         FROM (
           SELECT doc_id, source, n_tokens,
                  sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                    ROWS UNBOUNDED PRECEDING) AS cum
           FROM (SELECT doc_id, source,
                   CAST(len(string_split_regex(trim(text), '\s+')) AS INT)
                     AS n_tokens
                 FROM documents))"""),

    // concat-and-chunk packing: one (doc, chunk) span row per fixed
    // 256-token training sequence the doc touches; docs straddle cuts
    Q("q_pack_chunks", (s, dir) => {
      // narrow projection before packing (see q_pack_bins)
      val docs = Readers.table(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          TextAnalysis.wordCount(col("text")).as("n_tokens"))
      graft.llm.Packing.assignChunks(docs, seqLen = 256)
        .select(col("doc_id"), col("source"), col("chunk_id"),
          col("begin_off"), col("end_off"))
    },
      // concat-and-chunk recomputed from the same per-stratum running
      // token offset: a doc spans chunks floor(start/256)..floor((end-1)/
      // 256) and contributes the in-chunk range [begin_off, end_off);
      // integer-only, zero-token docs emit nothing on both sides
      """WITH o AS (
           SELECT doc_id, source, n_tokens,
                  sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                    ROWS UNBOUNDED PRECEDING) - n_tokens AS tok_start
           FROM (SELECT doc_id, source,
                   CAST(len(string_split_regex(trim(text), '\s+')) AS INT)
                     AS n_tokens
                 FROM documents)),
         s AS (SELECT doc_id, source, tok_start,
                      tok_start + n_tokens AS tok_end
               FROM o WHERE n_tokens > 0)
         SELECT doc_id, source, CAST(ch AS BIGINT) AS chunk_id,
                CAST(greatest(tok_start - ch * 256, 0) AS BIGINT)
                  AS begin_off,
                CAST(least(tok_end - ch * 256, 256) AS BIGINT) AS end_off
         FROM s, UNNEST(generate_series(
           CAST(floor(tok_start / 256.0) AS BIGINT),
           CAST(floor((tok_end - 1) / 256.0) AS BIGINT))) AS t(ch)"""),

    // leakage-safe split: whole near-dup clusters share one train/val/
    // test assignment (keyed by the cluster's min content hash); reuses
    // the session-memoized md5-minhash pair frame
    Q("q_split_leakage_safe", (s, dir) =>
      graft.llm.Splitting.leakageSafeSplit(
        Readers.table(s, dir, "documents"), minhashMd5PairsShared(s, dir))
        .select(col("doc_id"), col("source"), col("split_bucket"),
          col("split")),
      // leakage-safe split: the SAME pairs + component chain as
      // q_d_dedup_e2e, then one cluster key (min per-doc md5) and the
      // assignSplit bucket CASE over it; docs in no pair cluster alone
      {
        val rounds = (1 to 12).map { i =>
          s"""l$i AS MATERIALIZED (SELECT n.id,
             least(n.lbl, coalesce(m.mn, n.lbl)) AS lbl
           FROM l${i - 1} n LEFT JOIN (
             SELECT s.u, min(x.lbl) AS mn FROM sym s
             JOIN l${i - 1} x ON x.id = s.v GROUP BY s.u) m
             ON m.u = n.id)"""
        }.mkString(",\n         ")
        s"""WITH $minhashMd5CtesSql,
         sym AS MATERIALIZED (SELECT id_a AS u, id_b AS v FROM pairs
                 UNION SELECT id_b, id_a FROM pairs),
         l0 AS MATERIALIZED (SELECT DISTINCT u AS id, u AS lbl FROM sym),
         $rounds,
         cl AS (SELECT d.doc_id, d.source, d.text,
                       coalesce(l.lbl, d.doc_id) AS cluster
                FROM documents d LEFT JOIN l12 l ON l.id = d.doc_id),
         k AS (SELECT cluster, substr(min(md5(text)), 1, 2) AS b
               FROM cl GROUP BY cluster)
         SELECT cl.doc_id, cl.source, k.b AS split_bucket,
                CASE WHEN k.b < 'cc' THEN 'train'
                     WHEN k.b < 'e6' THEN 'val'
                     ELSE 'test' END AS split
         FROM cl JOIN k USING (cluster)"""
      }),

    // the tokenizer chain END-TO-END: train (memoized) -> encode ->
    // concat-and-chunk pack on the REAL BPE token counts - the
    // pretraining sequence layout a data pipeline actually ships
    Q("q_pack_bpe", (s, dir) => {
      val merges = bpeMergesShared(s, dir).map { case (_, l, r, _) => (l, r) }
      val docs = tDocsPar(s, dir)
      // count-only encode path: packing needs lengths, not id arrays
      val enc = TextAnalysis.bpeTokenCounts(docs, merges)
      graft.llm.Packing.assignChunks(
          docs.select(col("doc_id"), col("source")).join(enc, Seq("doc_id")),
          seqLen = 256)
        .select(col("doc_id"), col("source"), col("chunk_id"),
          col("begin_off"), col("end_off"))
    },
      // tokenizer chain end-to-end: the encode chain's n_tokens feeding
      // the q_pack_chunks per-source running-offset chunk layout
      bpePackSql(6, 256)),

    // pack -> partitioned-export ROUND TRIP: assignChunks on real BPE
    // counts written via Export.writePartitioned (salted repartition:
    // bounded files AND parallel writers) then read back - the registry
    // gate for the write path; DuckDB recomputes the chunk layout
    // directly, so any row lost/duplicated/mangled by the export fails
    // the compare. File-count bounds are pinned in SkewSpec.
    Q("q_pack_export", (s, dir) => {
      val outDir = graft.pipeline.Memo.once(s, s"pack_export:$dir") {
        val merges = bpeMergesShared(s, dir).map { case (_, l, r, _) => (l, r) }
        val docs = Readers.table(s, dir, "documents")
        // tDocsPar: the count-encode tokenize is the same single-file
        // map stage q_pack_bpe already spreads (guide §2.5 input skew);
        // chunk assignment is partitioning-invariant (Packing scaladoc)
        val enc = TextAnalysis.bpeTokenCounts(tDocsPar(s, dir), merges)
        val chunks = graft.llm.Packing.assignChunks(
            docs.select(col("doc_id"), col("source")).join(enc, Seq("doc_id")),
            seqLen = 512)
          .select(col("doc_id"), col("source"), col("chunk_id"),
            col("begin_off"), col("end_off"))
        val out = scratchDir("graft_pack_export").toString
        graft.llm.Export.writePartitioned(chunks, out,
          partitionCols = Seq("source"), sortCol = "doc_id",
          targetRowsPerFile = 200L)
        out
      }
      s.read.parquet(outDir)
        .select(col("doc_id"), col("source"), col("chunk_id"),
          col("begin_off"), col("end_off"))
    },
      // export round trip: the oracle recomputes the seqLen=512 chunk
      // layout directly; equality proves the partitioned write+read is
      // lossless
      bpePackSql(6, 512)),

    // deterministic content-hash train/val/test assignment
    Q("q_split_hash", (s, dir) =>
      graft.llm.Splitting.assignSplit(Readers.table(s, dir, "documents"))
        .select(col("doc_id"), col("split_bucket"), col("split")),
      // content-hash split: first md5 byte, hex-string range compare
      """SELECT doc_id, substr(md5(text), 1, 2) AS split_bucket,
             CASE WHEN substr(md5(text), 1, 2) < 'cc' THEN 'train'
                  WHEN substr(md5(text), 1, 2) < 'e6' THEN 'val'
                  ELSE 'test' END AS split
         FROM documents""")
  )
}
