package graft.registry

import org.apache.spark.sql.functions._
import graft.llm.{Ann, Dedup, TextAnalysis}
import graft.registry.Shared._
import graft.sources.Readers

/** Deduplication and contamination queries: exact, normalized,
  * MinHash, SimHash, n-gram and winnowing pair finders, component
  * labelling and survivorship, reference overlap. */
object DedupQueries {

  /** Parameterized md5-minhash oracle CTEs ending in a `pairs`
    * relation (id_a, id_b, jaccard): word `shingleN`-grams, `k` md5
    * permutations, `bands` bands of k/bands rows, the shared
    * maxBucketSize=1000 cut, an optional integer signature-agreement
    * floor (`estMinAgree` of k positions equal - the two-stage ngram
    * variant's estimate filter), and exact-Jaccard verification at
    * `threshold`. [[minhashMd5CtesSql]] remains the fixed (16, 8, 3,
    * 0.5) instance shared by the q_d_minhash_md5 / q_d_dedup_e2e
    * chain; this generator backs the re-keyed pair queries. */
  private def minhashMd5ParamCtes(k: Int, bands: Int, shingleN: Int,
                                  threshold: Double,
                                  estMinAgree: Int): String = {
    val rows = k / bands
    val shingle =
      if (shingleN < 2) "unnest(list_distinct(ws)) AS shingle"
      else s"""unnest(CASE WHEN len(ws) < $shingleN
               THEN [array_to_string(ws, ' ')]
               ELSE list_distinct(list_transform(
                 generate_series(1, len(ws) - ${shingleN - 1}),
                 i -> array_to_string(ws[i : i + ${shingleN - 1}], ' ')))
               END) AS shingle"""
    val estStage =
      if (estMinAgree <= 0) "cand AS (SELECT id_a, id_b FROM cand0)"
      else s"""cand AS (SELECT c.id_a, c.id_b
           FROM cand0 c
           JOIN sigs sa ON sa.doc_id = c.id_a
           JOIN sigs sb ON sb.doc_id = c.id_b
           WHERE len(list_filter(range(1, ${k + 1}),
             i -> sa.sig[i] = sb.sig[i])) >= $estMinAgree)"""
    s"""w AS (SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[^a-z0-9_]+'),
               t -> t <> '') AS ws
           FROM documents),
         g AS (SELECT doc_id, $shingle
           FROM w),
         shs AS (SELECT doc_id, list(shingle) AS sh FROM g GROUP BY doc_id),
         sigs AS (SELECT doc_id,
             list_transform(range(1, ${k + 1}), i ->
               list_min(list_transform(sh,
                 s -> substr(md5(i || '|' || s), 1, 16)))) AS sig
           FROM shs),
         bnd AS (SELECT doc_id, b,
             array_to_string(sig[b*$rows+1 : b*$rows+$rows], '#') AS bandval
           FROM sigs, LATERAL (SELECT unnest(range(0, $bands)) AS b)),
         bndk AS (SELECT doc_id, b, bandval FROM (
             SELECT doc_id, b, bandval,
                    count(*) OVER (PARTITION BY b, bandval) AS bsz
             FROM bnd)
           WHERE bsz <= 1000),
         cand0 AS (SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b
           FROM bndk a JOIN bndk c
             ON a.b = c.b AND a.bandval = c.bandval
             AND a.doc_id < c.doc_id),
         $estStage,
         sz AS (SELECT doc_id, count(*) AS nsh FROM g GROUP BY doc_id),
         common AS (SELECT x.doc_id AS id_a, y.doc_id AS id_b,
             count(*) AS n_common
           FROM g x JOIN g y USING (shingle)
           WHERE x.doc_id < y.doc_id GROUP BY 1, 2),
         pairs AS (SELECT p.id_a, p.id_b,
                CAST(cm.n_common AS DOUBLE)
                  / (na.nsh + nb.nsh - cm.n_common) AS jaccard
           FROM cand p
           JOIN common cm ON cm.id_a = p.id_a AND cm.id_b = p.id_b
           JOIN sz na ON na.doc_id = p.id_a
           JOIN sz nb ON nb.doc_id = p.id_b
           WHERE CAST(cm.n_common AS DOUBLE)
                   / (na.nsh + nb.nsh - cm.n_common) >= $threshold)"""
  }

  /** md5-bit SimHash pair oracle for an arbitrary radius: the same
    * signature construction as the q_d_simhash_md5 oracle, with
    * maxHamming+1 blocking chunks whose widths distribute the 64 chars
    * exactly as Dedup.simhashMd5Pairs does. */
  private def simhashMd5PairsSql(maxHamming: Int): String = {
    val chunks = maxHamming + 1
    val widths = Array.fill(chunks)(64 / chunks)
    (0 until 64 % chunks).foreach(widths(_) += 1)
    val offsets = widths.scanLeft(0)(_ + _).init
    val chunkSel = (0 until chunks).map(c =>
      s"SELECT doc_id, $c AS chunk, " +
        s"substr(sig, ${offsets(c) + 1}, ${widths(c)}) AS chunkVal FROM sig")
      .mkString("\n           UNION ALL ")
    s"""WITH w AS (SELECT doc_id,
             list_filter(string_split_regex(
                 lower(trim(coalesce(text, ''))), '[^a-z0-9_]+'),
               t -> t <> '') AS ws
           FROM documents),
         tok AS (SELECT doc_id, unnest(ws) AS t FROM w),
         bits AS (SELECT doc_id, CAST(j AS INT) AS j,
             ((strpos('0123456789abcdef',
                 substr(md5(t), CAST(j // 4 AS INT) + 1, 1)) - 1)
               >> (3 - CAST(j % 4 AS INT))) & 1 AS bit
           FROM tok CROSS JOIN range(0, 64) r(j)),
         sums AS (SELECT doc_id, j, sum(bit) AS s
           FROM bits GROUP BY doc_id, j),
         sig0 AS (SELECT doc_id,
             string_agg(CASE WHEN 2 * s > n THEN '1' ELSE '0' END,
               '' ORDER BY j) AS sig
           FROM sums JOIN (SELECT doc_id, len(ws) AS n FROM w) ln
             USING (doc_id)
           GROUP BY doc_id),
         sig AS (SELECT w.doc_id,
             coalesce(sig0.sig, repeat('0', 64)) AS sig
           FROM w LEFT JOIN sig0 ON w.doc_id = sig0.doc_id),
         chunked AS ($chunkSel),
         bounded AS (SELECT doc_id, chunk, chunkVal FROM (
             SELECT doc_id, chunk, chunkVal,
                    count(*) OVER (PARTITION BY chunk, chunkVal) AS bsz
             FROM chunked)
           WHERE bsz <= 1000),
         cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
           FROM bounded a JOIN bounded b
             ON a.chunk = b.chunk AND a.chunkVal = b.chunkVal
             AND a.doc_id < b.doc_id)
         SELECT c.id_a, c.id_b,
                CAST(len(list_filter(range(1, 65),
                  i -> substr(sa.sig, CAST(i AS INT), 1)
                    <> substr(sb.sig, CAST(i AS INT), 1))) AS INT) AS hamming
         FROM cand c
         JOIN sig sa ON sa.doc_id = c.id_a
         JOIN sig sb ON sb.doc_id = c.id_b
         WHERE len(list_filter(range(1, 65),
           i -> substr(sa.sig, CAST(i AS INT), 1)
             <> substr(sb.sig, CAST(i AS INT), 1))) <= $maxHamming"""
  }

  val all: Seq[Q] = Seq(
    // ---- LLM-pipeline operators over documents/embeddings ----
    Q("q_d_exact_dedup", (s, dir) =>
      Dedup.exact(Readers.table(s, dir, "documents")),
      """SELECT text, min(doc_id) AS keep_id, count(*) AS dup_count
         FROM documents GROUP BY text"""),

    // EXACT n-gram Jaccard pairs via the shingle inverted index (the
    // deterministic, LSH-free near-dup path; df-cut mirrored in the
    // oracle)
    Q("q_d_jaccard_exact", (s, dir) =>
      Dedup.jaccardPairsExact(Readers.table(s, dir, "documents"), threshold = 0.5,
        maxDf = 400),
      // exact inverted-index Jaccard recomputed with the same tokenizer
      // ([a-z0-9_] runs of the lowercased text), 3-gram shingles, <3
      // tokens degrading to one whole-text shingle, and the df<=400 cut
      """WITH w AS (SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[^a-z0-9_]+'),
               t -> t <> '') AS ws
           FROM documents),
         g AS (SELECT doc_id,
             unnest(CASE WHEN len(ws) < 3 THEN [array_to_string(ws, ' ')]
               ELSE list_distinct(list_transform(
                 generate_series(1, len(ws) - 2),
                 i -> array_to_string(ws[i : i + 2], ' '))) END) AS shingle
           FROM w),
         sz AS (SELECT doc_id, count(*) AS nsh FROM g GROUP BY doc_id),
         kept AS (SELECT * FROM g
           QUALIFY count(*) OVER (PARTITION BY shingle) <= 400),
         p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
               FROM kept a JOIN kept b USING (shingle)
               WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
         SELECT id_a, id_b,
                CAST(common AS DOUBLE) / (na.nsh + nb.nsh - common) AS jaccard
         FROM p JOIN sz na ON na.doc_id = p.id_a
                JOIN sz nb ON nb.doc_id = p.id_b
         WHERE CAST(common AS DOUBLE) / (na.nsh + nb.nsh - common) >= 0.5"""),

    Q("q_d_norm_dedup", (s, dir) =>
      Dedup.normalized(Readers.table(s, dir, "documents")),
      """SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
               AS norm_md5,
             min(doc_id) AS keep_id, count(*) AS dup_count
         FROM documents
         GROUP BY md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))"""),

    // portable md5-permutation MinHash-LSH with exact-Jaccard verify -
    // the DuckDB-checkable twin of the xxhash64 fast path
    Q("q_d_minhash_md5", (s, dir) => minhashMd5PairsShared(s, dir),
      // md5-permutation minhash recomputed end-to-end: same shingles as
      // q_d_jaccard_exact, sig_i = min over shingles of the 16-hex-char
      // md5(i|shingle) prefix (fixed-width hex min == numeric min), bands
      // of 2, bucket join, exact-Jaccard verify over the full shingle sets
      s"""WITH $minhashMd5CtesSql
         SELECT id_a, id_b, jaccard FROM pairs"""),

    // portable md5-bit SimHash with chunk blocking + hamming verify -
    // the DuckDB-checkable twin of the xxhash64 SimHash fast path
    Q("q_d_simhash_md5", (s, dir) =>
      Dedup.simhashMd5Pairs(Readers.table(s, dir, "documents")),
      // md5-bit SimHash recomputed end-to-end: bit j of md5(token) gives
      // a +-1 vote, signature = per-bit sign over the token multiset as a
      // 64-char '0'/'1' string, 4x16-char chunk blocking with the SAME
      // bucket cap as Spark, hamming verify by char compare. Tokenless
      // docs coalesce to the all-zero signature, as in Spark.
      """WITH w AS (SELECT doc_id,
             list_filter(string_split_regex(
                 lower(trim(coalesce(text, ''))), '[^a-z0-9_]+'),
               t -> t <> '') AS ws
           FROM documents),
         tok AS (SELECT doc_id, unnest(ws) AS t FROM w),
         bits AS (SELECT doc_id, CAST(j AS INT) AS j,
             ((strpos('0123456789abcdef',
                 substr(md5(t), CAST(j // 4 AS INT) + 1, 1)) - 1)
               >> (3 - CAST(j % 4 AS INT))) & 1 AS bit
           FROM tok CROSS JOIN range(0, 64) r(j)),
         sums AS (SELECT doc_id, j, sum(bit) AS s
           FROM bits GROUP BY doc_id, j),
         sig0 AS (SELECT doc_id,
             string_agg(CASE WHEN 2 * s > n THEN '1' ELSE '0' END,
               '' ORDER BY j) AS sig
           FROM sums JOIN (SELECT doc_id, len(ws) AS n FROM w) ln
             USING (doc_id)
           GROUP BY doc_id),
         sig AS (SELECT w.doc_id,
             coalesce(sig0.sig, repeat('0', 64)) AS sig
           FROM w LEFT JOIN sig0 ON w.doc_id = sig0.doc_id),
         chk AS (SELECT doc_id, sig,
             CAST(c AS INT) AS c,
             substr(sig, CAST(c AS INT) * 16 + 1, 16) AS cv
           FROM sig CROSS JOIN range(0, 4) rc(c)),
         chkk AS (SELECT doc_id, sig, c, cv FROM (
             SELECT doc_id, sig, c, cv,
                    count(*) OVER (PARTITION BY c, cv) AS bsz
             FROM chk)
           WHERE bsz <= 1000),
         cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
             a.sig AS sig_a, b.sig AS sig_b
           FROM chkk a JOIN chkk b
             ON a.c = b.c AND a.cv = b.cv AND a.doc_id < b.doc_id)
         SELECT id_a, id_b, hamming FROM (
           SELECT id_a, id_b,
                  CAST(len(list_filter(range(1, 65), i ->
                    substr(sig_a, CAST(i AS INT), 1)
                      <> substr(sig_b, CAST(i AS INT), 1))) AS INT)
                    AS hamming
           FROM cand)
         WHERE hamming <= 3"""),

    // the COMPLETE near-dup dedup flow under one oracle: md5-minhash
    // pairs -> connected components -> keep min-id per cluster
    Q("q_d_dedup_e2e", (s, dir) => {
      val docs = Readers.table(s, dir, "documents")
      Dedup.nearDupSurvivors(docs, minhashMd5PairsShared(s, dir))
        .select(col("doc_id"), col("source"))
    },
      // full dedup flow: the SAME pairs CTEs, then component labels via
      // 12 unrolled rounds of neighbor-min propagation (component
      // diameter measured <= 3 at every SF; 12 = 4x margin), keep min-id.
      // Every round CTE is MATERIALIZED: each references the previous one
      // twice, and DuckDB's default per-reference inlining would expand
      // the whole chain 2^12 times (observed as a file-handle explosion).
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
         dups AS (SELECT id FROM l12 WHERE lbl <> id)
         SELECT d.doc_id, d.source FROM documents d
         WHERE NOT EXISTS (SELECT 1 FROM dups WHERE dups.id = d.doc_id)"""
      }),

    // quality-aware cluster pick: each near-dup component keeps its
    // best-quality member (q_t_quality's score formula; ties -> min
    // id) instead of the min-id convention; reuses the session-memoized
    // md5-minhash pair frame
    Q("q_d_quality_pick", (s, dir) => {
      val scored = TextAnalysis.withQualityFeatures(Readers.table(s, dir, "documents"))
        .select(col("doc_id"), col("quality_score"))
      Dedup.nearDupClusterPick(scored, minhashMd5PairsShared(s, dir),
        "quality_score")
    },
      // quality-aware cluster pick: the SAME pairs + component chain as
      // q_d_dedup_e2e, the SAME score formula as q_t_curate, then a
      // per-component (score DESC, id ASC) argmax with the member count
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
         qf AS (SELECT doc_id, length(text) AS nc,
             CAST(len(string_split_regex(lower(trim(text)), '\\s+')) AS INT)
               AS nw,
             CAST(len(list_filter(string_split_regex(lower(trim(text)),
                 '\\s+'),
               w -> list_contains(['the','a','an','and','or','of','to','in',
                 'is','it','that','for','on','with','as','was','at','by'],
                 w))) AS INT) AS nstop,
             length(text) - length(regexp_replace(text, '[[:punct:]]', '',
               'g')) AS npunct,
             length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))
               AS ndigit
           FROM documents),
         qr AS (SELECT doc_id,
             CASE WHEN nw > 0 THEN nstop / CAST(nw AS DOUBLE)
                  ELSE 0.0 END AS sr,
             CASE WHEN nc > 0 THEN npunct / CAST(nc AS DOUBLE)
                  ELSE 0.0 END AS pr,
             CASE WHEN nc > 0 THEN ndigit / CAST(nc AS DOUBLE)
                  ELSE 0.0 END AS dr
           FROM qf),
         qs AS (SELECT doc_id,
             least(CAST(1.0 AS DOUBLE), greatest(CAST(0.0 AS DOUBLE),
               CAST(0.4 AS DOUBLE) * least(sr * 4, CAST(1.0 AS DOUBLE)) +
               CAST(0.3 AS DOUBLE) *
                 (CAST(1.0 AS DOUBLE) - least(pr * 5, CAST(1.0 AS DOUBLE))) +
               CAST(0.3 AS DOUBLE) *
                 (CAST(1.0 AS DOUBLE) - least(dr * 5, CAST(1.0 AS DOUBLE)))))
               AS q
           FROM qr),
         mem AS (SELECT l.lbl AS component, l.id, qs.q
           FROM l12 l JOIN qs ON qs.doc_id = l.id)
         SELECT component, id AS keep_id, n_members FROM (
           SELECT component, id,
             row_number() OVER (PARTITION BY component
               ORDER BY q DESC, id ASC) AS rk,
             count(*) OVER (PARTITION BY component) AS n_members
           FROM mem)
         WHERE rk = 1"""
      }),

    // sub-document boilerplate removal: 10-word chunks shared by >=2
    // docs are deleted, survivors re-joined in order
    Q("q_d_boilerplate", (s, dir) =>
      Dedup.removeBoilerplateChunks(Readers.table(s, dir, "documents"),
        chunkWords = 10, minDocs = 2),
      // 10-word chunks, md5 per chunk, drop chunks in >=2 distinct docs,
      // reassemble survivors in position order
      """WITH w AS (SELECT doc_id,
             list_filter(string_split_regex(trim(text), '\s+'),
               x -> x <> '') AS ws
           FROM documents),
         segs AS (
           SELECT doc_id, i,
                  array_to_string(ws[(i-1)*10+1 : i*10], ' ') AS chunk
           FROM w, LATERAL (SELECT unnest(range(1,
             CAST(ceil(len(ws) / 10.0) AS BIGINT) + 1)) AS i)),
         boiler AS (
           SELECT md5(chunk) AS h FROM segs
           GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2),
         kept AS (
           SELECT s.doc_id, s.i, s.chunk FROM segs s
           LEFT JOIN boiler b ON md5(s.chunk) = b.h WHERE b.h IS NULL),
         agg AS (
           SELECT doc_id, string_agg(chunk, ' ' ORDER BY i) AS clean_text,
                  CAST(count(*) AS BIGINT) AS n_kept
           FROM kept GROUP BY doc_id),
         tot AS (
           SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks
           FROM segs GROUP BY doc_id)
         SELECT d.doc_id, coalesce(a.clean_text, '') AS clean_text,
                coalesce(t.n_chunks, 0) AS n_chunks,
                coalesce(t.n_chunks, 0) - coalesce(a.n_kept, 0) AS n_removed
         FROM documents d
         LEFT JOIN tot t USING (doc_id)
         LEFT JOIN agg a USING (doc_id)"""),

    // incremental dedup of the crawl (src != src0) against a reference
    // corpus (src0 stands in for the existing training set)
    Q("q_d_against_ref", (s, dir) => {
      val docs = Readers.table(s, dir, "documents")
      Dedup.dedupAgainstReference(
        docs.filter(col("source") =!= "src0"),
        docs.filter(col("source") === "src0"))
        .select(col("doc_id"), col("source"), col("norm_md5"))
    },
      // NOT EXISTS, not NOT IN: a single NULL-text reference row would
      // make NOT IN return zero rows, while Spark's left_anti keeps every
      // non-matching doc (null keys never match in either engine)
      """SELECT d.doc_id, d.source,
             md5(regexp_replace(lower(trim(d.text)), '\s+', ' ', 'g'))
               AS norm_md5
         FROM documents d
         WHERE d.source <> 'src0'
           AND NOT EXISTS (
             SELECT 1 FROM documents r
             WHERE r.source = 'src0'
               AND md5(regexp_replace(lower(trim(r.text)), '\s+', ' ', 'g'))
                 = md5(regexp_replace(lower(trim(d.text)), '\s+', ' ', 'g')))"""),

    // bottom-k sketch containment pairs: the asymmetric near-dup signal
    // (short doc embedded in long doc) symmetric Jaccard misses;
    // estimate-only from k-sized sketches, never a shingle-set join
    Q("q_d_containment", (s, dir) =>
      graft.llm.Dedup.bottomKContainmentPairs(Readers.table(s, dir, "documents"),
        k = 12, shingleN = 3, blockHashes = 3, minContainment = 0.5),
      // bottom-k containment replay: same shingle fragment as the minhash
      // oracles, one md5 hash, sorted-prefix sketches, union-bottom-k
      // estimators, blocking on the 3 smallest hashes with the bucket cap
      """WITH w AS (SELECT doc_id, list_filter(
             string_split_regex(lower(text), '[^a-z0-9_]+'), t -> t <> '')
             AS ws
           FROM documents),
         g AS (SELECT doc_id, unnest(CASE WHEN len(ws) < 3
             THEN [array_to_string(ws, ' ')]
             ELSE list_distinct(list_transform(
               generate_series(1, len(ws) - 2),
               i -> array_to_string(ws[i : i + 2], ' ')))
             END) AS shingle
           FROM w),
         hs AS (SELECT doc_id, list_sort(list_transform(list(shingle),
             s -> substr(md5(s), 1, 16))) AS allh
           FROM g GROUP BY doc_id),
         sk AS (SELECT doc_id, allh[1:12] AS bk FROM hs),
         blk AS (SELECT doc_id, unnest(bk[1:3]) AS h FROM sk),
         bb AS (SELECT doc_id, h FROM (
             SELECT doc_id, h, count(*) OVER (PARTITION BY h) AS c
             FROM blk) WHERE c <= 1000),
         cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
           FROM bb a JOIN bb b ON a.h = b.h AND a.doc_id < b.doc_id),
         p AS (SELECT c.id_a, c.id_b, sa.bk AS bka, sb.bk AS bkb
           FROM cand c JOIN sk sa ON sa.doc_id = c.id_a
           JOIN sk sb ON sb.doc_id = c.id_b),
         m AS (SELECT id_a, id_b, bka, bkb,
             list_sort(list_distinct(list_concat(bka, bkb)))[1:12] AS mu
           FROM p),
         x AS (SELECT id_a, id_b,
             len(mu) AS union_k,
             len(list_filter(mu, h -> list_contains(bka, h)
               AND list_contains(bkb, h))) AS inter_k,
             len(list_filter(mu, h -> list_contains(bka, h))) AS in_a,
             len(list_filter(mu, h -> list_contains(bkb, h))) AS in_b
           FROM m)
         SELECT id_a, id_b,
           CAST(union_k AS INT) AS union_k,
           CAST(inter_k AS INT) AS inter_k,
           CAST(in_a AS INT) AS in_a, CAST(in_b AS INT) AS in_b,
           round(inter_k / CAST(union_k AS DOUBLE), 6) AS est_jaccard,
           CASE WHEN in_a > 0
             THEN round(inter_k / CAST(in_a AS DOUBLE), 6)
             ELSE 0.0 END AS cont_a_in_b,
           CASE WHEN in_b > 0
             THEN round(inter_k / CAST(in_b AS DOUBLE), 6)
             ELSE 0.0 END AS cont_b_in_a
         FROM x
         WHERE greatest(
           CASE WHEN in_a > 0 THEN inter_k / CAST(in_a AS DOUBLE)
                ELSE 0.0 END,
           CASE WHEN in_b > 0 THEN inter_k / CAST(in_b AS DOUBLE)
                ELSE 0.0 END) >= 0.5"""),

    // cross-source duplicate-overlap matrix on the normalized content
    // hash: which sources re-crawl each other + within-source dup count
    Q("q_d_source_overlap", (s, dir) =>
      graft.llm.Dedup.sourceOverlapMatrix(Readers.table(s, dir, "documents")),
      // overlap matrix replay: distinct (source, norm-hash) collapse,
      // within-source diagonal + cross-source hash join
      """WITH h AS (SELECT source AS src,
             md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS h
           FROM documents),
         dh AS (SELECT DISTINCT src, h FROM h),
         sz AS (SELECT src, count(*) AS n_distinct FROM dh GROUP BY src),
         within AS (SELECT d.src AS src_a, d.src AS src_b,
             d.n_docs - sz.n_distinct AS n_overlap,
             sz.n_distinct AS n_distinct_a, sz.n_distinct AS n_distinct_b
           FROM (SELECT src, count(*) AS n_docs FROM h GROUP BY src) d
           JOIN sz ON sz.src = d.src),
         cross_src AS (SELECT a.src AS src_a, b.src AS src_b,
             count(*) AS n_overlap
           FROM dh a JOIN dh b ON a.h = b.h AND a.src < b.src
           GROUP BY 1, 2)
         SELECT src_a, src_b, n_overlap, n_distinct_a, n_distinct_b
         FROM within
         UNION ALL
         SELECT c.src_a, c.src_b, c.n_overlap,
                sa.n_distinct AS n_distinct_a, sb.n_distinct AS n_distinct_b
         FROM cross_src c
         JOIN sz sa ON sa.src = c.src_a
         JOIN sz sb ON sb.src = c.src_b"""),

    // shared-winnow-fingerprint pairs via the postings join with a
    // boilerplate df-cut - position-robust substring near-dup
    Q("q_d_winnow_pairs", (s, dir) =>
      graft.llm.Dedup.winnowPairs(Readers.table(s, dir, "documents"),
        k = 4, w = 4, minShared = 2, maxDf = 100),
      // the winnow fingerprint frame mined for pairs: distinct (doc, fp),
      // df-cut <= 100, self-join, shared-count >= 2
      """WITH w AS (SELECT doc_id, list_filter(
             string_split_regex(lower(trim(text)), '\s+'), x -> x <> '')
             AS ws
           FROM documents),
         g AS (SELECT doc_id, list_transform(
             generate_series(1, len(ws) - 3), i ->
               ('0x' || substr(md5(array_to_string(ws[i : i + 3], ' ')),
                 1, 15))::BIGINT) AS gh
           FROM w WHERE len(ws) >= 4),
         s AS (SELECT doc_id, gh, list_distinct(list_transform(
             generate_series(1, greatest(len(gh) - 3, 1)), j ->
               j - 1 + list_position(gh[j : j + 3],
                 list_min(gh[j : j + 3])))) AS ps
           FROM g),
         fp AS (SELECT DISTINCT doc_id AS id, gh[p] AS fp
           FROM (SELECT doc_id, gh, unnest(ps) AS p FROM s)),
         rare AS (SELECT fp FROM (
             SELECT fp, count(*) AS fp_df FROM fp GROUP BY fp)
           WHERE fp_df <= 100),
         post AS (SELECT f.fp, f.id FROM fp f JOIN rare USING (fp))
         SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_shared
         FROM post a JOIN post b ON a.fp = b.fp AND a.id < b.id
         GROUP BY 1, 2
         HAVING count(*) >= 2"""),

    // benchmark-contamination screen: every 97th doc plays the held-out
    // eval set; unhashed shingles so DuckDB recomputes the join (the
    // hashed variant is the scale path, pinned equal in LlmSpec)
    Q("q_contamination", (s, dir) => {
      val docs = Readers.table(s, dir, "documents")
      graft.llm.Contamination.ngramOverlap(
        docs.filter(col("doc_id") % 97 =!= 0),
        docs.filter(col("doc_id") % 97 === 0)
          .withColumnRenamed("doc_id", "bench_id"),
        hashed = false)
    },
      // contamination: distinct 3-gram overlap between train and holdout
      """WITH w AS (SELECT doc_id,
             list_filter(string_split_regex(lower(trim(text)), '\s+'),
               x -> x <> '') AS ws
           FROM documents),
         g AS (SELECT DISTINCT doc_id,
             array_to_string(ws[i : i + 2], ' ') AS shingle
           FROM w, UNNEST(generate_series(1, greatest(len(ws) - 2, 0)))
             AS t(i))
         SELECT tr.doc_id, b.doc_id AS bench_id, count(*) AS n_shared
         FROM (SELECT * FROM g WHERE doc_id % 97 <> 0) tr
         JOIN (SELECT * FROM g WHERE doc_id % 97 = 0) b USING (shingle)
         GROUP BY 1, 2 HAVING count(*) >= 2"""),

    // The three registry pair queries are keyed on md5 draws so DuckDB
    // adjudicates them end-to-end (zero no_oracle rows); each uses a
    // DIFFERENT parameterization/topology than the q_d_minhash_md5 /
    // q_d_simhash_md5 twins. The xxhash64 fast paths (minhashLshPairs,
    // simhashPairs, ngramJaccardPairs) remain the production defaults,
    // pinned by brute-force ground truth in LlmSpec.

    // md5 minhash at a STRICTER banding (4 bands x 4 rows vs the twin's
    // 8x2 - band collision now needs 4 consecutive equal positions) over
    // word BIGRAM shingles
    Q("q_d_minhash_pairs", (s, dir) =>
      Dedup.minhashMd5Pairs(tDocsPar(s, dir), k = 16, bands = 4,
        shingleN = 2, threshold = 0.6),
      // re-keyed pair trio (r8): md5 draws so DuckDB replays the full
      // band/bucket/verify chains with the Spark side's parameters
      s"""WITH ${minhashMd5ParamCtes(16, 4, 2, 0.6, 0)}
         SELECT id_a, id_b, jaccard FROM pairs"""),

    // maxHamming=2: the 3-chunk (22/21/21) pigeonhole instance - the
    // radius-derived chunking the fixed 4x16 twin cannot exercise
    Q("q_d_simhash_pairs", (s, dir) =>
      Dedup.simhashMd5Pairs(Readers.table(s, dir, "documents"), maxHamming = 2)
        .select(col("id_a"), col("id_b"), col("hamming")),
      simhashMd5PairsSql(2)),

    // full two-stage near-dup: banded candidates -> integer signature-
    // agreement estimate filter (>= 7 of 16 positions) -> exact shingle
    // Jaccard verification
    Q("q_d_ngram_pairs", (s, dir) =>
      Dedup.ngramJaccardPairsMd5(tDocsPar(s, dir), shingleN = 3,
        threshold = 0.6, estMinAgree = 7)
        .select(col("id_a"), col("id_b"), col("jaccard")),
      s"""WITH ${minhashMd5ParamCtes(16, 8, 3, 0.6, 7)}
         SELECT id_a, id_b, jaccard FROM pairs"""),

    // connected components over a pair graph (the keep-one-per-cluster
    // step after near-dup pair generation): star clusters of 10 ids
    // chained into runs of up to 5 stars - multi-hop label merging with
    // known bounded diameter, recomputed by DuckDB via unrolled min-label
    // propagation
    Q("q_d_components", (s, dir) => {
      val o = Readers.table(s, dir, "orders")
      val x = col("o_orderkey") % 5000
      val hub = x - (x % 10)
      val star = o.filter(x % 10 =!= 0)
        .select(hub.cast("long").as("id_a"), x.cast("long").as("id_b"))
      val chain = o.filter(x % 10 === 3 && hub % 50 =!= 40)
        .select(hub.cast("long").as("id_a"), (hub + 10).cast("long").as("id_b"))
      Dedup.connectedComponents(star.unionByName(chain).distinct())
    },
      // Independent recomputation of connected components: 10 unrolled
      // rounds of neighbor-min propagation (component diameter <= 6 by
      // construction - runs of <= 5 chained 10-id stars)
      {
        val rounds = (1 to 10).map { i =>
          s"""l$i AS (SELECT n.id, least(n.lbl, coalesce(m.mn, n.lbl)) AS lbl
           FROM l${i - 1} n LEFT JOIN (
             SELECT s.u, min(x.lbl) AS mn FROM sym s JOIN l${i - 1} x ON x.id = s.v
             GROUP BY s.u) m ON m.u = n.id)"""
        }.mkString(",\n         ")
        s"""WITH edges AS (
           SELECT DISTINCT a, b FROM (
             SELECT (o_orderkey % 5000) - (o_orderkey % 10) AS a,
                    o_orderkey % 5000 AS b
             FROM orders WHERE o_orderkey % 10 <> 0
             UNION ALL
             SELECT (o_orderkey % 5000) - (o_orderkey % 10),
                    (o_orderkey % 5000) - (o_orderkey % 10) + 10
             FROM orders WHERE o_orderkey % 10 = 3
               AND ((o_orderkey % 5000) - (o_orderkey % 10)) % 50 <> 40)),
         sym AS (SELECT a AS u, b AS v FROM edges
                 UNION SELECT b, a FROM edges),
         l0 AS (SELECT DISTINCT u AS id, u AS lbl FROM sym),
         $rounds
         SELECT id, lbl AS component FROM l10"""
      }),

    // SemDeDup semantic dedup: IVF-celled greedy keep-lowest-id over
    // within-cell cosine near-dup pairs (non-transitive by design)
    Q("q_d_semdedup", (s, dir) =>
      Ann.semanticDedup(Readers.table(s, dir, "embeddings"),
        Ann.hyperplanes(64, 8, seed = 11L), threshold = 0.4),
      // SemDeDup recomputed: same cell assignment, a row is dropped iff a
      // lower-id same-cell row is cosine-similar >= 0.4 (NOT EXISTS as a
      // left join on the distinct dup set) - no recursion by design
      {
        val centroids = Ann.hyperplanes(annDim, 8, seed = 11L)
        s"""WITH c AS (SELECT vec_id, embedding, ivf_cell
                     FROM ${ivfCellFromSql(centroids)}),
          d AS (SELECT DISTINCT a.vec_id AS vid
                FROM c a JOIN c b
                  ON a.ivf_cell = b.ivf_cell AND b.vec_id < a.vec_id
                WHERE CASE WHEN list_dot_product(CAST(a.embedding AS DOUBLE[]),
                              CAST(a.embedding AS DOUBLE[])) = 0
                         OR list_dot_product(CAST(b.embedding AS DOUBLE[]),
                              CAST(b.embedding AS DOUBLE[])) = 0
                      THEN 0.0
                      ELSE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                             CAST(b.embedding AS DOUBLE[])) END >= 0.4)
          SELECT c.vec_id, c.ivf_cell, CAST(d.vid IS NULL AS INT) AS kept
          FROM c LEFT JOIN d ON d.vid = c.vec_id"""
      })
  )
}
