package graft.registry

import org.apache.spark.sql.functions._
import graft.llm.{Dedup, TextAnalysis}
import graft.registry.Shared._
import graft.sources.Readers

/** Text-analysis queries: tokenizer training and encoding (BPE,
  * byte BPE, WordPiece, unigram LM), corpus statistics, sketches,
  * quality scoring and the LLM prep pipeline. */
object TextQueries {

  /** Logistic-regression quality-classifier oracle: replays
    * [[graft.llm.LmScore.logregQualityScores]]'s full-batch training
    * loop as unrolled CTE stages (w0/b0 zero-init, then per step:
    * margins z -> sigmoids -> micro-quantized per-bucket gradient sums
    * -> integer weight update), then scores every doc under the final
    * weights. All cross-row sums are over integer micro-units, so the
    * engines agree exactly; positive class = source 'src0'. */
  private def logregSql(steps: Int, lr: String = "1.0"): String = {
    def zStage(r: Int): String =
      s"""z$r AS (SELECT l.doc_id, l.y, l.len,
             CAST(sum(c.c * w.wm) AS DOUBLE) / 1e6 / l.len +
               (SELECT bm FROM b${r - 1}) / 1e6 AS z
           FROM cnt c JOIN w${r - 1} w USING (bucket)
           JOIN lens l ON l.doc_id = c.doc_id
           GROUP BY l.doc_id, l.y, l.len)"""
    val stages = (1 to steps).map { r =>
      s"""${zStage(r)},
         s$r AS (SELECT doc_id, y, len, 1.0 / (1.0 + exp(-z)) AS sg
           FROM z$r),
         g$r AS (SELECT c.bucket,
             CAST(sum(CAST(round((s.sg - s.y) * c.c / s.len * 1e6)
               AS BIGINT)) AS BIGINT) AS g
           FROM cnt c JOIN s$r s USING (doc_id) GROUP BY c.bucket),
         gb$r AS (SELECT CAST(sum(CAST(round((sg - y) * 1e6) AS BIGINT))
               AS BIGINT) AS g
           FROM s$r),
         w$r AS (SELECT w.bucket,
             CAST(w.wm - CAST(round($lr * (CAST(g.g AS DOUBLE) /
               (SELECT n FROM nd))) AS BIGINT) AS BIGINT) AS wm
           FROM w${r - 1} w JOIN g$r g USING (bucket)),
         b$r AS (SELECT CAST(b.bm - CAST(round($lr * (CAST(gb.g AS DOUBLE) /
               (SELECT n FROM nd))) AS BIGINT) AS BIGINT) AS bm
           FROM b${r - 1} b CROSS JOIN gb$r gb)"""
    }.mkString(",\n         ")
    s"""WITH tok AS (SELECT doc_id,
             CASE WHEN source = 'src0' THEN 1 ELSE 0 END AS y,
             unnest(list_filter(string_split_regex(lower(trim(text)),
               '\\s+'), x -> x <> '')) AS w
           FROM documents),
         lens AS (SELECT doc_id, any_value(y) AS y, count(*) AS len
           FROM tok GROUP BY doc_id),
         cnt AS (SELECT doc_id, substr(md5(w), 1, 2) AS bucket,
             count(*) AS c
           FROM tok GROUP BY doc_id, bucket),
         nd AS (SELECT count(*) AS n FROM lens),
         w0 AS (SELECT DISTINCT bucket, CAST(0 AS BIGINT) AS wm FROM cnt),
         b0 AS (SELECT CAST(0 AS BIGINT) AS bm),
         $stages,
         fin AS (SELECT l.doc_id, l.len,
             CAST(sum(c.c * w.wm) AS BIGINT)
               + (SELECT bm FROM b$steps) * l.len AS total_m
           FROM cnt c JOIN w$steps w USING (bucket)
           JOIN lens l ON l.doc_id = c.doc_id
           GROUP BY l.doc_id, l.len)
         SELECT doc_id, CAST(len AS INT) AS n_tokens,
                (CASE WHEN total_m < 0 THEN -1 ELSE 1 END *
                  ((abs(total_m) * 2 + len) // (len * 2))) / 1e6 AS score,
                round(1.0 / (1.0 + exp(-(CAST(total_m AS DOUBLE)
                  / 1e6 / len))), 4) AS prob,
                total_m > 0 AS keep
         FROM fin"""
  }

  /** Unrolled BPE-training oracle: `rounds` chained CTE stages, each
    * recomputing the pair argmax from the previous segmentation and
    * applying the merge with plain replace() on the chr(1)-wrapped
    * symbol string - the exact string operation the Spark side runs,
    * so the left-to-right non-overlapping merge order agrees. */
  private def bpeTrainSql(rounds: Int): String = {
    val stages = (1 to rounds).map { r =>
      s"""p$r AS (
           SELECT wc, syms[i] AS l, syms[i + 1] AS r FROM (
             SELECT wc,
               string_split(trim(seg, chr(1)), chr(1) || chr(1)) AS syms,
               unnest(range(1, len(string_split(trim(seg, chr(1)),
                 chr(1) || chr(1))))) AS i
             FROM seg${r - 1})),
         m$r AS (SELECT l, r, CAST(sum(wc) AS BIGINT) AS n FROM p$r
           GROUP BY l, r ORDER BY n DESC, l ASC, r ASC LIMIT 1),
         seg$r AS (SELECT s.wc,
             replace(s.seg, chr(1) || m.l || chr(1) || chr(1) || m.r || chr(1),
               chr(1) || m.l || m.r || chr(1)) AS seg
           FROM seg${r - 1} s CROSS JOIN m$r m)"""
    }.mkString(",\n         ")
    val union = (1 to rounds).map { r =>
      s"""SELECT $r AS "round", l AS "left", r AS "right", n FROM m$r"""
    }.mkString("\n           UNION ALL ")
    s"""WITH t AS (SELECT unnest(list_filter(
             string_split_regex(lower(trim(text)), '\\s+'), x -> x <> ''))
             AS w
           FROM documents),
         w AS (SELECT w, CAST(count(*) AS BIGINT) AS wc FROM t
           WHERE NOT contains(w, chr(1)) GROUP BY w),
         seg0 AS (SELECT wc,
             regexp_replace(w, '(.)', chr(1) || '\\1' || chr(1), 'g') AS seg
           FROM w),
         $stages
         $union"""
  }

  /** Literal WordPiece vocabulary for q_t_wordpiece (`##` =
    * continuation): every corpus letter as start AND continuation
    * EXCEPT `##y` - so "query" (the one y-continuation word) becomes
    * the whole-word [UNK] - plus multi-char pieces that exercise
    * longest-match-first over the single letters. */
  private val wordpieceVocab: Seq[String] = {
    val letters = "abcdefghijklmnopqrstuvwy".map(_.toString)
    letters ++ letters.filterNot(_ == "y").map("##" + _) ++
      Seq("key", "table", "the", "val", "fa", "sc", "st", "qu", "ta", "row",
        "##ue", "##st", "##an", "##ble", "##ream")
  }

  /** WordPiece oracle: greedy longest-match segmentation replayed as a
    * DuckDB RECURSIVE CTE - per step, the longest vocab piece matching
    * at the cursor (continuation table for pos > 0) via a LATERAL
    * top-1; no match at any position - or a word over the 100-code-
    * point max_input_chars_per_word cap - collapses the word to [UNK],
    * then the per-doc reassembly of [[bpeEncodeLiteralSql]]. DuckDB's
    * length/substr count code points, as does the engine. */
  private def wordpieceSql(vocab: Seq[String]): String = {
    def lit(s: String) = "'" + s.replace("'", "''") + "'"
    val rows = vocab.map { tok =>
      if (tok.startsWith("##"))
        s"(${lit(tok.substring(2))}, ${lit(tok)}, true)"
      else s"(${lit(tok)}, ${lit(tok)}, false)"
    }.mkString(",\n             ")
    s"""WITH RECURSIVE
         d AS (SELECT doc_id, list_filter(
             string_split_regex(lower(trim(text)), '\\s+'), x -> x <> '') AS ws
           FROM documents),
         dw AS (SELECT doc_id, i, ws[i] AS w FROM d,
             LATERAL (SELECT unnest(range(1, len(ws) + 1)) AS i)),
         w AS (SELECT DISTINCT w FROM dw),
         vocab AS (SELECT * FROM (VALUES
             $rows) AS v0(raw, tok, cont)),
         seg AS (
           -- seed; words over the max_input_chars_per_word cap (code
           -- points, like the engine) are [UNK] outright
           SELECT w, 0 AS pos,
                  CASE WHEN length(w) > 100 THEN ['[UNK]']
                       ELSE CAST([] AS VARCHAR[]) END AS pieces,
                  length(w) > 100 AS failed
           FROM w
           UNION ALL
           SELECT s.w,
             CASE WHEN b.raw IS NULL THEN length(s.w)
                  ELSE s.pos + length(b.raw) END,
             CASE WHEN b.raw IS NULL THEN ['[UNK]']
                  ELSE s.pieces || [b.tok] END,
             b.raw IS NULL
           FROM seg s LEFT JOIN LATERAL (
             SELECT raw, tok FROM vocab v
             WHERE v.cont = (s.pos > 0)
               AND substr(s.w, s.pos + 1, length(v.raw)) = v.raw
             ORDER BY length(v.raw) DESC, v.raw LIMIT 1) b ON TRUE
           WHERE s.pos < length(s.w) AND NOT s.failed),
         term AS (SELECT w, pieces FROM seg
           WHERE pos = length(w) OR failed),
         enc AS (SELECT w, array_to_string(pieces, ',') AS csv,
             CAST(len(pieces) AS INT) AS np,
             CASE WHEN pieces = ['[UNK]'] THEN 1 ELSE 0 END AS unk
           FROM term),
         agg AS (SELECT dw.doc_id,
             CAST(sum(e.np) AS INT) AS n_pieces,
             CAST(sum(e.unk) AS INT) AS n_unk_words,
             string_agg(e.csv, ',' ORDER BY dw.i) AS pieces_csv
           FROM dw JOIN enc e ON e.w = dw.w
           GROUP BY dw.doc_id)
         SELECT d0.doc_id, coalesce(a.n_pieces, 0) AS n_pieces,
                coalesce(a.n_unk_words, 0) AS n_unk_words,
                coalesce(a.pieces_csv, '') AS pieces_csv
         FROM (SELECT doc_id FROM documents) d0
         LEFT JOIN agg a ON a.doc_id = d0.doc_id"""
  }

  /** Literal unigram-LM vocabulary for q_t_unigram: (piece, integer
    * cost = quantized -1000 ln p). Letters + digits as singles,
    * plus multi-char pieces that exercise every Viterbi outcome -
    * winners ("th" 4000 < t+h 6400; "qu"; "ing"), a loser ("in" 9000 >
    * i+n 5700, never picked), and an exact tie ("er" 5700 = e+r, the
    * tie-breaks-to-longer case). `y` is deliberately missing as a
    * single (and the corpus has no punctuation), so y-words exercise
    * the unkCost fallback corpus-wide ("query" -> qu,er,[y]). */
  private val unigramVocab: Seq[(String, Long)] = {
    val singles = "aeiou".map(c => c.toString -> 2500L) ++
      "bcdfghjklmnpqrstvwxz".map(c => c.toString -> 3200L) ++
      "0123456789".map(c => c.toString -> 2800L)
    singles ++ Seq("th" -> 4000L, "the" -> 5000L, "qu" -> 1500L,
      "er" -> 5700L, "in" -> 9000L, "ing" -> 7000L, "st" -> 5000L,
      "data" -> 6000L)
  }

  /** Viterbi forward pass + backtrack as a NON-RECURSIVE DuckDB
    * `list_reduce` DP - the unigram-LM twin of [[wordpieceSql]]'s
    * greedy walk. Two deliberate DuckDB 1.0 constraints shape this:
    * (1) a CTE scanned from inside a RECURSIVE CTE's iteration
    * evaluates EMPTY when it transitively depends on another recursive
    * CTE (observed: a recursive pass-2 Viterbi under trained costs
    * falls back to unkCost at every position), so the DP must not use
    * recursion at all; (2) `list_reduce` corrupts list fields inside a
    * STRUCT accumulator (observed: the list resets to its last
    * element), so the accumulator is a plain LIST of per-position
    * structs and the position index is `len(acc)`.
    *
    * `dp$sfx` folds the word's positions: acc[j+1] = (t = best total
    * cost to position j, nl = NEGATED winning piece length, u =
    * winning piece is the unkCost single-code-point fallback); each
    * step list_sorts the candidate structs so (t ASC, nl ASC) breaks
    * ties toward the LONGER piece - exactly UnigramSegment.segment's
    * integer DP. `seg$sfx` backtracks the winning lengths with a
    * second bounded reduce ($maxWordLen no-op-padded steps), emitting
    * (w, wc, pieces VARCHAR[] in reading order, nunk BIGINT).
    * `mapCte` must expose one row `m` = MAP(piece -> cost);
    * `wordsCte` must expose distinct `w` (+ `wc`) already filtered to
    * length(w) <= maxWordLen. */
  private def unigramViterbiCtes(wordsCte: String, mapCte: String,
                                 sfx: String, maxPieceLen: Int,
                                 unkCost: Long, maxWordLen: Int): String = {
    val cand = "STRUCT(t BIGINT, nl BIGINT, u BOOLEAN)"
    val bt = "STRUCT(k BIGINT, p VARCHAR, nu BIGINT)"
    val pick =
      s"""list_sort(list_filter(list_transform(
             range(1, least(len(acc), $maxPieceLen) + 1),
             l -> CASE
               WHEN len(map_extract(m.m,
                   substr(wn.w, len(acc) + 1 - l, l))) > 0
                 THEN {'t': acc[len(acc) + 1 - l].t + map_extract(m.m,
                         substr(wn.w, len(acc) + 1 - l, l))[1],
                       'nl': -l, 'u': false}
               WHEN l = 1
                 THEN {'t': acc[len(acc)].t + $unkCost,
                       'nl': CAST(-1 AS BIGINT), 'u': true}
               ELSE CAST(NULL AS $cand) END),
             c -> c.t IS NOT NULL))[1]"""
    s"""dp$sfx AS MATERIALIZED (
           SELECT wn.w, wn.wc,
             list_reduce(
               list_prepend([{'t': CAST(0 AS BIGINT),
                              'nl': CAST(0 AS BIGINT), 'u': false}],
                 list_transform(range(1, length(wn.w) + 1),
                   x -> CAST(NULL AS $cand[]))),
               (acc, st) -> acc || [$pick]) AS dp
           FROM $wordsCte wn, $mapCte m),
         seg$sfx AS MATERIALIZED (
           SELECT w, wc,
             list_reverse(list_filter(
               list_transform(bt, e -> e.p), p -> p <> '')) AS pieces,
             bt[len(bt)].nu AS nunk
           FROM (
             SELECT w, wc,
               list_reduce(
                 list_prepend([{'k': length(w), 'p': '',
                                'nu': CAST(0 AS BIGINT)}],
                   list_transform(range(1, $maxWordLen + 1),
                     x -> CAST(NULL AS $bt[]))),
                 (acc, st) -> acc || [
                   CASE WHEN acc[len(acc)].k > 0 THEN
                     {'k': acc[len(acc)].k + dp[acc[len(acc)].k + 1].nl,
                      'p': substr(w,
                             acc[len(acc)].k + dp[acc[len(acc)].k + 1].nl + 1,
                             -dp[acc[len(acc)].k + 1].nl),
                      'nu': acc[len(acc)].nu +
                        CASE WHEN dp[acc[len(acc)].k + 1].u
                             THEN 1 ELSE 0 END}
                   ELSE {'k': acc[len(acc)].k, 'p': '',
                         'nu': acc[len(acc)].nu} END]) AS bt
             FROM dp$sfx))"""
  }

  /** Unigram-LM ENCODE oracle: the [[unigramViterbiCtes]] DP over the
    * distinct-word frame under the literal vocabulary (shipped as a
    * one-row MAP), over-cap words (> 48 code points,
    * UnigramSegment.MaxWordLen) collapsing to a single [UNK], then the
    * per-doc csv reassembly of [[wordpieceSql]]. */
  private def unigramSql(vocab: Seq[(String, Long)], unkCost: Long): String = {
    def l(s: String) = "'" + s.replace("'", "''") + "'"
    val rows = vocab.map { case (p, c) =>
      s"(${l(p)}, CAST($c AS BIGINT))"
    }.mkString(",\n             ")
    s"""WITH
         d AS (SELECT doc_id, list_filter(
             string_split_regex(lower(trim(text)), '\\s+'), x -> x <> '') AS ws
           FROM documents),
         dw AS (SELECT doc_id, i, ws[i] AS w FROM d,
             LATERAL (SELECT unnest(range(1, len(ws) + 1)) AS i)),
         w0 AS (SELECT DISTINCT w FROM dw),
         w AS MATERIALIZED (SELECT w, CAST(1 AS BIGINT) AS wc FROM w0
           WHERE length(w) <= 48),
         vocab AS (SELECT * FROM (VALUES
             $rows) AS v0(piece, cost)),
         m0 AS MATERIALIZED (SELECT map(list(piece ORDER BY piece),
             list(cost ORDER BY piece)) AS m FROM vocab),
         ${unigramViterbiCtes("w", "m0", "", 4, unkCost, 48)},
         segd AS (SELECT w, pieces, nunk FROM seg
           UNION ALL
           SELECT w, ['[UNK]'], CAST(1 AS BIGINT) FROM w0
           WHERE length(w) > 48),
         enc AS (SELECT w, array_to_string(pieces, ',') AS csv,
             CAST(len(pieces) AS INT) AS np, nunk FROM segd),
         agg AS (SELECT dw.doc_id,
             CAST(sum(e.np) AS INT) AS n_pieces,
             CAST(sum(e.nunk) AS INT) AS n_unk_pieces,
             string_agg(e.csv, ',' ORDER BY dw.i) AS pieces_csv
           FROM dw JOIN enc e ON e.w = dw.w
           GROUP BY dw.doc_id)
         SELECT d0.doc_id, coalesce(a.n_pieces, 0) AS n_pieces,
                coalesce(a.n_unk_pieces, 0) AS n_unk_pieces,
                coalesce(a.pieces_csv, '') AS pieces_csv
         FROM (SELECT doc_id FROM documents) d0
         LEFT JOIN agg a ON a.doc_id = d0.doc_id"""
  }

  /** Unigram-LM TRAIN oracle (rounds = 2): seed substring counts over
    * the capped distinct-word frame, prune (all singles + top-keepTop
    * multi by n DESC, piece ASC), quantized-ln costs over the kept
    * total, a full Viterbi usage pass, the mid-round prune at
    * keepTop >> 1, a second Viterbi pass under the re-derived costs,
    * and the final prune at keepTop >> 2 - Unigram.train's exact loop
    * with the two segment passes as [[unigramViterbiCtes]] instances.
    * Usage joins back to the vocabulary so fallback pieces never
    * count, mirroring the engine's left-semi. Every computed
    * model-sized CTE is MATERIALIZED: DuckDB inlines CTEs by default,
    * and an inlined cost table would be recomputed from the corpus on
    * every DP probe (observed: >5 min at sf0.001 inlined vs 0.5 s
    * materialized). */
  private def unigramTrainSql(maxPieceLen: Int, keepTop: Int,
                              unkCost: Long): String = {
    def usage(segCte: String, vocabCte: String, name: String) =
      s"""$name AS MATERIALIZED (
           SELECT px.piece, CAST(sum(px.wc) AS BIGINT) AS n
           FROM (SELECT wc, unnest(pieces) AS piece FROM $segCte) px
           JOIN (SELECT DISTINCT piece FROM $vocabCte) vp
             ON vp.piece = px.piece
           GROUP BY px.piece)"""
    def prune(src: String, name: String, kMulti: Int) =
      s"""$name AS MATERIALIZED (SELECT piece, n FROM $src WHERE length(piece) = 1
           UNION ALL
           SELECT piece, n FROM (
             SELECT piece, n FROM $src WHERE length(piece) > 1
             ORDER BY n DESC, piece ASC LIMIT $kMulti) q_$name)"""
    def costs(src: String, name: String) =
      s"""$name AS MATERIALIZED (SELECT piece,
             CAST(round(-1000 * ln(CAST(n AS DOUBLE) /
               (SELECT CAST(sum(n) AS DOUBLE) FROM $src)))
               AS BIGINT) AS cost
           FROM $src)"""
    def vmap(src: String, name: String) =
      s"""$name AS MATERIALIZED (SELECT map(list(piece ORDER BY piece),
             list(cost ORDER BY piece)) AS m FROM $src)"""
    s"""WITH
         t AS (SELECT unnest(list_filter(
             string_split_regex(lower(trim(text)), '\\s+'), x -> x <> ''))
             AS w
           FROM documents),
         wn AS MATERIALIZED (SELECT w, CAST(count(*) AS BIGINT) AS wc
           FROM t WHERE length(w) <= 48 GROUP BY w),
         subs AS (SELECT wn.wc, substr(wn.w, ii.i, ll.l) AS piece
           FROM wn,
           LATERAL (SELECT unnest(range(1, length(wn.w) + 1)) AS i) ii,
           LATERAL (SELECT unnest(range(1,
             least($maxPieceLen, length(wn.w) - ii.i + 1) + 1)) AS l) ll),
         seed AS MATERIALIZED (SELECT piece, CAST(sum(wc) AS BIGINT) AS n
           FROM subs GROUP BY piece),
         ${prune("seed", "v0", keepTop)},
         ${costs("v0", "c0")},
         ${vmap("c0", "m0")},
         ${unigramViterbiCtes("wn", "m0", "1", maxPieceLen, unkCost, 48)},
         ${usage("seg1", "c0", "u1")},
         ${prune("u1", "v1", keepTop >> 1)},
         ${costs("v1", "c1")},
         ${vmap("c1", "m1")},
         ${unigramViterbiCtes("wn", "m1", "2", maxPieceLen, unkCost, 48)},
         ${usage("seg2", "c1", "u2")}
         SELECT piece, n FROM u2 WHERE length(piece) = 1
         UNION ALL
         SELECT piece, n FROM (
           SELECT piece, n FROM u2 WHERE length(piece) > 1
           ORDER BY n DESC, piece ASC LIMIT ${keepTop >> 2}) qf"""
  }

  /** Byte-level BPE TRAIN oracle: the [[bpeTrainSql]] merge chain with
    * byte-level seeding - GPT-2-class pre-tokens of the RAW text (same
    * lookaround-free pattern as the engine), the corpus byte remap
    * (space -> chr(288); every other occurring byte is printable
    * ASCII - ENFORCED, not assumed: tools/Smoke fails the run if any
    * fixture document contains a byte outside printable ASCII+space),
    * then identical per-round argmax + replace stages. */
  private def byteBpeTrainSql(rounds: Int): String = {
    val stages = (1 to rounds).map { r =>
      s"""p$r AS (
           SELECT wc, syms[i] AS l, syms[i + 1] AS r FROM (
             SELECT wc,
               string_split(trim(seg, chr(1)), chr(1) || chr(1)) AS syms,
               unnest(range(1, len(string_split(trim(seg, chr(1)),
                 chr(1) || chr(1))))) AS i
             FROM seg${r - 1})),
         m$r AS (SELECT l, r, CAST(sum(wc) AS BIGINT) AS n FROM p$r
           GROUP BY l, r ORDER BY n DESC, l ASC, r ASC LIMIT 1),
         seg$r AS (SELECT s.wc,
             replace(s.seg, chr(1) || m.l || chr(1) || chr(1) || m.r || chr(1),
               chr(1) || m.l || m.r || chr(1)) AS seg
           FROM seg${r - 1} s CROSS JOIN m$r m)"""
    }.mkString(",\n         ")
    val union = (1 to rounds).map { r =>
      s"""SELECT $r AS "round", l AS "left", r AS "right", n FROM m$r"""
    }.mkString("\n           UNION ALL ")
    s"""WITH t AS (SELECT unnest(
             regexp_extract_all(text, '${graft.llm.ByteBpe.preTokenPattern}'))
             AS w
           FROM documents),
         w AS (SELECT w, CAST(count(*) AS BIGINT) AS wc FROM t GROUP BY w),
         seg0 AS (SELECT wc,
             regexp_replace(replace(w, ' ', chr(288)), '(.)',
               chr(1) || '\\1' || chr(1), 'g') AS seg
           FROM w),
         $stages
         $union"""
  }

  private def bpeEncodeSql(rounds: Int): String =
    s"""WITH ${bpeEncodeCtes(rounds)}
         SELECT d0.doc_id, coalesce(a.n_tokens, 0) AS n_tokens,
                coalesce(a.token_csv, '') AS token_csv
         FROM (SELECT doc_id FROM documents) d0
         LEFT JOIN agg a ON a.doc_id = d0.doc_id"""

  /** Literal >64-rule merge table for q_t_bpe_encode_big: exercises the
    * native BpeSegment expression path (tables past 64 rules skip the
    * nested-replace projection). 83 deterministic rules: the 9x9 grid
    * over the most frequent English letters plus two compound rules, so
    * plenty fire on the documents corpus. */
  private val bigBpeMerges: Seq[(String, String)] = {
    val cs = "etaoinshr"
    (for (l <- cs; r <- cs) yield (l.toString, r.toString)).toSeq ++
      Seq(("th", "e"), ("an", "d"))
  }

  /** Encode oracle for a LITERAL merge table: replays the table as
    * chained DuckDB replace() calls over the chr(1)-wrapped symbol
    * string (the exact sequential-pass semantics BpeSegment implements)
    * then rebuilds the induced vocabulary and per-doc csv exactly like
    * [[bpeEncodeCtes]]. DuckDB nests a few hundred replaces without the
    * planner limits that motivated the native Spark expression. */
  private def bpeEncodeLiteralSql(merges: Seq[(String, String)]): String = {
    def lit(s: String) = "'" + s.replace("'", "''") + "'"
    val segExpr = merges.foldLeft(
      "regexp_replace(w, '(.)', chr(1) || '\\1' || chr(1), 'g')") {
      case (acc, (l, r)) =>
        s"""replace($acc,
             chr(1) || ${lit(l)} || chr(1) || chr(1) || ${lit(r)} || chr(1),
             chr(1) || ${lit(l + r)} || chr(1))"""
    }
    val muRows = merges.zipWithIndex
      .map { case ((l, r), i) => s"(${i + 1}, ${lit(l)}, ${lit(r)})" }
      .mkString(",\n             ")
    s"""WITH t AS (SELECT unnest(list_filter(
             string_split_regex(lower(trim(text)), '\\s+'), x -> x <> ''))
             AS w
           FROM documents),
         w AS (SELECT DISTINCT w FROM t WHERE NOT contains(w, chr(1))),
         toks AS (SELECT w, string_split(trim($segExpr, chr(1)),
             chr(1) || chr(1)) AS toks
           FROM w),
         chars AS (SELECT DISTINCT substr(w, i, 1) AS tok FROM w,
             LATERAL (SELECT unnest(range(1, len(w) + 1)) AS i)),
         mu AS (SELECT * FROM (VALUES
             $muRows) AS mu0(rnd, l, r)),
         v0 AS (SELECT tok, 0 AS grp, tok AS ord FROM chars
           UNION ALL
           SELECT l || r AS tok, 1 AS grp,
                  lpad(CAST(rnd AS VARCHAR), 6, '0') AS ord
           FROM mu),
         v1 AS (SELECT tok,
             CAST(row_number() OVER (ORDER BY grp, ord) - 1 AS INT) AS id
           FROM v0),
         vocab AS (SELECT tok, id FROM (
             SELECT tok, id,
                    row_number() OVER (PARTITION BY tok ORDER BY id) AS rn
             FROM v1)
           WHERE rn = 1),
         enc AS (SELECT t0.w,
             array_to_string(list(CAST(v.id AS VARCHAR) ORDER BY t0.i), ',')
               AS ids_csv,
             CAST(count(*) AS INT) AS n
           FROM (SELECT w, i, toks[i] AS tok FROM toks,
               LATERAL (SELECT unnest(range(1, len(toks) + 1)) AS i)) t0
           JOIN vocab v ON v.tok = t0.tok
           GROUP BY t0.w),
         d AS (SELECT doc_id, list_filter(
             string_split_regex(lower(trim(text)), '\\s+'), x -> x <> '') AS ws
           FROM documents),
         dw AS (SELECT doc_id, i, ws[i] AS w FROM d,
             LATERAL (SELECT unnest(range(1, len(ws) + 1)) AS i)
           WHERE NOT contains(ws[i], chr(1))),
         agg AS (SELECT dw.doc_id,
             CAST(sum(e.n) AS INT) AS n_tokens,
             string_agg(e.ids_csv, ',' ORDER BY dw.i) AS token_csv
           FROM dw JOIN enc e ON e.w = dw.w
           GROUP BY dw.doc_id)
         SELECT d0.doc_id, coalesce(a.n_tokens, 0) AS n_tokens,
                coalesce(a.token_csv, '') AS token_csv
         FROM (SELECT doc_id FROM documents) d0
         LEFT JOIN agg a ON a.doc_id = d0.doc_id"""
  }

  /** Literal BYTE-level merge table for q_t_byte_bpe (Ġ = U+0120, the
    * GPT-2 representative of the 0x20 space byte): 16 GPT-2-style
    * rules including space-prefixed and multi-symbol products, so
    * compound merges fire on the documents corpus. */
  private val byteBpeMerges: Seq[(String, String)] = {
    val G = "Ġ"
    Seq((G, "t"), (G, "s"), (G, "a"), ("h", "e"), ("r", "e"), ("i", "n"),
      ("a", "l"), ("a", "r"), (G + "t", "he"), ("o", "w"), (G + "s", "c"),
      ("a", "n"), ("u", "e"), (G, "b"), ("l", "e"), (G + "s", "t"))
  }

  /** Render a byte-representative symbol as a DuckDB expression:
    * quoted runs for printable ASCII, chr(codepoint) elsewhere. */
  private def duckStr(s: String): String = {
    val parts = scala.collection.mutable.ArrayBuffer.empty[String]
    val sb = new StringBuilder
    def flush(): Unit = if (sb.nonEmpty) {
      parts += "'" + sb.toString.replace("'", "''") + "'"; sb.clear()
    }
    s.foreach { ch =>
      if (ch >= 33 && ch <= 126) sb.append(ch)
      else { flush(); parts += s"chr(${ch.toInt})" }
    }
    flush()
    if (parts.isEmpty) "''" else parts.mkString(" || ")
  }

  /** Byte-level BPE encode oracle for a LITERAL merge table: GPT-2-class
    * pre-tokenization (same lookaround-free RE2 pattern the engine
    * uses), the byte remap for THIS corpus (printable ASCII + space
    * only, so space -> chr(288) is the only non-identity byte), the
    * replace-chain replay of the sequential-pass merges, and the fixed
    * 256+|merges| vocabulary as literal VALUES rows (byte b = id b,
    * merge i = id 256 + i, first id wins). */
  private def byteBpeEncodeSql(merges: Seq[(String, String)]): String = {
    val segExpr = merges.foldLeft(
      "regexp_replace(b, '(.)', chr(1) || '\\1' || chr(1), 'g')") {
      case (acc, (l, r)) =>
        s"""replace($acc,
             chr(1) || ${duckStr(l)} || chr(1) || chr(1) || ${duckStr(r)} || chr(1),
             chr(1) || ${duckStr(l + r)} || chr(1))"""
    }
    val vocabRows = graft.llm.ByteBpe.vocabEntries(merges)
      .map { case (tok, id) => s"(${duckStr(tok)}, $id)" }
      .mkString(",\n             ")
    s"""WITH d AS (SELECT doc_id,
             regexp_extract_all(text, '${graft.llm.ByteBpe.preTokenPattern}')
               AS ws
           FROM documents),
         dw AS (SELECT doc_id, i, ws[i] AS w FROM d,
             LATERAL (SELECT unnest(range(1, len(ws) + 1)) AS i)),
         w AS (SELECT DISTINCT w FROM dw),
         bw AS (SELECT w, replace(w, ' ', chr(288)) AS b FROM w),
         toks AS (SELECT w, string_split(trim($segExpr, chr(1)),
             chr(1) || chr(1)) AS toks
           FROM bw),
         vocab AS (SELECT * FROM (VALUES
             $vocabRows) AS v0(tok, id)),
         enc AS (SELECT t0.w,
             array_to_string(list(CAST(v.id AS VARCHAR) ORDER BY t0.i), ',')
               AS ids_csv,
             CAST(count(*) AS INT) AS n
           FROM (SELECT w, i, toks[i] AS tok FROM toks,
               LATERAL (SELECT unnest(range(1, len(toks) + 1)) AS i)) t0
           JOIN vocab v ON v.tok = t0.tok
           GROUP BY t0.w),
         agg AS (SELECT dw.doc_id,
             CAST(sum(e.n) AS INT) AS n_tokens,
             string_agg(e.ids_csv, ',' ORDER BY dw.i) AS token_csv
           FROM dw JOIN enc e ON e.w = dw.w
           GROUP BY dw.doc_id)
         SELECT d0.doc_id, coalesce(a.n_tokens, 0) AS n_tokens,
                coalesce(a.token_csv, '') AS token_csv
         FROM (SELECT doc_id FROM documents) d0
         LEFT JOIN agg a ON a.doc_id = d0.doc_id"""
  }

  /** Repeated-span oracle CTEs through a `spans` relation: word
    * n-grams in >= minDocFreq distinct docs, island-merged per doc
    * with the same running-max window the Spark side uses. */
  private def repeatedSpanCtes(n: Int, minDocFreq: Int): String =
    s"""w AS (SELECT doc_id, list_filter(
             string_split_regex(lower(trim(text)), '\\s+'), x -> x <> '') AS ws
           FROM documents),
         g AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
             array_to_string(ws[i : i + ${n - 1}], ' ') AS gram
           FROM w, LATERAL (SELECT unnest(range(1, len(ws) - ${n - 2})) AS i)
           WHERE len(ws) >= $n),
         rep AS (SELECT gram FROM g
           GROUP BY gram HAVING count(DISTINCT doc_id) >= $minDocFreq),
         h AS (SELECT g.doc_id, g.pos, g.gram FROM g JOIN rep USING (gram)),
         mrk AS (SELECT doc_id, pos, gram,
             CASE WHEN pos > coalesce(max(pos + $n) OVER (
                 PARTITION BY doc_id ORDER BY pos
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
               THEN 1 ELSE 0 END AS newg
           FROM h),
         isl AS (SELECT *, sum(newg) OVER (PARTITION BY doc_id ORDER BY pos
             ROWS UNBOUNDED PRECEDING) AS grp FROM mrk),
         spans AS (SELECT doc_id, min(pos) AS span_start,
             max(pos) + $n AS span_end,
             CAST(count(DISTINCT gram) AS BIGINT) AS n_grams
           FROM isl GROUP BY doc_id, grp)"""

  /** Maximal-span oracle CTEs (suffix-array semantics at n-gram
    * resolution): same gram stream / doc-frequency cut as
    * [[repeatedSpanCtes]], but spans are maximal runs of CONSECUTIVE
    * repeated-gram positions (step exactly 1 - lag, not running max),
    * so every length-n window inside a span repeats. */
  private def maximalSpanCtes(n: Int, minDocFreq: Int): String =
    s"""w AS (SELECT doc_id, list_filter(
             string_split_regex(lower(trim(text)), '\\s+'), x -> x <> '') AS ws
           FROM documents),
         g AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
             array_to_string(ws[i : i + ${n - 1}], ' ') AS gram
           FROM w, LATERAL (SELECT unnest(range(1, len(ws) - ${n - 2})) AS i)
           WHERE len(ws) >= $n),
         rep AS (SELECT gram FROM g
           GROUP BY gram HAVING count(DISTINCT doc_id) >= $minDocFreq),
         h AS (SELECT g.doc_id, g.pos, g.gram FROM g JOIN rep USING (gram)),
         mrk AS (SELECT doc_id, pos, gram,
             CASE WHEN pos - coalesce(lag(pos) OVER (
                 PARTITION BY doc_id ORDER BY pos), -2) = 1
               THEN 0 ELSE 1 END AS newg
           FROM h),
         isl AS (SELECT *, sum(newg) OVER (PARTITION BY doc_id ORDER BY pos
             ROWS UNBOUNDED PRECEDING) AS grp FROM mrk),
         spans AS (SELECT doc_id, min(pos) AS span_start,
             max(pos) + $n AS span_end,
             CAST(count(DISTINCT gram) AS BIGINT) AS n_grams
           FROM isl GROUP BY doc_id, grp)"""

  val all: Seq[Q] = Seq(
    // corpus vocabulary top-k under a TOTAL order (count desc, term asc)
    Q("q_t_vocab", (s, dir) =>
      TextAnalysis.topTerms(Readers.table(s, dir, "documents"), 20),
      """SELECT term, count(*) AS n FROM (
           SELECT unnest(list_filter(
             string_split_regex(lower(trim(text)), '\s+'), x -> x <> ''))
             AS term
           FROM documents)
         GROUP BY term ORDER BY n DESC, term ASC LIMIT 20"""),

    // per-document top term by (tf desc, df asc, term asc) - the
    // integer-exact TF-IDF argmax
    Q("q_t_top_terms", (s, dir) =>
      TextAnalysis.topTermPerDoc(Readers.table(s, dir, "documents")),
      """WITH w AS (SELECT doc_id,
             unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'),
               x -> x <> '')) AS term
           FROM documents),
         tf AS (SELECT doc_id, term, count(*) AS tf FROM w GROUP BY 1, 2),
         d AS (SELECT term, count(*) AS df FROM tf GROUP BY term)
         SELECT doc_id, term AS top_term, tf, df FROM (
           SELECT tf.doc_id, tf.term, tf.tf, d.df,
                  ROW_NUMBER() OVER (PARTITION BY tf.doc_id
                    ORDER BY tf.tf DESC, d.df ASC, tf.term ASC) AS rn
           FROM tf JOIN d USING (term))
         WHERE rn = 1"""),

    // OOV rate vs the corpus' own top-10 vocabulary (broadcast join)
    Q("q_t_oov", (s, dir) =>
      TextAnalysis.withOovRate(Readers.table(s, dir, "documents"), vocabSize = 10)
        .select(col("doc_id"), col("n_tokens"), col("n_oov"),
          col("oov_rate")),
      """WITH w AS (SELECT doc_id,
             unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'),
               x -> x <> '')) AS term
           FROM documents),
         v AS (SELECT term FROM (
           SELECT term, count(*) AS n FROM w GROUP BY term
           ORDER BY n DESC, term ASC LIMIT 10)),
         c AS (SELECT w.doc_id, count(*) AS n_tokens,
                      CAST(sum(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_oov
               FROM w LEFT JOIN v ON w.term = v.term
               GROUP BY w.doc_id)
         SELECT d.doc_id, coalesce(c.n_tokens, 0) AS n_tokens,
                coalesce(c.n_oov, 0) AS n_oov,
                CASE WHEN c.n_tokens > 0
                     THEN c.n_oov / CAST(c.n_tokens AS DOUBLE)
                     ELSE 0.0 END AS oov_rate
         FROM documents d LEFT JOIN c USING (doc_id)"""),

    // C4/Gopher-style composite quality filter: keep flag + first
    // failing rule
    Q("q_t_filter", (s, dir) =>
      TextAnalysis.withQualityFilter(Readers.table(s, dir, "documents"))
        .select(col("doc_id"), col("keep"), col("drop_reason")),
      // quality filter: same features as q_t_quality / q_t_repetition,
      // same rule order, first failing rule is the reason
      """WITH f AS (
           SELECT doc_id,
             length(text) AS nc,
             CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS INT)
               AS nw,
             CAST(len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
               w -> list_contains(['the','a','an','and','or','of','to','in',
                 'is','it','that','for','on','with','as','was','at','by'], w)))
               AS INT) AS nstop,
             length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g'))
               AS npunct,
             length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))
               AS ndigit,
             list_filter(list_transform(string_split_regex(text, '\r?\n'),
               l -> trim(l)), l -> l <> '') AS lines,
             list_filter(string_split_regex(lower(trim(text)), '\s+'),
               w -> w <> '') AS words
           FROM documents),
         r AS (
           SELECT doc_id, nw,
             CASE WHEN nw > 0 THEN (nc - nw + 1) / CAST(nw AS DOUBLE)
                  ELSE 0.0 END AS awl,
             CASE WHEN nw > 0 THEN nstop / CAST(nw AS DOUBLE)
                  ELSE 0.0 END AS stopr,
             CASE WHEN nc > 0 THEN npunct / CAST(nc AS DOUBLE)
                  ELSE 0.0 END AS punctr,
             CASE WHEN nc > 0 THEN ndigit / CAST(nc AS DOUBLE)
                  ELSE 0.0 END AS digitr,
             CASE WHEN len(lines) > 0 THEN
               (len(lines) - len(list_distinct(lines)))
                 / CAST(len(lines) AS DOUBLE) ELSE 0.0 END AS duplr,
             CASE WHEN len(words) > 0 THEN
               (len(words) - len(list_distinct(words)))
                 / CAST(len(words) AS DOUBLE) ELSE 0.0 END AS dupwr
           FROM f)
         SELECT doc_id,
           CAST(reason IS NULL AS INT) AS keep, reason AS drop_reason
         FROM (
           SELECT doc_id,
             CASE WHEN nw < 10 THEN 'too_few_words'
                  WHEN nw > 100000 THEN 'too_many_words'
                  WHEN awl < 2.0 THEN 'short_words'
                  WHEN awl > 12.0 THEN 'long_words'
                  WHEN stopr < 0.01 THEN 'low_stopword'
                  WHEN punctr > 0.2 THEN 'high_punct'
                  WHEN digitr > 0.2 THEN 'high_digit'
                  WHEN duplr > 0.5 THEN 'repetitive_lines'
                  WHEN dupwr > 0.85 THEN 'repetitive_words'
                  END AS reason
           FROM r)"""),

    // per-source log2 token-length histogram (sequence-budget planning)
    Q("q_t_length_hist", (s, dir) =>
      TextAnalysis.lengthHistogram(Readers.table(s, dir, "documents")),
      // log2 token-length histogram: len(bin(n)) is the integer-exact
      // floor(log2)+1 on both engines; all-integer aggregates
      """SELECT source,
             CASE WHEN n <= 0 THEN 0
                  ELSE CAST(len(bin(n)) AS INT) END AS bucket,
             count(*) AS n_docs,
             CAST(sum(n) AS BIGINT) AS sum_tokens,
             min(n) AS min_tokens, max(n) AS max_tokens
         FROM (SELECT source,
                 coalesce(CAST(len(string_split_regex(trim(text), '\s+'))
                   AS INT), 0) AS n
               FROM documents)
         GROUP BY 1, 2"""),

    // per-source corpus health report (dominant drop reason under a
    // total order; integer aggregates + one int/int division)
    Q("q_t_source_report", (s, dir) =>
      TextAnalysis.sourceQualityReport(Readers.table(s, dir, "documents")),
      // per-source report over the same rule family as q_t_filter; the
      // dominant drop reason is picked under (count desc, reason asc)
      """WITH f AS (
           SELECT doc_id, source,
             length(text) AS nc,
             CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS INT)
               AS nw,
             CAST(len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
               w -> list_contains(['the','a','an','and','or','of','to','in',
                 'is','it','that','for','on','with','as','was','at','by'], w)))
               AS INT) AS nstop,
             length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g'))
               AS npunct,
             length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))
               AS ndigit,
             list_filter(list_transform(string_split_regex(text, '\r?\n'),
               l -> trim(l)), l -> l <> '') AS lines,
             list_filter(string_split_regex(lower(trim(text)), '\s+'),
               w -> w <> '') AS words
           FROM documents),
         r AS (
           SELECT doc_id, source, nc, nw,
             CASE WHEN nw > 0 THEN (nc - nw + 1) / CAST(nw AS DOUBLE)
                  ELSE 0.0 END AS awl,
             CASE WHEN nw > 0 THEN nstop / CAST(nw AS DOUBLE)
                  ELSE 0.0 END AS stopr,
             CASE WHEN nc > 0 THEN npunct / CAST(nc AS DOUBLE)
                  ELSE 0.0 END AS punctr,
             CASE WHEN nc > 0 THEN ndigit / CAST(nc AS DOUBLE)
                  ELSE 0.0 END AS digitr,
             CASE WHEN len(lines) > 0 THEN
               (len(lines) - len(list_distinct(lines)))
                 / CAST(len(lines) AS DOUBLE) ELSE 0.0 END AS duplr,
             CASE WHEN len(words) > 0 THEN
               (len(words) - len(list_distinct(words)))
                 / CAST(len(words) AS DOUBLE) ELSE 0.0 END AS dupwr
           FROM f),
         cls AS (
           SELECT doc_id, source, nc, nw,
             CASE WHEN nw < 10 THEN 'too_few_words'
                  WHEN nw > 100000 THEN 'too_many_words'
                  WHEN awl < 2.0 THEN 'short_words'
                  WHEN awl > 12.0 THEN 'long_words'
                  WHEN stopr < 0.01 THEN 'low_stopword'
                  WHEN punctr > 0.2 THEN 'high_punct'
                  WHEN digitr > 0.2 THEN 'high_digit'
                  WHEN duplr > 0.5 THEN 'repetitive_lines'
                  WHEN dupwr > 0.85 THEN 'repetitive_words'
                  END AS reason
           FROM r),
         base AS (
           SELECT source, count(*) AS n_docs,
             CAST(sum(CASE WHEN reason IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_kept,
             CAST(sum(nw) AS BIGINT) AS total_words,
             CAST(sum(nc) AS BIGINT) AS total_chars
           FROM cls GROUP BY source),
         tops AS (
           SELECT source, reason AS top_drop_reason FROM (
             SELECT source, reason, count(*) AS n,
               row_number() OVER (PARTITION BY source
                 ORDER BY count(*) DESC, reason ASC) AS rn
             FROM cls WHERE reason IS NOT NULL GROUP BY source, reason)
           WHERE rn = 1)
         SELECT b.source, b.n_docs, b.n_kept,
                b.n_kept / CAST(b.n_docs AS DOUBLE) AS keep_rate,
                b.total_words, b.total_chars, t.top_drop_reason
         FROM base b LEFT JOIN tops t USING (source)"""),

    // end-to-end LLM data prep: scrub -> quality filter -> normalized
    // dedup -> split -> stratified sample (src1 at 50%), DuckDB-oracled
    // end to end - every stage is a pure function of content
    Q("q_llm_prep_e2e", (s, dir) =>
      graft.llm.PrepPipeline.run(Readers.table(s, dir, "documents"),
        rates = Map("src1" -> 0.5)),
      // the composed prep flow: scrub placeholders -> rule filter on the
      // scrubbed text -> keep-lowest-id per normalized hash -> md5 split
      // -> salted-md5 stratified sample (src1 cutoff 80000000 = 50%)
      """WITH s1 AS (SELECT doc_id, source, text AS t0,
             regexp_replace(text, 'https?://[^\s]+', '<URL>', 'g') AS t1
           FROM documents),
         s2 AS (SELECT doc_id, source, t0, t1,
             regexp_replace(t1,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
               '<EMAIL>', 'g') AS t2
           FROM s1),
         sc AS (SELECT doc_id, source,
             CAST(len(regexp_extract_all(t0, 'https?://[^\s]+')) AS INT)
               AS n_urls,
             CAST(len(regexp_extract_all(t1,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT)
               AS n_emails,
             CAST(len(regexp_extract_all(t2,
               '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b'))
               AS INT) AS n_ips,
             regexp_replace(t2,
               '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b',
               '<IP>', 'g') AS sb
           FROM s2),
         f AS (SELECT doc_id, source, n_urls, n_emails, n_ips, sb,
             length(sb) AS nc,
             CAST(len(string_split_regex(lower(trim(sb)), '\s+')) AS INT)
               AS nw,
             CAST(len(list_filter(string_split_regex(lower(trim(sb)), '\s+'),
               w -> list_contains(['the','a','an','and','or','of','to','in',
                 'is','it','that','for','on','with','as','was','at','by'], w)))
               AS INT) AS nstop,
             length(sb) - length(regexp_replace(sb, '[[:punct:]]', '', 'g'))
               AS npunct,
             length(sb) - length(regexp_replace(sb, '[0-9]', '', 'g'))
               AS ndigit,
             list_filter(list_transform(string_split_regex(sb, '\r?\n'),
               l -> trim(l)), l -> l <> '') AS lines,
             list_filter(string_split_regex(lower(trim(sb)), '\s+'),
               w -> w <> '') AS words
           FROM sc),
         r AS (SELECT doc_id, source, n_urls, n_emails, n_ips, sb, nw,
             CASE WHEN nw > 0 THEN (nc - nw + 1) / CAST(nw AS DOUBLE)
                  ELSE 0.0 END AS awl,
             CASE WHEN nw > 0 THEN nstop / CAST(nw AS DOUBLE)
                  ELSE 0.0 END AS stopr,
             CASE WHEN nc > 0 THEN npunct / CAST(nc AS DOUBLE)
                  ELSE 0.0 END AS punctr,
             CASE WHEN nc > 0 THEN ndigit / CAST(nc AS DOUBLE)
                  ELSE 0.0 END AS digitr,
             CASE WHEN len(lines) > 0 THEN
               (len(lines) - len(list_distinct(lines)))
                 / CAST(len(lines) AS DOUBLE) ELSE 0.0 END AS duplr,
             CASE WHEN len(words) > 0 THEN
               (len(words) - len(list_distinct(words)))
                 / CAST(len(words) AS DOUBLE) ELSE 0.0 END AS dupwr
           FROM f),
         keep AS (SELECT doc_id, source, n_urls, n_emails, n_ips, sb
           FROM r
           WHERE nw >= 10 AND nw <= 100000 AND awl >= 2.0 AND awl <= 12.0
             AND stopr >= 0.01 AND punctr <= 0.2 AND digitr <= 0.2
             AND duplr <= 0.5 AND dupwr <= 0.85),
         ddp AS (SELECT *, row_number() OVER (
             PARTITION BY md5(regexp_replace(lower(trim(sb)), '\s+', ' ', 'g'))
             ORDER BY doc_id) AS rn
           FROM keep)
         SELECT doc_id, source,
           CASE WHEN substr(md5(sb), 1, 2) < 'cc' THEN 'train'
                WHEN substr(md5(sb), 1, 2) < 'e6' THEN 'val'
                ELSE 'test' END AS split,
           CAST(substr(md5('sample-v1' || sb), 1, 8) <
             CASE WHEN source = 'src1' THEN '80000000' ELSE 'g' END
             AS INT) AS kept,
           n_urls, n_emails, n_ips
         FROM ddp WHERE rn = 1"""),

    // token-commonness: mean corpus document-frequency per doc
    Q("q_t_commonness", (s, dir) =>
      TextAnalysis.withCommonnessScore(Readers.table(s, dir, "documents"))
        .select(col("doc_id"), col("n_tokens"), col("sum_df"),
          col("mean_df")),
      """WITH w AS (SELECT doc_id,
             unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'),
               x -> x <> '')) AS term
           FROM documents),
         dfreq AS (SELECT term, count(*) AS df FROM (
             SELECT DISTINCT doc_id, term FROM w) GROUP BY term),
         sc AS (SELECT w.doc_id, count(*) AS n_tokens,
                       CAST(sum(d.df) AS BIGINT) AS sum_df
                FROM w JOIN dfreq d USING (term) GROUP BY w.doc_id)
         SELECT d.doc_id, coalesce(sc.n_tokens, 0) AS n_tokens,
                coalesce(sc.sum_df, 0) AS sum_df,
                coalesce(sc.sum_df / CAST(sc.n_tokens AS DOUBLE), 0.0)
                  AS mean_df
         FROM documents d LEFT JOIN sc USING (doc_id)"""),

    // CCNet-style model-based quality: train an add-one bigram LM on
    // the corpus, score every doc by avg negative log-likelihood /
    // perplexity (exact integer micro-nat sums; see LmScore scaladoc)
    Q("q_t_lm_ppl", (s, dir) =>
      graft.llm.LmScore.bigramLmScores(Readers.table(s, dir, "documents")),
      // add-one bigram LM trained on the corpus, replayed: unigram /
      // bigram count tables, per-token log-probs quantized to integer
      // micro-nats BEFORE the per-doc sum (exact integer aggregation -
      // the engines agree bit-for-bit; see LmScore scaladoc)
      """WITH toks AS (SELECT doc_id, list_filter(
             string_split_regex(lower(trim(text)), '\s+'), x -> x <> '')
             AS ws
           FROM documents),
         t AS (SELECT doc_id, ws FROM toks WHERE len(ws) > 0),
         uc AS (SELECT w, count(*) AS cw FROM (
             SELECT unnest(ws) AS w FROM t) GROUP BY w),
         st AS (SELECT count(*) AS v, CAST(sum(cw) AS DOUBLE) AS n FROM uc),
         bgf AS (SELECT doc_id, b.p AS prev, b.w AS w FROM (
             SELECT doc_id, unnest(list_transform(range(1, len(ws)),
               i -> struct_pack(p := ws[i], w := ws[i + 1]))) AS b
             FROM t WHERE len(ws) >= 2)),
         bc AS (SELECT prev, w, count(*) AS cb FROM bgf GROUP BY prev, w),
         first AS (SELECT t.doc_id,
             CAST(round(ln((uc.cw + 1.0) / (st.n + st.v)) * 1e6) AS BIGINT)
               AS m
           FROM t JOIN uc ON t.ws[1] = uc.w CROSS JOIN st),
         cond AS (SELECT f.doc_id,
             CAST(round(ln((bc.cb + 1.0) / (up.cw + st.v)) * 1e6) AS BIGINT)
               AS m
           FROM bgf f JOIN bc ON f.prev = bc.prev AND f.w = bc.w
           JOIN uc up ON f.prev = up.w CROSS JOIN st),
         s AS (SELECT doc_id, CAST(-sum(m) AS BIGINT) AS micro_nll FROM (
             SELECT * FROM first UNION ALL SELECT * FROM cond)
           GROUP BY doc_id)
         SELECT t.doc_id, CAST(len(t.ws) AS INT) AS n_tokens, s.micro_nll,
                ((s.micro_nll * 2 + len(t.ws)) // (len(t.ws) * 2)) / 1e6
                  AS avg_nll,
                round(exp(((s.micro_nll * 2 + len(t.ws))
                  // (len(t.ws) * 2)) / 1e6), 4) AS ppl
         FROM t JOIN s USING (doc_id)"""),

    // DSIR importance weighting: hashed-unigram log-likelihood ratio of
    // a target domain (source='src0') vs the raw corpus, per doc
    Q("q_t_dsir", (s, dir) => {
      val docs = Readers.table(s, dir, "documents")
      graft.llm.LmScore.dsirScores(docs, docs.filter(col("source") === "src0"))
    },
      // DSIR hashed-unigram importance weights: target = source 'src0',
      // 256 md5-prefix buckets, per-token llr quantized to micro-nats
      """WITH tok AS (SELECT doc_id, source, unnest(list_filter(
             string_split_regex(lower(trim(text)), '\s+'), x -> x <> ''))
             AS w
           FROM documents),
         raw AS (SELECT doc_id, substr(md5(w), 1, 2) AS bucket FROM tok),
         rc AS (SELECT bucket, count(*) AS cr FROM raw GROUP BY bucket),
         tc AS (SELECT substr(md5(w), 1, 2) AS bucket, count(*) AS ct
           FROM tok WHERE source = 'src0' GROUP BY bucket),
         nr AS (SELECT CAST(sum(cr) AS DOUBLE) AS nr FROM rc),
         nt AS (SELECT CAST(sum(ct) AS DOUBLE) AS nt FROM tc),
         model AS (SELECT rc.bucket,
             CAST(round((ln((coalesce(tc.ct, 0) + 1.0) / (nt.nt + 256.0)) -
                         ln((rc.cr + 1.0) / (nr.nr + 256.0))) * 1e6)
               AS BIGINT) AS m
           FROM rc LEFT JOIN tc USING (bucket) CROSS JOIN nr CROSS JOIN nt),
         sc AS (SELECT raw.doc_id, count(*) AS n_tokens,
                       CAST(sum(m.m) AS BIGINT) AS micro_llr
           FROM raw JOIN model m USING (bucket) GROUP BY raw.doc_id)
         SELECT doc_id, n_tokens, micro_llr,
                (CASE WHEN micro_llr < 0 THEN -1 ELSE 1 END *
                  ((abs(micro_llr) * 2 + n_tokens) // (n_tokens * 2)))
                  / 1e6 AS avg_llr,
                micro_llr > 0 AS keep
         FROM sc"""),

    // per-source unigram KL divergence from the corpus mixture - the
    // distribution-drift dashboard a data-mixing decision reads
    Q("q_t_source_kl", (s, dir) =>
      graft.llm.LmScore.sourceKlReport(Readers.table(s, dir, "documents")),
      // per-source KL(P_s || Q) over add-one unigram models on the shared
      // corpus vocabulary; each term quantized to pico-nats pre-sum
      """WITH tok AS (SELECT source AS src, unnest(list_filter(
             string_split_regex(lower(trim(text)), '\s+'), x -> x <> ''))
             AS w
           FROM documents),
         sw AS (SELECT src, w, count(*) AS cs FROM tok GROUP BY src, w),
         vocab AS (SELECT w, CAST(sum(cs) AS BIGINT) AS cq
           FROM sw GROUP BY w),
         st AS (SELECT count(*) AS v, CAST(sum(cq) AS DOUBLE) AS n
           FROM vocab),
         tot AS (SELECT src, CAST(sum(cs) AS BIGINT) AS n_tokens
           FROM sw GROUP BY src),
         dense AS (SELECT t.src, t.n_tokens, v.w, v.cq,
                          coalesce(sw.cs, 0) AS cs
           FROM vocab v CROSS JOIN tot t
           LEFT JOIN sw ON sw.src = t.src AND sw.w = v.w),
         terms AS (SELECT src, n_tokens,
             CAST(round(((cs + 1.0) / (n_tokens + st.v)) *
               ln(((cs + 1.0) / (n_tokens + st.v)) /
                  ((cq + 1.0) / (st.n + st.v))) * 1e12) AS BIGINT) AS t
           FROM dense CROSS JOIN st)
         SELECT src AS source, n_tokens,
                CAST(sum(t) AS BIGINT) AS pico_kl,
                (CASE WHEN CAST(sum(t) AS BIGINT) < 0 THEN -1 ELSE 1 END *
                  ((abs(CAST(sum(t) AS BIGINT)) * 2 + 1000000) // 2000000))
                  / 1e6 AS kl
         FROM terms GROUP BY src, n_tokens"""),

    // GPT-3/LLaMA-style quality classifier: logistic regression on
    // hashed bag-of-words (positive class = src0), 2 exact-integer
    // gradient steps, then score/keep per doc; DuckDB replays the
    // whole training loop as unrolled CTE stages
    Q("q_t_logreg", (s, dir) =>
      graft.llm.LmScore.logregQualityScores(tDocsPar(s, dir),
        col("source") === "src0", steps = 2),
      // the quality classifier's 2-step training loop + scoring, replayed
      // as unrolled CTE stages (see logregSql)
      logregSql(2)),

    // HyperLogLog distinct-token registers per source, collapsed to one
    // exact-integer row per stratum (m=1024, md5 buckets; the mergeable
    // sketch that replaces exact count(DISTINCT) at corpus scale)
    Q("q_sk_hll", (s, dir) =>
      graft.llm.Sketches.hllReport(
        Readers.table(s, dir, "documents").select(col("source"),
          explode(TextAnalysis.normalizedWords(col("text"))).as("w")),
        "source", col("w"), p = 10),
      // HLL registers replayed: md5-hex -> 60-bit int, bucket = top 10
      // bits, rho = 1 + leading zeros of the low 50, registers max'd then
      // collapsed to the exact-integer (nonzero, harmonic) pair per source
      """WITH w AS (SELECT source, unnest(list_filter(
             string_split_regex(lower(trim(text)), '\s+'), x -> x <> ''))
             AS w
           FROM documents),
         h AS (SELECT source,
             ('0x' || substr(md5(w), 1, 15))::BIGINT AS h FROM w),
         r AS (SELECT source, h >> 50 AS bucket,
             CASE WHEN (h & ((1::BIGINT << 50) - 1)) = 0 THEN 51
                  ELSE 51 - length(bin(h & ((1::BIGINT << 50) - 1)))
             END AS rho
           FROM h),
         reg AS (SELECT source, bucket, max(rho) AS m_j
           FROM r GROUP BY 1, 2),
         rep AS (SELECT source, count(*) AS nonzero_registers,
             sum(1::BIGINT << (51 - m_j)) AS present_sum
           FROM reg GROUP BY 1)
         SELECT source, 1024 AS m, nonzero_registers,
                CAST(present_sum + (1024 - nonzero_registers)
                  * (1::BIGINT << 51) AS BIGINT) AS harmonic_scaled
         FROM rep"""),

    // Count-Min sketch acceptance check: estimated vs true counts for
    // the exact top-20 terms (4x512 md5-seeded grid; est >= true, gap =
    // collision overestimate)
    Q("q_sk_cms", (s, dir) =>
      graft.llm.Sketches.cmsHeavyHitterCheck(
        Readers.table(s, dir, "documents").select(
          explode(TextAnalysis.normalizedWords(col("text"))).as("w")),
        col("w"), k = 20, depth = 4, width = 512),
      // Count-Min replay: 4 md5-seeded hash rows x 512 cells, point-query
      // min over the addressed cells for the exact top-20 terms
      """WITH w AS (SELECT unnest(list_filter(
             string_split_regex(lower(trim(text)), '\s+'), x -> x <> ''))
             AS v
           FROM documents),
         occ AS (SELECT v, unnest(range(0, 4)) AS d FROM w),
         cell AS (SELECT d,
             ('0x' || substr(md5(d || '|' || v), 1, 15))::BIGINT % 512
               AS c
           FROM occ),
         sk AS (SELECT d, c, count(*) AS cnt FROM cell GROUP BY 1, 2),
         top AS (SELECT v, count(*) AS true_cnt FROM w GROUP BY v
           ORDER BY true_cnt DESC, v LIMIT 20),
         pr AS (SELECT t.v, t.true_cnt, dd.d,
             ('0x' || substr(md5(dd.d || '|' || t.v), 1, 15))::BIGINT
               % 512 AS c
           FROM top t, (SELECT unnest(range(0, 4)) AS d) dd),
         est AS (SELECT v, true_cnt, min(cnt) AS cms_est
           FROM pr JOIN sk USING (d, c) GROUP BY 1, 2)
         SELECT v, true_cnt, CAST(cms_est AS BIGINT) AS cms_est,
                CAST(cms_est - true_cnt AS BIGINT) AS overestimate
         FROM est"""),

    // per-source top-10 distinctive terms by tf-idf (micro-nat idf,
    // exact integer scores, two-level sharded top-k)
    Q("q_t_tfidf", (s, dir) =>
      graft.llm.Sketches.tfidfTopTerms(Readers.table(s, dir, "documents"), k = 10),
      // tf-idf replay: micro-nat idf over ln(N/df), integer scores,
      // per-source row_number top-10 (the Spark side's two-level shard
      // top-k is exact, so the plain window reproduces it)
      """WITH toks AS (SELECT source, doc_id, list_filter(
             string_split_regex(lower(trim(text)), '\s+'), x -> x <> '')
             AS ws
           FROM documents),
         t AS (SELECT * FROM toks WHERE len(ws) > 0),
         occ AS (SELECT source, doc_id, unnest(ws) AS w FROM t),
         n AS (SELECT count(*) AS n FROM t),
         dfreq AS (SELECT w, count(*) AS df_docs FROM (
             SELECT DISTINCT doc_id, w FROM occ) GROUP BY w),
         idf AS (SELECT w, df_docs,
             CAST(round(ln(CAST(n.n AS DOUBLE) / CAST(df_docs AS DOUBLE))
               * 1e6) AS BIGINT) AS idf_micro
           FROM dfreq, n),
         tf AS (SELECT source, w, count(*) AS tf FROM occ GROUP BY 1, 2),
         sc AS (SELECT tf.source, tf.w, tf.tf, idf.df_docs,
             tf.tf * idf.idf_micro AS score_micro
           FROM tf JOIN idf USING (w)),
         r AS (SELECT *, row_number() OVER (PARTITION BY source
             ORDER BY score_micro DESC, w) AS rnk FROM sc)
         SELECT source, w, tf, df_docs,
                CAST(score_micro AS BIGINT) AS score_micro,
                CAST(rnk AS INT) AS rnk
         FROM r WHERE rnk <= 10"""),

    // hashing-vectorizer document features: 64-dim hashed tf-idf,
    // milli-nat integer weights, CSV-joined for the compare
    Q("q_t_hash_vectors", (s, dir) =>
      graft.llm.Sketches.hashedTfidfVectors(Readers.table(s, dir, "documents")),
      // hashing-vectorizer replay: milli-nat idf, md5 bucket mod 64,
      // sparse sums densified by a range cross join, ordered list join
      """WITH toks AS (SELECT doc_id, list_filter(
             string_split_regex(lower(trim(text)), '\s+'), x -> x <> '')
             AS ws
           FROM documents),
         t AS (SELECT * FROM toks WHERE len(ws) > 0),
         occ AS (SELECT doc_id AS id, unnest(ws) AS w FROM t),
         n AS (SELECT count(*) AS n FROM t),
         idf AS (SELECT w, CAST(round(ln(CAST(n.n AS DOUBLE)
             / CAST(df_docs AS DOUBLE)) * 1e3) AS BIGINT) AS idf_milli
           FROM (SELECT w, count(*) AS df_docs FROM (
               SELECT DISTINCT id, w FROM occ) GROUP BY w), n),
         cw AS (SELECT id, w, count(*) AS cnt FROM occ GROUP BY 1, 2),
         sp AS (SELECT id,
             ('0x' || substr(md5(w), 1, 15))::BIGINT % 64 AS bucket,
             CAST(sum(cnt * idf_milli) AS BIGINT) AS v
           FROM cw JOIN idf USING (w) GROUP BY 1, 2
           HAVING CAST(sum(cnt * idf_milli) AS BIGINT) <> 0),
         dense AS (SELECT d.id, r.b, coalesce(sp.v, 0) AS v
           FROM (SELECT DISTINCT id FROM sp) d
           CROSS JOIN (SELECT unnest(range(0, 64)) AS b) r
           LEFT JOIN sp ON sp.id = d.id AND sp.bucket = r.b)
         SELECT id AS doc_id,
                array_to_string(list(v ORDER BY b), ',') AS vec_csv
         FROM dense GROUP BY id"""),

    // probe-set text similarity over those features: exact integer
    // sparse dot products, two-level shard top-5, self excluded
    Q("q_t_text_knn", (s, dir) =>
      graft.llm.Sketches.textKnnByTfidf(Readers.table(s, dir, "documents"),
        col("doc_id") < 20, k = 5),
      // sparse integer dot-product knn over the hashed features
      """WITH toks AS (SELECT doc_id, list_filter(
             string_split_regex(lower(trim(text)), '\s+'), x -> x <> '')
             AS ws
           FROM documents),
         t AS (SELECT * FROM toks WHERE len(ws) > 0),
         occ AS (SELECT doc_id AS id, unnest(ws) AS w FROM t),
         n AS (SELECT count(*) AS n FROM t),
         idf AS (SELECT w, CAST(round(ln(CAST(n.n AS DOUBLE)
             / CAST(df_docs AS DOUBLE)) * 1e3) AS BIGINT) AS idf_milli
           FROM (SELECT w, count(*) AS df_docs FROM (
               SELECT DISTINCT id, w FROM occ) GROUP BY w), n),
         cw AS (SELECT id, w, count(*) AS cnt FROM occ GROUP BY 1, 2),
         sp AS (SELECT id,
             ('0x' || substr(md5(w), 1, 15))::BIGINT % 64 AS bucket,
             CAST(sum(cnt * idf_milli) AS BIGINT) AS v
           FROM cw JOIN idf USING (w) GROUP BY 1, 2
           HAVING CAST(sum(cnt * idf_milli) AS BIGINT) <> 0),
         pr AS (SELECT id AS probe_id, bucket, v AS pv FROM sp
           WHERE id < 20),
         dots AS (SELECT pr.probe_id, s.id AS doc_id,
             CAST(sum(pr.pv * s.v) AS BIGINT) AS dot
           FROM pr JOIN sp s USING (bucket)
           WHERE s.id <> pr.probe_id
           GROUP BY 1, 2),
         r AS (SELECT *, row_number() OVER (PARTITION BY probe_id
             ORDER BY dot DESC, doc_id) AS rnk FROM dots)
         SELECT probe_id, doc_id, dot, CAST(rnk AS INT) AS rnk
         FROM r WHERE rnk <= 5"""),

    // top-20 bigram collocations by PMI over the bigram-event space
    // (micro-nat quantized, TakeOrdered top-k - no global window)
    Q("q_t_pmi", (s, dir) =>
      graft.llm.Sketches.pmiCollocations(Readers.table(s, dir, "documents"),
        minCount = 5L, k = 20),
      // PMI replay: bigram-event marginals, micro-nat ln, top-20 under
      // (pmi desc, prev, w)
      """WITH t AS (SELECT list_filter(
             string_split_regex(lower(trim(text)), '\s+'), x -> x <> '')
             AS ws
           FROM documents),
         t2 AS (SELECT ws FROM t WHERE len(ws) >= 2),
         bg AS (SELECT b.p AS prev, b.w AS w FROM (
             SELECT unnest(list_transform(range(1, len(ws)),
               i -> struct_pack(p := ws[i], w := ws[i + 1]))) AS b
             FROM t2)),
         cab AS (SELECT prev, w, count(*) AS c_ab FROM bg GROUP BY 1, 2),
         ca AS (SELECT prev, count(*) AS c_a FROM bg GROUP BY 1),
         cb AS (SELECT w, count(*) AS c_b FROM bg GROUP BY 1),
         n AS (SELECT count(*) AS n FROM bg),
         cand AS (SELECT cab.prev, cab.w, cab.c_ab,
             CAST(round(ln(CAST(c_ab AS DOUBLE) * CAST(n.n AS DOUBLE)
               / (CAST(c_a AS DOUBLE) * CAST(c_b AS DOUBLE))) * 1e6)
               AS BIGINT) AS pmi_micro
           FROM cab JOIN ca USING (prev) JOIN cb USING (w) CROSS JOIN n
           WHERE c_ab >= 5),
         r AS (SELECT *, row_number() OVER (
             ORDER BY pmi_micro DESC, prev, w) AS rnk FROM cand)
         SELECT prev, w, c_ab, pmi_micro, CAST(rnk AS INT) AS rnk
         FROM r WHERE rnk <= 20"""),

    // MOSS winnowing fingerprints: leftmost-min of each w-window of
    // word-4-gram md5 hashes; in-array HOFs, no shuffle
    Q("q_t_winnow", (s, dir) =>
      graft.llm.Dedup.winnowFingerprints(Readers.table(s, dir, "documents"),
        k = 4, w = 4),
      // winnowing replay: 60-bit md5-prefix gram hashes, leftmost-min
      // window selection, distinct selected positions
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
           FROM g)
         SELECT doc_id, CAST(p AS INT) AS pos, gh[p] AS fp
         FROM (SELECT doc_id, gh, unnest(ps) AS p FROM s)"""),

    // token-window chunking with overlap (64/8): the embedding /
    // retrieval prep slicing; map-only explode, no shuffle
    Q("q_t_chunks", (s, dir) =>
      graft.llm.Chunking.chunkDocuments(Readers.table(s, dir, "documents"),
        chunkSize = 64, overlap = 8),
      // 64/8 token-window chunking: range() strides, 1-based inclusive
      // list slices; a trailing window adding no new tokens is not emitted
      """WITH t AS (SELECT doc_id, list_filter(
             string_split_regex(lower(trim(text)), '\s+'), x -> x <> '')
             AS ws
           FROM documents),
         t2 AS (SELECT doc_id, ws FROM t WHERE len(ws) > 0),
         st AS (SELECT doc_id, ws,
             unnest(range(0, greatest(len(ws) - 8, 1), 56)) AS cs
           FROM t2),
         c AS (SELECT doc_id, CAST(cs // 56 AS INT) AS chunk_id,
             CAST(cs AS INT) AS chunk_start,
             ws[cs + 1 : cs + 64] AS cw
           FROM st)
         SELECT doc_id, chunk_id, chunk_start,
                CAST(len(cw) AS INT) AS n_chunk_tokens,
                array_to_string(cw, ' ') AS chunk_text,
                CAST(8 AS INT) AS chunk_overlap
         FROM c"""),

    // curation funnel: per-(source, first-failing-stage) doc and token
    // accounting over the quality filter - "where did my corpus go"
    Q("q_t_funnel", (s, dir) =>
      TextAnalysis.curationFunnel(Readers.table(s, dir, "documents")),
      // the q_t_filter verdict chain aggregated to the per-(source,
      // outcome) funnel with within-stratum shares
      """WITH f AS (
           SELECT doc_id, source,
             length(text) AS nc,
             CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS INT)
               AS nw,
             CAST(len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
               w -> list_contains(['the','a','an','and','or','of','to','in',
                 'is','it','that','for','on','with','as','was','at','by'], w)))
               AS INT) AS nstop,
             length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g'))
               AS npunct,
             length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))
               AS ndigit,
             list_filter(list_transform(string_split_regex(text, '\r?\n'),
               l -> trim(l)), l -> l <> '') AS lines,
             list_filter(string_split_regex(lower(trim(text)), '\s+'),
               w -> w <> '') AS words
           FROM documents),
         r AS (
           SELECT doc_id, source, nw,
             CASE WHEN nw > 0 THEN (nc - nw + 1) / CAST(nw AS DOUBLE)
                  ELSE 0.0 END AS awl,
             CASE WHEN nw > 0 THEN nstop / CAST(nw AS DOUBLE)
                  ELSE 0.0 END AS stopr,
             CASE WHEN nc > 0 THEN npunct / CAST(nc AS DOUBLE)
                  ELSE 0.0 END AS punctr,
             CASE WHEN nc > 0 THEN ndigit / CAST(nc AS DOUBLE)
                  ELSE 0.0 END AS digitr,
             CASE WHEN len(lines) > 0 THEN
               (len(lines) - len(list_distinct(lines)))
                 / CAST(len(lines) AS DOUBLE) ELSE 0.0 END AS duplr,
             CASE WHEN len(words) > 0 THEN
               (len(words) - len(list_distinct(words)))
                 / CAST(len(words) AS DOUBLE) ELSE 0.0 END AS dupwr
           FROM f),
         v AS (
           SELECT source, nw,
             coalesce(CASE WHEN nw < 10 THEN 'too_few_words'
                  WHEN nw > 100000 THEN 'too_many_words'
                  WHEN awl < 2.0 THEN 'short_words'
                  WHEN awl > 12.0 THEN 'long_words'
                  WHEN stopr < 0.01 THEN 'low_stopword'
                  WHEN punctr > 0.2 THEN 'high_punct'
                  WHEN digitr > 0.2 THEN 'high_digit'
                  WHEN duplr > 0.5 THEN 'repetitive_lines'
                  WHEN dupwr > 0.85 THEN 'repetitive_words'
                  END, 'kept') AS outcome
           FROM r),
         g AS (SELECT source, outcome, count(*) AS n_docs,
             CAST(sum(nw) AS BIGINT) AS n_tokens
           FROM v GROUP BY 1, 2),
         tot AS (SELECT source, count(*) AS n_total FROM v GROUP BY 1)
         SELECT g.source, g.outcome, g.n_docs, g.n_tokens,
                round(g.n_docs / CAST(tot.n_total AS DOUBLE), 6) AS share
         FROM g JOIN tot USING (source)"""),

    // loss-aware mixture reweighting: per-source excess NLL under the
    // corpus bigram LM, exponentially tilted into ppm mixture weights
    Q("q_t_loss_reweight", (s, dir) =>
      graft.llm.LmScore.lossReweightReport(tDocsPar(s, dir)),
      // the lm_ppl chain aggregated per source, integer excess over the
      // corpus average, exp tilt, ppm normalization
      """WITH toks AS (SELECT doc_id, source, list_filter(
             string_split_regex(lower(trim(text)), '\s+'), x -> x <> '')
             AS ws
           FROM documents),
         t AS (SELECT doc_id, source, ws FROM toks WHERE len(ws) > 0),
         uc AS (SELECT w, count(*) AS cw FROM (
             SELECT unnest(ws) AS w FROM t) GROUP BY w),
         st AS (SELECT count(*) AS v, CAST(sum(cw) AS DOUBLE) AS n FROM uc),
         bgf AS (SELECT doc_id, b.p AS prev, b.w AS w FROM (
             SELECT doc_id, unnest(list_transform(range(1, len(ws)),
               i -> struct_pack(p := ws[i], w := ws[i + 1]))) AS b
             FROM t WHERE len(ws) >= 2)),
         bc AS (SELECT prev, w, count(*) AS cb FROM bgf GROUP BY prev, w),
         first AS (SELECT t.doc_id,
             CAST(round(ln((uc.cw + 1.0) / (st.n + st.v)) * 1e6) AS BIGINT)
               AS m
           FROM t JOIN uc ON t.ws[1] = uc.w CROSS JOIN st),
         cond AS (SELECT f.doc_id,
             CAST(round(ln((bc.cb + 1.0) / (up.cw + st.v)) * 1e6) AS BIGINT)
               AS m
           FROM bgf f JOIN bc ON f.prev = bc.prev AND f.w = bc.w
           JOIN uc up ON f.prev = up.w CROSS JOIN st),
         s AS (SELECT doc_id, CAST(-sum(m) AS BIGINT) AS micro_nll FROM (
             SELECT * FROM first UNION ALL SELECT * FROM cond)
           GROUP BY doc_id),
         bysrc AS (SELECT t.source,
             CAST(sum(len(t.ws)) AS BIGINT) AS n_tokens,
             CAST(sum(s.micro_nll) AS BIGINT) AS micro_nll
           FROM t JOIN s USING (doc_id) GROUP BY t.source),
         tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS tnt,
             CAST(sum(micro_nll) AS BIGINT) AS tmn FROM bysrc),
         ex AS (SELECT source, n_tokens,
             (micro_nll * 2 + n_tokens) // (n_tokens * 2)
               AS avg_nll_micro,
             (micro_nll * 2 + n_tokens) // (n_tokens * 2)
               - (tot.tmn * 2 + tot.tnt) // (tot.tnt * 2) AS excess_micro
           FROM bysrc, tot),
         e AS (SELECT *, CAST(round(exp(1.0 * excess_micro / 1e6) * 1e6)
                 AS BIGINT) AS e_micro FROM ex),
         es AS (SELECT sum(e_micro) AS esum_micro FROM e)
         SELECT source, n_tokens, avg_nll_micro, excess_micro,
                CAST(round(e_micro / es.esum_micro * 1e6) AS BIGINT)
                  AS weight_ppm
         FROM e, es"""),

    // per-source language mixture from the langid classifier
    Q("q_t_lang_report", (s, dir) =>
      TextAnalysis.sourceLangReport(Readers.table(s, dir, "documents")),
      // the q_t_langid classifier aggregated to the (source, lang) mixture
      """WITH cls AS (
           SELECT source,
             CASE WHEN best = 0 THEN 'und'
                  WHEN s_en = best THEN 'en'
                  WHEN s_de = best THEN 'de'
                  WHEN s_fr = best THEN 'fr'
                  WHEN s_es = best THEN 'es'
                  ELSE 'it' END AS lang_pred
           FROM (
             SELECT source, s_en, s_de, s_fr, s_es, s_it,
                    greatest(s_en, s_de, s_fr, s_es, s_it) AS best
             FROM (
               SELECT source,
                 len(list_filter(string_split_regex(lower(trim(text)), '\W+'),
                   w -> list_contains(['the','and','of','to','is','that','for','with'], w))) AS s_en,
                 len(list_filter(string_split_regex(lower(trim(text)), '\W+'),
                   w -> list_contains(['der','die','und','das','ist','nicht','mit','ein'], w))) AS s_de,
                 len(list_filter(string_split_regex(lower(trim(text)), '\W+'),
                   w -> list_contains(['le','la','les','et','est','que','pour','dans'], w))) AS s_fr,
                 len(list_filter(string_split_regex(lower(trim(text)), '\W+'),
                   w -> list_contains(['el','los','las','es','que','para','con','una'], w))) AS s_es,
                 len(list_filter(string_split_regex(lower(trim(text)), '\W+'),
                   w -> list_contains(['il','di','che','per','con','della','sono','una'], w))) AS s_it
               FROM documents)))
         SELECT source, lang_pred, count(*) AS n_docs
         FROM cls GROUP BY source, lang_pred"""),

    // corpus bigram top-k under a total order (count desc, bigram asc)
    Q("q_t_bigrams", (s, dir) =>
      TextAnalysis.topBigrams(Readers.table(s, dir, "documents"), 20),
      """WITH w AS (SELECT list_filter(
             string_split_regex(lower(trim(text)), '\s+'), x -> x <> '')
             AS ws
           FROM documents),
         b AS (SELECT unnest(list_transform(range(1, len(ws)),
             i -> ws[i] || ' ' || ws[i+1])) AS bigram
           FROM w)
         SELECT bigram, count(*) AS n FROM b GROUP BY 1
         ORDER BY n DESC, bigram ASC LIMIT 20"""),

    // BPE tokenizer-training step: adjacent char-pair counts over the
    // word-frequency table, top-k merge candidates under a total order
    Q("q_t_bpe_pairs", (s, dir) =>
      TextAnalysis.bpePairCounts(Readers.table(s, dir, "documents"), 100),
      // BPE pair-count step: word-frequency table first, then adjacent
      // char pairs of each DISTINCT word weighted by frequency; substr
      // in both engines is codepoint-based so pairs agree byte-for-byte
      """WITH t AS (SELECT unnest(list_filter(
             string_split_regex(lower(trim(text)), '\s+'), x -> x <> ''))
             AS w
           FROM documents),
         wc AS (SELECT w, count(*) AS wc FROM t GROUP BY w),
         p AS (SELECT substr(w, CAST(i AS INT), 2) AS pair, wc
           FROM (SELECT w, wc, unnest(range(1, length(w))) AS i
                 FROM wc WHERE length(w) >= 2)),
         agg AS (SELECT pair, CAST(sum(wc) AS BIGINT) AS n
           FROM p GROUP BY pair)
         SELECT pair, n FROM agg ORDER BY n DESC, pair ASC LIMIT 100"""),

    // tokenizer training, the FULL loop: 6 BPE rounds (re-segment under
    // learned merges -> recount pairs -> adopt the argmax); the result
    // is the learned merge table a tokenizer ships (memo-shared with
    // q_t_bpe_encode - train once, encode under the trained model)
    Q("q_t_bpe_train", (s, dir) => {
      import s.implicits._
      bpeMergesShared(s, dir).toDF("round", "left", "right", "n")
    },
      // the full 6-round training loop recomputed as unrolled CTE stages
      bpeTrainSql(6)),

    // tokenizer APPLICATION: encode every document under the trained
    // merge table - per-doc token ids (csv for a cross-engine-stable
    // compare) + n_tokens, the train -> encode -> pack chain's middle
    Q("q_t_bpe_encode", (s, dir) => {
      val merges = bpeMergesShared(s, dir).map { case (_, l, r, _) => (l, r) }
      TextAnalysis.bpeEncode(tDocsPar(s, dir), merges)
        .select(col("doc_id"), col("n_tokens"),
          array_join(transform(col("token_ids"), i => i.cast("string")), ",")
            .as("token_csv"))
    },
      // BPE encode replayed end-to-end: merge chain -> induced vocabulary
      // -> per-word ids -> per-doc csv reassembly in word order
      bpeEncodeSql(6)),

    // tokenizer application under an EXTERNAL-SIZED table: 83 literal
    // rules route through the native BpeSegment expression (the >64
    // scale path a shipped ~30k-rule tokenizer artifact needs); DuckDB
    // replays the same replace chain literally
    Q("q_t_bpe_encode_big", (s, dir) =>
      TextAnalysis.bpeEncode(Readers.table(s, dir, "documents"), bigBpeMerges)
        .select(col("doc_id"), col("n_tokens"),
          array_join(transform(col("token_ids"), i => i.cast("string")), ",")
            .as("token_csv")),
      bpeEncodeLiteralSql(bigBpeMerges)),

    // BYTE-level BPE encode (GPT-2-class): regex pre-tokenization over
    // the raw text, UTF-8-byte seed symbols with total byte fallback,
    // ids fixed by the table alone (byte b = b, merge i = 256 + i) -
    // the apply path for a real shipped byte-level tokenizer artifact;
    // the native BpeSegment byte mode is the only per-word work
    Q("q_t_byte_bpe", (s, dir) =>
      graft.llm.ByteBpe.encode(Readers.table(s, dir, "documents"), byteBpeMerges)
        .select(col("doc_id"), col("n_tokens"),
          array_join(transform(col("token_ids"), i => i.cast("string")), ",")
            .as("token_csv")),
      byteBpeEncodeSql(byteBpeMerges)),

    // WordPiece (BERT-family) tokenizer application: greedy
    // longest-match-first against a literal ##-convention vocabulary,
    // whole-word [UNK] on any unmatched position; the native
    // WordpieceSegment expression is the only per-word work
    Q("q_t_wordpiece", (s, dir) =>
      graft.llm.Wordpiece.encode(Readers.table(s, dir, "documents"), wordpieceVocab),
      wordpieceSql(wordpieceVocab)),

    // unigram-LM (SentencePiece-family) tokenizer application: Viterbi
    // min-total-cost segmentation under a literal (piece, cost)
    // vocabulary with single-code-point unk fallback; the native
    // UnigramSegment expression is the only per-word work
    Q("q_t_unigram", (s, dir) =>
      graft.llm.Unigram.encode(Readers.table(s, dir, "documents"), unigramVocab),
      unigramSql(unigramVocab, graft.llm.Unigram.DefaultUnkCost)),

    // unigram-LM training: substring-count seeding, quantized-ln
    // costs, EM-style segment/recount/prune rounds; only model-sized
    // vocabularies ever reach the driver
    Q("q_t_unigram_train", (s, dir) =>
      graft.llm.Unigram.train(Readers.table(s, dir, "documents"), rounds = 2,
        maxPieceLen = 4, keepTop = 120),
      unigramTrainSql(4, 120, graft.llm.Unigram.DefaultUnkCost)),

    // fill-in-the-middle training transform: deterministic md5-draw
    // apply/cuts/mode, middle moved behind sentinel tokens (PSM/SPM) -
    // map-only, no shuffle
    Q("q_t_fim", (s, dir) =>
      graft.llm.Fim.fimTransform(Readers.table(s, dir, "documents"), rate = 0.5),
      // FIM transform: md5 draws for apply/cuts/mode, list slices +
      // sentinel-token reassembly per mode
      """WITH d AS (SELECT doc_id, text, list_filter(
             string_split_regex(lower(trim(text)), '\s+'), x -> x <> '') AS ws
           FROM documents),
         h AS (SELECT doc_id, ws, CAST(len(ws) AS INT) AS n,
             ('0x' || substr(md5(text || '|fim|apply'), 1, 12))::BIGINT
               % 1000000 AS ha,
             ('0x' || substr(md5(text || '|fim|c1'), 1, 12))::BIGINT AS h1,
             ('0x' || substr(md5(text || '|fim|c2'), 1, 12))::BIGINT AS h2,
             ('0x' || substr(md5(text || '|fim|mode'), 1, 12))::BIGINT
               % 2 AS hm
           FROM d),
         c AS (SELECT doc_id, ws, n, hm,
             (n >= 2 AND ha < 500000) AS applied,
             CAST(least(h1 % greatest(n - 1, 1) + 1,
                        h2 % greatest(n - 1, 1) + 1) AS INT) AS i,
             CAST(greatest(h1 % greatest(n - 1, 1) + 1,
                           h2 % greatest(n - 1, 1) + 1) AS INT) AS j
           FROM h)
         SELECT doc_id,
           CASE WHEN NOT applied THEN 'none'
                WHEN hm = 1 THEN 'spm' ELSE 'psm' END AS fim_mode,
           CASE WHEN applied THEN i ELSE 0 END AS n_prefix,
           CASE WHEN applied THEN j - i ELSE 0 END AS n_middle,
           CASE WHEN applied THEN n - j ELSE 0 END AS n_suffix,
           CASE WHEN NOT applied THEN array_to_string(ws, ' ')
                WHEN hm = 1 THEN array_to_string(
                  ['<fim_suf>'] || ws[j + 1 : n] || ['<fim_pre>']
                    || ws[1 : i] || ['<fim_mid>'] || ws[i + 1 : j], ' ')
                ELSE array_to_string(
                  ['<fim_pre>'] || ws[1 : i] || ['<fim_suf>']
                    || ws[j + 1 : n] || ['<fim_mid>'] || ws[i + 1 : j], ' ')
           END AS fim_text
         FROM c"""),

    // byte-level BPE TRAINING over the byte-representative symbol
    // space: GPT-2-class pre-tokens, byte seeding, the shared
    // frequency-argmax loop - the corpus trains AND applies byte-level
    Q("q_t_byte_bpe_train", (s, dir) =>
      // NOT tDocsPar (r17 A/B, same rejection as bpeMergesShared):
      // 1.55 -> 2.0 s solo - partial-agg fan-out beats map spread
      graft.llm.ByteBpe.train(Readers.table(s, dir, "documents"), rounds = 6),
      byteBpeTrainSql(6)),

    // byte-level encode -> DISTRIBUTED decode round trip over the WHOLE
    // corpus: the oracle is simply the raw documents table, so any
    // byte lost or reordered anywhere in the tokenizer chain fails the
    // hash compare (total-coverage pre-tokenization + byte fallback
    // make decode(encode(text)) == text an exact identity)
    Q("q_t_byte_roundtrip", (s, dir) => {
      val enc = graft.llm.ByteBpe.encode(Readers.table(s, dir, "documents"), byteBpeMerges)
      graft.llm.ByteBpe.decode(enc, byteBpeMerges)
        .select(col("doc_id"), col("text_decoded").as("text"))
    },
      "SELECT doc_id, text FROM documents"),

    // substring-level dedup signal (Lee et al. ACL'22): word 5-grams
    // repeated across >= 2 docs, merged into maximal per-doc spans
    Q("q_t_repeated_spans", (s, dir) =>
      Dedup.repeatedNgramSpans(tDocsPar(s, dir), n = 5, minDocFreq = 2),
      s"""WITH ${repeatedSpanCtes(5, 2)}
         SELECT doc_id, span_start, span_end, n_grams FROM spans"""),

    // and the trim action: rebuild text from uncovered words
    Q("q_t_span_trim", (s, dir) =>
      Dedup.trimRepeatedSpans(tDocsPar(s, dir), n = 5, minDocFreq = 2),
      s"""WITH ${repeatedSpanCtes(5, 2)},
         cov AS (SELECT DISTINCT doc_id, CAST(p AS BIGINT) AS pos
           FROM spans, LATERAL (SELECT unnest(range(span_start, span_end)) AS p)),
         dw AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, ws[i] AS word
           FROM w, LATERAL (SELECT unnest(range(1, len(ws) + 1)) AS i)),
         kept AS (SELECT d.doc_id,
             string_agg(d.word, ' ' ORDER BY d.pos) AS text_trimmed
           FROM dw d LEFT JOIN cov c ON c.doc_id = d.doc_id AND c.pos = d.pos
           WHERE c.doc_id IS NULL GROUP BY d.doc_id)
         SELECT w.doc_id, coalesce(k.text_trimmed, '') AS text_trimmed,
                CAST(len(w.ws) - CASE WHEN coalesce(k.text_trimmed, '') = ''
                  THEN 0 ELSE len(string_split(k.text_trimmed, ' ')) END
                  AS INT) AS n_removed
         FROM w LEFT JOIN kept k ON k.doc_id = w.doc_id"""),

    // MAXIMAL repeated spans (suffix-array substring-dedup semantics at
    // 6-gram resolution): step-1 chains of repeated grams, so every
    // 6-token window inside a span repeats - "any repeated span >= 6"
    Q("q_t_max_spans", (s, dir) =>
      Dedup.maximalRepeatedSpans(tDocsPar(s, dir),
        minSpanLen = 6, minDocFreq = 2),
      s"""WITH ${maximalSpanCtes(6, 2)}
         SELECT doc_id, span_start, span_end, n_grams FROM spans"""),

    // the substring-dedup trim action under maximal-span semantics
    Q("q_t_max_span_trim", (s, dir) =>
      Dedup.trimMaximalSpans(tDocsPar(s, dir),
        minSpanLen = 6, minDocFreq = 2),
      s"""WITH ${maximalSpanCtes(6, 2)},
         cov AS (SELECT DISTINCT doc_id, CAST(p AS BIGINT) AS pos
           FROM spans, LATERAL (SELECT unnest(range(span_start, span_end)) AS p)),
         dw AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, ws[i] AS word
           FROM w, LATERAL (SELECT unnest(range(1, len(ws) + 1)) AS i)),
         kept AS (SELECT d.doc_id,
             string_agg(d.word, ' ' ORDER BY d.pos) AS text_trimmed
           FROM dw d LEFT JOIN cov c ON c.doc_id = d.doc_id AND c.pos = d.pos
           WHERE c.doc_id IS NULL GROUP BY d.doc_id)
         SELECT w.doc_id, coalesce(k.text_trimmed, '') AS text_trimmed,
                CAST(len(w.ws) - CASE WHEN coalesce(k.text_trimmed, '') = ''
                  THEN 0 ELSE len(string_split(k.text_trimmed, ' ')) END
                  AS INT) AS n_removed
         FROM w LEFT JOIN kept k ON k.doc_id = w.doc_id"""),

    // best-5-docs-per-source curation by quality score (total order,
    // per-stratum window rank - no global sort)
    Q("q_t_curate", (s, dir) =>
      TextAnalysis.curateTopK(Readers.table(s, dir, "documents"), 5),
      // per-source top-5 by the q_t_quality score formula; identical
      // per-row double arithmetic in both engines makes the ordering
      // engine-exact, and (score desc, doc_id asc) is a total order
      """WITH f AS (
           SELECT doc_id, source, length(text) AS nc,
             CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS INT)
               AS nw,
             CAST(len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
               w -> list_contains(['the','a','an','and','or','of','to','in',
                 'is','it','that','for','on','with','as','was','at','by'], w)))
               AS INT) AS nstop,
             length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g'))
               AS npunct,
             length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))
               AS ndigit
           FROM documents),
         r AS (
           SELECT doc_id, source,
             CASE WHEN nw > 0 THEN nstop / CAST(nw AS DOUBLE)
                  ELSE 0.0 END AS sr,
             CASE WHEN nc > 0 THEN npunct / CAST(nc AS DOUBLE)
                  ELSE 0.0 END AS pr,
             CASE WHEN nc > 0 THEN ndigit / CAST(nc AS DOUBLE)
                  ELSE 0.0 END AS dr
           FROM f),
         s AS (
           SELECT doc_id, source,
             least(CAST(1.0 AS DOUBLE), greatest(CAST(0.0 AS DOUBLE),
               CAST(0.4 AS DOUBLE) * least(sr * 4, CAST(1.0 AS DOUBLE)) +
               CAST(0.3 AS DOUBLE) *
                 (CAST(1.0 AS DOUBLE) - least(pr * 5, CAST(1.0 AS DOUBLE))) +
               CAST(0.3 AS DOUBLE) *
                 (CAST(1.0 AS DOUBLE) - least(dr * 5, CAST(1.0 AS DOUBLE)))))
               AS q
           FROM r)
         SELECT source, doc_id, rank FROM (
           SELECT source, doc_id,
             CAST(row_number() OVER (PARTITION BY source
               ORDER BY q DESC, doc_id ASC) AS BIGINT) AS rank
           FROM s)
         WHERE rank <= 5"""),

    Q("q_t_quality", (s, dir) =>
      TextAnalysis.withQualityFeatures(Readers.table(s, dir, "documents"))
        .select(col("doc_id"), col("n_words"), col("punct_ratio"),
          col("digit_ratio"), col("stopword_ratio")),
      """SELECT doc_id,
             CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS INT)
               AS n_words,
             CAST(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g'))
               AS DOUBLE) / length(text) AS punct_ratio,
             CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))
               AS DOUBLE) / length(text) AS digit_ratio,
             CAST(len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
               w -> list_contains(['the','a','an','and','or','of','to','in','is',
                 'it','that','for','on','with','as','was','at','by'], w)))
               AS DOUBLE)
               / len(string_split_regex(lower(trim(text)), '\s+'))
               AS stopword_ratio
         FROM documents"""),

    Q("q_t_langid", (s, dir) =>
      TextAnalysis.withLangId(Readers.table(s, dir, "documents"))
        .select(col("doc_id"), col("lang_pred"),
          col("lang_score").cast("int").as("lang_score")),
      """SELECT doc_id,
             CASE WHEN best = 0 THEN 'und'
                  WHEN s_en = best THEN 'en'
                  WHEN s_de = best THEN 'de'
                  WHEN s_fr = best THEN 'fr'
                  WHEN s_es = best THEN 'es'
                  ELSE 'it' END AS lang_pred,
             CAST(best AS INT) AS lang_score
         FROM (
           SELECT doc_id, s_en, s_de, s_fr, s_es, s_it,
                  greatest(s_en, s_de, s_fr, s_es, s_it) AS best
           FROM (
             SELECT doc_id,
               len(list_filter(string_split_regex(lower(trim(text)), '\W+'),
                 w -> list_contains(['the','and','of','to','is','that','for','with'], w))) AS s_en,
               len(list_filter(string_split_regex(lower(trim(text)), '\W+'),
                 w -> list_contains(['der','die','und','das','ist','nicht','mit','ein'], w))) AS s_de,
               len(list_filter(string_split_regex(lower(trim(text)), '\W+'),
                 w -> list_contains(['le','la','les','et','est','que','pour','dans'], w))) AS s_fr,
               len(list_filter(string_split_regex(lower(trim(text)), '\W+'),
                 w -> list_contains(['el','los','las','es','que','para','con','una'], w))) AS s_es,
               len(list_filter(string_split_regex(lower(trim(text)), '\W+'),
                 w -> list_contains(['il','di','che','per','con','della','sono','una'], w))) AS s_it
             FROM documents))"""),

    Q("q_t_fingerprint", (s, dir) =>
      TextAnalysis.withFingerprint(Readers.table(s, dir, "documents"))
        .select(col("doc_id"), col("content_md5")),
      """SELECT doc_id,
             md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
               AS content_md5
         FROM documents"""),

    // Gopher-style repetition/boilerplate signals; the ratios are exact
    // small-integer divisions, bit-identical across engines
    Q("q_t_repetition", (s, dir) =>
      TextAnalysis.withRepetitionSignals(Readers.table(s, dir, "documents"))
        .select(col("doc_id"), col("n_lines"), col("dup_line_ratio"),
          col("dup_word_ratio"), col("bullet_line_ratio"),
          col("ellipsis_line_ratio")),
      // repetition signals recomputed over DuckDB list lambdas (\r?\n
      // split matches the engine's CRLF handling)
      """WITH s AS (
           SELECT doc_id,
             list_filter(list_transform(string_split_regex(text, '\r?\n'),
               l -> trim(l)), l -> l <> '') AS lines,
             list_filter(string_split_regex(lower(trim(text)), '\s+'),
               w -> w <> '') AS words
           FROM documents),
         c AS (
           SELECT doc_id,
             len(lines) AS nl, len(list_distinct(lines)) AS nul,
             len(list_filter(lines, l -> regexp_matches(l, '^[-*•]')))
               AS n_bullet,
             len(list_filter(lines, l -> l LIKE '%...')) AS n_ellipsis,
             len(words) AS nw, len(list_distinct(words)) AS nuw
           FROM s)
         SELECT doc_id, CAST(nl AS INT) AS n_lines,
           CASE WHEN nl>0 THEN (nl-nul)/CAST(nl AS DOUBLE) ELSE 0.0 END
             AS dup_line_ratio,
           CASE WHEN nw>0 THEN (nw-nuw)/CAST(nw AS DOUBLE) ELSE 0.0 END
             AS dup_word_ratio,
           CASE WHEN nl>0 THEN n_bullet/CAST(nl AS DOUBLE) ELSE 0.0 END
             AS bullet_line_ratio,
           CASE WHEN nl>0 THEN n_ellipsis/CAST(nl AS DOUBLE) ELSE 0.0 END
             AS ellipsis_line_ratio
         FROM c"""),

    // PII/URL scrub: typed placeholders + per-kind counts
    Q("q_t_scrub", (s, dir) =>
      TextAnalysis.withScrubbedText(Readers.table(s, dir, "documents"))
        .select(col("doc_id"), col("n_urls"), col("n_emails"),
          col("n_ips"), col("scrubbed")),
      // scrub: counts taken on the progressively-scrubbed text, like the
      // engine (URL swallows embedded emails/IPs)
      """WITH s1 AS (SELECT doc_id, text AS t0,
             regexp_replace(text, 'https?://[^\s]+', '<URL>', 'g') AS t1
           FROM documents),
         s2 AS (SELECT doc_id, t0, t1,
             regexp_replace(t1,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
               '<EMAIL>', 'g') AS t2
           FROM s1)
         SELECT doc_id,
           CAST(len(regexp_extract_all(t0, 'https?://[^\s]+')) AS INT)
             AS n_urls,
           CAST(len(regexp_extract_all(t1,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT)
             AS n_emails,
           CAST(len(regexp_extract_all(t2,
             '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS INT)
             AS n_ips,
           regexp_replace(t2,
             '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b',
             '<IP>', 'g') AS scrubbed
         FROM s2"""),

    Q("q_t_tokens", (s, dir) =>
      Readers.table(s, dir, "documents").select(col("doc_id"),
        TextAnalysis.wordCount(col("text")).as("n_ws_tokens"),
        TextAnalysis.tokenCountBpeIsh(col("text")).as("n_bpe_tokens")),
      """SELECT doc_id,
             CAST(len(string_split_regex(trim(text), '\s+')) AS INT)
               AS n_ws_tokens,
             CAST(len(list_filter(string_split_regex(text, '[^A-Za-z0-9]+'),
                    t -> t <> ''))
               + length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g'))
               AS INT) AS n_bpe_tokens
         FROM documents""")
  )
}
