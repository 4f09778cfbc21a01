package graft.registry

import org.apache.spark.sql.functions._
import graft.registry.Shared._
import graft.sources.Readers

/** Multimodal asset queries: metadata, frame sampling, and image,
  * audio and video perceptual-hash pairs through the real decoders. */
object MmQueries {

  val all: Seq[Q] = Seq(
    // multimodal plumbing: asset metadata projection (binary column
    // pruned from the scan) and video frame sampling; the synthetic
    // metadata is arithmetic over (doc_id, length) so DuckDB recomputes
    // both queries independently
    Q("q_mm_assets_meta", (s, dir) =>
      graft.llm.Multimodal.metadataOnly(
        graft.llm.Multimodal.syntheticAssets(Readers.table(s, dir, "documents"), "doc_id", "text")),
      // synthetic asset metadata recomputed from (doc_id, text length)
      """SELECT CAST(doc_id AS BIGINT) AS asset_id,
             CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
                  WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
             CAST((length(text)*7 + doc_id*13) % 1920 + 1 AS INT) AS width,
             CAST((length(text)*11 + doc_id*17) % 1080 + 1 AS INT) AS height,
             CAST((length(text)*7919 + doc_id*31) % 600000 + 1 AS INT)
               AS duration_ms
         FROM documents"""),

    Q("q_mm_frames", (s, dir) =>
      graft.llm.Multimodal.sampleFrames(
        graft.llm.Multimodal.syntheticAssets(Readers.table(s, dir, "documents"), "doc_id", "text"),
        everyMs = 60000)
        .select(col("asset_id"), col("frame_idx"), col("frame_ts_ms")),
      // frame sampling: one row per 60s frame of each video asset
      """WITH a AS (
           SELECT CAST(doc_id AS BIGINT) AS asset_id,
                  CAST((length(text)*7919 + doc_id*31) % 600000 + 1 AS INT)
                    AS duration_ms
           FROM documents WHERE doc_id % 3 = 2)
         SELECT asset_id, CAST(f AS INT) AS frame_idx,
                CAST(f * 60000 AS INT) AS frame_ts_ms
         FROM a, UNNEST(generate_series(0,
           greatest(CAST(floor(duration_ms / 60000.0) AS INT) - 1, 0))) AS t(f)"""),

    // multimodal NEAR-DUP: portable integer pHash over the (stubbed)
    // decode features, SimHash-style pigeonhole chunk blocking at
    // Hamming <= 2, xor-popcount verify - bucket pairs only, no cross
    // join at any scale. Every 50th document re-enters byte-identical
    // under asset_id = -doc_id - 1: the stub features are hash-derived
    // (not locality-sensitive), so these planted Hamming-0 duplicates
    // are what keeps the MATCHING path non-vacuous - all corpus texts
    // are distinct and uncorrelated 64-bit hashes land within
    // Hamming <= 2 only with negligible probability (by design).
    Q("q_mm_phash_pairs", (s, dir) => {
      // planted ids live at -doc_id - 1: PROVABLY disjoint from the
      // non-negative doc_id domain at every scale factor (an additive
      // offset like +1e6 silently aliases real assets once doc_ids
      // outgrow it - the ScaleGen 10x/30x corpora already do)
      val docs = tDocsPar(s, dir)
      val base = graft.llm.Multimodal.syntheticAssets(docs, "doc_id", "text")
      val planted = graft.llm.Multimodal.syntheticAssets(
          docs.filter(col("doc_id") % 50 === 0), "doc_id", "text")
        .withColumn("asset_id", -col("asset_id") - 1L)
      graft.llm.Multimodal.phashNearDupPairs(base.unionByName(planted),
        maxHamming = 2)
    },
      // portable pHash near-dup pairs: 64 md5-derived 48-bit features,
      // bit = feature >= floor(mean) (integer shift; bit 63's weight is
      // the BIGINT min literal - DuckDB's << errors at 63 - and sum()
      // goes through HUGEINT so the cast back to BIGINT is exact),
      // 3-chunk (22/21/21) pigeonhole blocking at Hamming <= 2,
      // xor-popcount verify; every 50th document re-enters byte-identical
      // at -doc_id - 1 (the planted Hamming-0 pairs that keep the
      // matching path non-vacuous, mirroring the Spark side)
      """WITH d2 AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, text
             FROM documents
           UNION ALL
           SELECT -CAST(doc_id AS BIGINT) - 1, text
             FROM documents WHERE doc_id % 50 = 0),
         f AS (SELECT doc_id, i,
             ('0x' || substr(md5(text || '|' || CAST(i AS VARCHAR)), 1, 12))
               ::BIGINT AS fv
           FROM d2, LATERAL (SELECT unnest(range(0, 64)) AS i)),
         p AS (SELECT doc_id,
             CAST(sum(CASE WHEN fv < thr THEN 0
                           WHEN i = 63 THEN (-9223372036854775808)::BIGINT
                           ELSE 1::BIGINT << i END)
               AS BIGINT) AS phash
           FROM (SELECT doc_id, i, fv,
               CAST(sum(fv) OVER (PARTITION BY doc_id) AS BIGINT) >> 6 AS thr
             FROM f)
           GROUP BY doc_id),
         c AS (SELECT doc_id AS asset_id, phash, u.chunk,
             CASE u.chunk WHEN 0 THEN phash & 4194303
                          WHEN 1 THEN (phash >> 22) & 2097151
                          ELSE (phash >> 43) & 2097151 END AS chunkval
           FROM p, LATERAL (SELECT unnest(range(0, 3)) AS chunk) u),
         b AS (SELECT * FROM (SELECT *,
               count(*) OVER (PARTITION BY chunk, chunkval) AS bs FROM c)
           WHERE bs <= 1000)
         SELECT DISTINCT a.asset_id AS asset_id_a, bb.asset_id AS asset_id_b,
                CAST(bit_count(xor(a.phash, bb.phash)) AS INT) AS hamming
         FROM b a JOIN b bb ON a.chunk = bb.chunk
           AND a.chunkval = bb.chunkval AND a.asset_id < bb.asset_id
         WHERE bit_count(xor(a.phash, bb.phash)) <= 2"""),

    // two-modality dedup funnel: asset-level (exact pHash group) vs
    // text-level (normMd5 group) survivorship per asset
    Q("q_mm_asset_dedup", (s, dir) =>
      graft.llm.Multimodal.assetDedupVsText(
        graft.llm.Multimodal.syntheticAssets(tDocsPar(s, dir),
          "doc_id", "text"),
        tDocsPar(s, dir)),
      // two-modality survivorship: min-id per exact pHash group (asset
      // pass) x min-id per normalized-text-md5 group (text pass)
      """WITH f AS (SELECT doc_id, i,
             ('0x' || substr(md5(text || '|' || CAST(i AS VARCHAR)), 1, 12))
               ::BIGINT AS fv
           FROM documents, LATERAL (SELECT unnest(range(0, 64)) AS i)),
         p AS (SELECT doc_id,
             CAST(sum(CASE WHEN fv < thr THEN 0
                           WHEN i = 63 THEN (-9223372036854775808)::BIGINT
                           ELSE 1::BIGINT << i END)
               AS BIGINT) AS phash
           FROM (SELECT doc_id, i, fv,
               CAST(sum(fv) OVER (PARTITION BY doc_id) AS BIGINT) >> 6 AS thr
             FROM f)
           GROUP BY doc_id),
         pk AS (SELECT min(doc_id) AS asset_id FROM p GROUP BY phash),
         tk AS (SELECT min(doc_id) AS asset_id FROM (
             SELECT doc_id, md5(regexp_replace(lower(trim(text)),
               '\s+', ' ', 'g')) AS nh
             FROM documents)
           GROUP BY nh)
         SELECT CAST(d.doc_id AS BIGINT) AS asset_id,
                CASE CAST(d.doc_id % 3 AS INT) WHEN 0 THEN 'image'
                     WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
                CASE WHEN pk.asset_id IS NULL THEN 0 ELSE 1 END AS asset_kept,
                CASE WHEN tk.asset_id IS NULL THEN 0 ELSE 1 END AS text_kept,
                (CASE WHEN pk.asset_id IS NULL THEN 0 ELSE 1 END)
                  * (CASE WHEN tk.asset_id IS NULL THEN 0 ELSE 1 END)
                  AS kept_both
         FROM documents d
         LEFT JOIN pk ON pk.asset_id = d.doc_id
         LEFT JOIN tk ON tk.asset_id = d.doc_id"""),

    // REAL image codec, feature-verified end to end: render each doc a
    // 16x16 grayscale gradient PNG through the JDK encoder, DECODE it
    // back (javax.imageio - a genuine codec round trip, not the hash
    // stub), extract the 8x8 block-mean luma grid, threshold into the
    // pHash. The gradient's block means have an exact integer closed
    // form (2a*gx + 2b*gy + c + (a+b)/2), so DuckDB verifies decode +
    // feature extraction + hash arithmetic bit-for-bit without any
    // image library. Per-row map work only - no shuffle, no state.
    Q("q_mm_image_phash", (s, dir) => {
      // single-row-group source: repartition before the per-row codec
      // work so encode/decode parallelizes (see q_sample_token_budget)
      val docs = Readers.table(s, dir, "documents").repartition(shufflePartitions(s), col("doc_id")).select(
        col("doc_id").cast("long").as("asset_id"),
        (col("doc_id") % 64).cast("int").as("c"),
        (col("doc_id") % 7 + 1).cast("int").as("a"),
        (col("doc_id") % 5 + 1).cast("int").as("b"))
      val staged = docs
        .withColumn("bytes", graft.llm.Multimodal.grayImageBytes(
          col("c"), col("a"), col("b"), 16, 16, "png"))
        .withColumn("grid",
          graft.llm.Multimodal.imageLumaFeatures(col("bytes")))
      graft.llm.Multimodal.withPHashFromFeatureArray(staged, col("grid"))
        .withColumn("feat_sum", graft.llm.Multimodal.sumFeatures(col("grid")))
        .select(col("asset_id"), col("feat_sum"), col("phash"))
    },
      // real-codec round trip, closed form: the Spark side encodes a
      // 16x16 gray gradient PNG and DECODES it with javax.imageio; the
      // oracle recomputes the 8x8 block-mean features arithmetically
      // (block mean of luma = c + a*x + b*y over a 2x2 block is
      // 2a*gx + 2b*gy + c + (a+b)/2, exactly) - a hash mismatch means
      // the codec round trip or the grid math broke
      """WITH f AS (SELECT doc_id, i,
             2 * (doc_id % 7 + 1) * (i % 8)
               + 2 * (doc_id % 5 + 1) * (i // 8)
               + (doc_id % 64)
               + ((doc_id % 7 + 1) + (doc_id % 5 + 1)) // 2 AS fv
           FROM documents, LATERAL (SELECT unnest(range(0, 64)) AS i))
         SELECT CAST(doc_id AS BIGINT) AS asset_id,
                CAST(sum(fv) AS BIGINT) AS feat_sum,
                CAST(sum(CASE WHEN fv < thr THEN 0
                              WHEN i = 63 THEN (-9223372036854775808)::BIGINT
                              ELSE 1::BIGINT << i END)
                  AS BIGINT) AS phash
         FROM (SELECT doc_id, i, fv,
                 CAST(sum(fv) OVER (PARTITION BY doc_id) AS BIGINT) >> 6 AS thr
               FROM f)
         GROUP BY doc_id"""),

    // REAL-DECODE near-dup pairs: block-noise fixtures (diverse 64-bit
    // hashes, unlike the gradient whose pHash collapses to its
    // orientation) rendered as PNG; every 50th doc re-enters as a BMP
    // re-encode of the SAME pixels under asset_id = -doc_id - 1. The
    // planted cross-CODEC duplicates surface at Hamming 0 only if both
    // decoders recover identical pixels - byte-level the payloads
    // differ entirely. Same pigeonhole blocking as q_mm_phash_pairs.
    Q("q_mm_image_pairs", (s, dir) => {
      // planted BMP twins at -doc_id - 1 (disjoint from real ids at
      // every scale factor; see q_mm_phash_pairs); repartitioned so the
      // per-row codec work parallelizes past the single-file scan task
      val docs = Readers.table(s, dir, "documents").repartition(shufflePartitions(s), col("doc_id"))
      val base = docs.select(col("doc_id").cast("long").as("asset_id"),
        graft.llm.Multimodal.blockNoiseImageBytes(
          col("doc_id"), 16, 16, 2, "png").as("bytes"))
      val planted = docs.filter(col("doc_id") % 50 === 0)
        .select((-col("doc_id") - 1L).cast("long").as("asset_id"),
          graft.llm.Multimodal.blockNoiseImageBytes(
            col("doc_id"), 16, 16, 2, "bmp").as("bytes"))
      val hashed = graft.llm.Multimodal
        .withImagePHash(base.unionByName(planted))
        .select(col("asset_id"), col("phash"))
      graft.llm.Multimodal.phashPairsFromHashes(hashed, maxHamming = 2)
    },
      // real-decode near-dup pairs: block-noise cell luma = first md5
      // byte of "seed|cell", replayed with DuckDB's own md5 (cell size =
      // feature block size, so block mean = cell luma); planted
      // BMP re-encodes of every 50th doc's PNG pixels at
      // -doc_id - 1; then the same 3-chunk (22/21/21) pigeonhole
      // blocking and xor-popcount verify as q_mm_phash_pairs
      """WITH d2 AS (SELECT CAST(doc_id AS BIGINT) AS asset_id,
                CAST(doc_id AS BIGINT) AS seed
             FROM documents
           UNION ALL
           SELECT -CAST(doc_id AS BIGINT) - 1, CAST(doc_id AS BIGINT)
             FROM documents WHERE doc_id % 50 = 0),
         f AS (SELECT asset_id, i,
             ('0x' || substr(md5(seed || '|' || i), 1, 2))::BIGINT AS fv
           FROM d2, LATERAL (SELECT unnest(range(0, 64)) AS i)),
         p AS (SELECT asset_id,
             CAST(sum(CASE WHEN fv < thr THEN 0
                           WHEN i = 63 THEN (-9223372036854775808)::BIGINT
                           ELSE 1::BIGINT << i END)
               AS BIGINT) AS phash
           FROM (SELECT asset_id, i, fv,
               CAST(sum(fv) OVER (PARTITION BY asset_id) AS BIGINT) >> 6 AS thr
             FROM f)
           GROUP BY asset_id),
         c AS (SELECT asset_id, phash, u.chunk,
             CASE u.chunk WHEN 0 THEN phash & 4194303
                          WHEN 1 THEN (phash >> 22) & 2097151
                          ELSE (phash >> 43) & 2097151 END AS chunkval
           FROM p, LATERAL (SELECT unnest(range(0, 3)) AS chunk) u),
         b AS (SELECT * FROM (SELECT *,
               count(*) OVER (PARTITION BY chunk, chunkval) AS bs FROM c)
           WHERE bs <= 1000)
         SELECT DISTINCT a.asset_id AS asset_id_a, bb.asset_id AS asset_id_b,
                CAST(bit_count(xor(a.phash, bb.phash)) AS INT) AS hamming
         FROM b a JOIN b bb ON a.chunk = bb.chunk
           AND a.chunkval = bb.chunkval AND a.asset_id < bb.asset_id
         WHERE bit_count(xor(a.phash, bb.phash)) <= 2"""),

    // REAL audio codec, feature-verified end to end: render each doc
    // 1600 PCM16 samples (64 blocks x 25) as a WAV through the JDK
    // encoder, DECODE it back (javax.sound.sampled), extract the
    // 64-window mean-|amplitude| grid, threshold into the pHash. Block
    // amplitude = (md5Byte("seed|i") - 128) * 256, so DuckDB verifies
    // the codec round trip arithmetically with its own md5.
    Q("q_mm_audio_phash", (s, dir) => {
      val docs = Readers.table(s, dir, "documents").repartition(shufflePartitions(s), col("doc_id"))
        .select(col("doc_id").cast("long").as("asset_id"))
      val staged = docs
        .withColumn("bytes", graft.llm.Multimodal.blockToneAudioBytes(
          col("asset_id"), nBlocks = 64, blockLen = 25, "wav"))
        .withColumn("grid",
          graft.llm.Multimodal.audioPcmFeatures(col("bytes"),
            windows = 64, windowLen = 25))
      graft.llm.Multimodal.withPHashFromFeatureArray(staged, col("grid"))
        .withColumn("feat_sum", graft.llm.Multimodal.sumFeatures(col("grid")))
        .select(col("asset_id"), col("feat_sum"), col("phash"))
    },
      // real-codec AUDIO round trip, closed form: block amplitude =
      // (md5Byte(seed|i) - 128) * 256; window mean |amplitude| =
      // abs(amplitude) exactly (windows aligned to blocks), then the
      // shared pHash threshold/bit machinery
      """WITH f AS (SELECT doc_id, i,
             abs((('0x' || substr(md5(doc_id || '|' || i), 1, 2))::BIGINT
               - 128) * 256) AS fv
           FROM documents, LATERAL (SELECT unnest(range(0, 64)) AS i))
         SELECT CAST(doc_id AS BIGINT) AS asset_id,
                CAST(sum(fv) AS BIGINT) AS feat_sum,
                CAST(sum(CASE WHEN fv < thr THEN 0
                              WHEN i = 63 THEN (-9223372036854775808)::BIGINT
                              ELSE 1::BIGINT << i END)
                  AS BIGINT) AS phash
         FROM (SELECT doc_id, i, fv,
                 CAST(sum(fv) OVER (PARTITION BY doc_id) AS BIGINT) >> 6 AS thr
               FROM f)
         GROUP BY doc_id"""),

    // CROSS-FORMAT audio near-dup pairs: every 50th doc's samples
    // re-enter as a big-endian AIFF encoding under asset_id =
    // -doc_id - 1; the planted pairs surface at Hamming 0 only if the
    // WAV and AIFF decode paths recover identical PCM - byte-level the
    // two containers differ entirely (endianness included)
    Q("q_mm_audio_pairs", (s, dir) => {
      val docs = Readers.table(s, dir, "documents").repartition(shufflePartitions(s), col("doc_id"))
      val base = docs.select(col("doc_id").cast("long").as("asset_id"),
        graft.llm.Multimodal.blockToneAudioBytes(
          col("doc_id"), 64, 25, "wav").as("bytes"))
      val planted = docs.filter(col("doc_id") % 50 === 0)
        .select((-col("doc_id") - 1L).cast("long").as("asset_id"),
          graft.llm.Multimodal.blockToneAudioBytes(
            col("doc_id"), 64, 25, "aiff").as("bytes"))
      val hashed = graft.llm.Multimodal
        .withAudioPHash(base.unionByName(planted), windowLen = 25)
        .select(col("asset_id"), col("phash"))
      graft.llm.Multimodal.phashPairsFromHashes(hashed, maxHamming = 2)
    },
      // cross-format audio near-dup pairs: the same amplitude closed
      // form; planted AIFF re-encodes of every 50th doc's WAV samples at
      // -doc_id - 1; same 3-chunk pigeonhole blocking
      """WITH d2 AS (SELECT CAST(doc_id AS BIGINT) AS asset_id,
                CAST(doc_id AS BIGINT) AS seed
             FROM documents
           UNION ALL
           SELECT -CAST(doc_id AS BIGINT) - 1, CAST(doc_id AS BIGINT)
             FROM documents WHERE doc_id % 50 = 0),
         f AS (SELECT asset_id, i,
             abs((('0x' || substr(md5(seed || '|' || i), 1, 2))::BIGINT
               - 128) * 256) AS fv
           FROM d2, LATERAL (SELECT unnest(range(0, 64)) AS i)),
         p AS (SELECT asset_id,
             CAST(sum(CASE WHEN fv < thr THEN 0
                           WHEN i = 63 THEN (-9223372036854775808)::BIGINT
                           ELSE 1::BIGINT << i END)
               AS BIGINT) AS phash
           FROM (SELECT asset_id, i, fv,
               CAST(sum(fv) OVER (PARTITION BY asset_id) AS BIGINT) >> 6 AS thr
             FROM f)
           GROUP BY asset_id),
         c AS (SELECT asset_id, phash, u.chunk,
             CASE u.chunk WHEN 0 THEN phash & 4194303
                          WHEN 1 THEN (phash >> 22) & 2097151
                          ELSE (phash >> 43) & 2097151 END AS chunkval
           FROM p, LATERAL (SELECT unnest(range(0, 3)) AS chunk) u),
         b AS (SELECT * FROM (SELECT *,
               count(*) OVER (PARTITION BY chunk, chunkval) AS bs FROM c)
           WHERE bs <= 1000)
         SELECT DISTINCT a.asset_id AS asset_id_a, bb.asset_id AS asset_id_b,
                CAST(bit_count(xor(a.phash, bb.phash)) AS INT) AS hamming
         FROM b a JOIN b bb ON a.chunk = bb.chunk
           AND a.chunkval = bb.chunkval AND a.asset_id < bb.asset_id
         WHERE bit_count(xor(a.phash, bb.phash)) <= 2"""),

    // REAL video frame pipeline, feature-verified end to end: render
    // each doc a 4-frame uncompressed AVI (16x16 block-noise DIB
    // frames), walk the RIFF container, decode every frame through the
    // JDK's independent BMP codec, SAMPLE every 2nd frame, and emit
    // the per-frame grid sum + pHash. Frame f cell i luma =
    // md5Byte("seed|f|i"), so DuckDB replays decode + sampling +
    // hashing arithmetically.
    Q("q_mm_video_frames", (s, dir) => {
      val assets = Readers.table(s, dir, "documents").repartition(shufflePartitions(s), col("doc_id"))
        .select(col("doc_id").cast("long").as("asset_id"))
        .withColumn("bytes", graft.llm.Multimodal.blockNoiseAviBytes(
          col("asset_id"), 16, 16, 2, frames = 4))
      graft.llm.Multimodal.sampleFramesDecoded(assets, every = 2)
        .withColumn("feat_sum",
          graft.llm.Multimodal.sumFeatures(col("frame_grid")))
        .select(col("asset_id"), col("frame_idx"), col("feat_sum"),
          col("frame_phash"))
    },
      // real video chain, closed form: frame f cell i luma =
      // md5Byte(seed|f|i); grid cell mean = cell luma (grid aligned to
      // blocks, BT.601 of r=g=b is the identity); frames 0..3 sampled
      // every 2nd -> 0 and 2; then the shared pHash machinery per frame
      """WITH fr AS (SELECT doc_id, f
           FROM documents, LATERAL (SELECT unnest([0, 2]) AS f)),
         g AS (SELECT doc_id, f, i,
             ('0x' || substr(md5(doc_id || '|' || f || '|' || i), 1, 2))
               ::BIGINT AS fv
           FROM fr, LATERAL (SELECT unnest(range(0, 64)) AS i))
         SELECT CAST(doc_id AS BIGINT) AS asset_id,
                CAST(f AS INT) AS frame_idx,
                CAST(sum(fv) AS BIGINT) AS feat_sum,
                CAST(sum(CASE WHEN fv < thr THEN 0
                              WHEN i = 63 THEN (-9223372036854775808)::BIGINT
                              ELSE 1::BIGINT << i END)
                  AS BIGINT) AS frame_phash
         FROM (SELECT doc_id, f, i, fv,
                 CAST(sum(fv) OVER (PARTITION BY doc_id, f) AS BIGINT) >> 6
                   AS thr
               FROM g)
         GROUP BY doc_id, f""")
  )
}
