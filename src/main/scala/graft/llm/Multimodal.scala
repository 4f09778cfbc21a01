package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column handling: image/audio/video as opaque `binary`
  * columns with typed metadata, plus decode / feature-extract /
  * frame-sample plumbing.
  *
  * The IMAGE codec is REAL: [[imageLumaFeatures]] decodes PNG/BMP/GIF
  * payloads with the JDK's own `javax.imageio`
  * ([[graft.functions.ImageLumaGrid]] - no external library) and
  * extracts the block-mean luma grid that [[withImagePHash]] thresholds
  * into a perceptual hash; [[phashPairsFromHashes]] then finds
  * cross-codec near-duplicates from genuinely decoded pixels.
  *
  * The AUDIO codec is REAL too: [[audioPcmFeatures]] decodes WAV/AIFF
  * PCM payloads with the JDK's `javax.sound.sampled`
  * ([[graft.functions.PcmAudioGrid]]) into the per-window
  * mean-|amplitude| grid that [[withAudioPHash]] thresholds - the
  * little-endian WAV and big-endian AIFF encodings of the same samples
  * must hash identically.
  *
  * The VIDEO leg is real at the container level: [[videoFrameFeatures]]
  * walks RIFF/AVI payloads and decodes every uncompressed DIB frame
  * through the JDK's independent BMP codec
  * ([[graft.functions.AviFrameLumaGrids]]), and [[sampleFramesDecoded]]
  * is the production frame sampler over those decoded grids.
  * COMPRESSED video codecs (H.264 etc.) have no JRE decoder and remain
  * the one documented stub - PERMANENT BY POLICY in this toolchain
  * (the offline dependency resolver carries only Spark + test jars, so
  * no codec library can resolve; decision recorded in PLANS.md
  * "Round-13"). The stand-in is `fakeDecodeFeatures`, a deterministic
  * hash-derived feature column whose surrounding pipeline (schema,
  * partitioning, batch shape, pruning-friendly metadata) is real:
  * swapping it for a JNI/FFI decoder changes one expression, not the
  * pipeline - exactly the swap the image, audio, and
  * uncompressed-video legs have now made.
  *
  * Scale notes: binaries stay opaque end-to-end (no decode before
  * filter); metadata lives in a sibling struct so planners prune the
  * (huge) binary column away for metadata-only queries - the same layout
  * parquet uses for its column statistics.
  */
object Multimodal {

  /** Canonical asset schema: id + media type + raw bytes + typed
    * metadata struct. */
  val assetSchema: StructType = StructType(Seq(
    StructField("asset_id", LongType),
    StructField("media_type", StringType), // image | audio | video
    StructField("bytes", BinaryType),
    StructField("meta", StructType(Seq(
      StructField("width", IntegerType),
      StructField("height", IntegerType),
      StructField("duration_ms", IntegerType),
      StructField("sample_rate", IntegerType),
      StructField("codec", StringType)
    )))
  ))

  /** Build an asset table from any (id, payload-string) source - used by
    * tests and the documents-table demo; payload bytes stand in for real
    * media. Metadata is synthesized deterministically from the payload
    * length and id - plain integer arithmetic, so an external engine can
    * recompute it (the driver's DuckDB oracle checks both registered
    * multimodal queries end-to-end). */
  def syntheticAssets(df: DataFrame, idCol: String, payloadCol: String): DataFrame = {
    val id = col(idCol).cast("long")
    val len = length(col(payloadCol)).cast("long")
    df.select(
      id.as("asset_id"),
      element_at(array(lit("image"), lit("audio"), lit("video")),
        (pmod(id, lit(3)) + 1).cast("int")).as("media_type"),
      col(payloadCol).cast("binary").as("bytes"),
      struct(
        (pmod(len * 7 + id * 13, lit(1920)) + 1).cast("int").as("width"),
        (pmod(len * 11 + id * 17, lit(1080)) + 1).cast("int").as("height"),
        (pmod(len * 7919 + id * 31, lit(600000)) + 1).cast("int").as("duration_ms"),
        lit(16000).as("sample_rate"),
        lit("synthetic").as("codec")).as("meta"))
  }

  /** STUB: deterministic fake "decode + feature extraction".
    *
    * A real implementation decodes `bytes` with an image/audio codec and
    * runs a feature extractor over pixel/sample batches; here each of the
    * `dim` features is a hash of (bytes, i) scaled to [0,1). The
    * signature - binary in, fixed-width float vector out, computed
    * per-row inside codegen - is exactly what the real kernel must
    * satisfy, so the surrounding pipeline (partitioning, batch shape,
    * downstream ANN) is fully exercised.
    */
  def fakeDecodeFeatures(bytes: Column, dim: Int = 16): Column =
    transform(sequence(lit(0), lit(dim - 1)),
      i => (pmod(xxhash64(bytes, i), lit(100000)).cast("double") / 100000.0)
        .cast("float"))

  /** Frame sampling plumbing: one output row per sampled frame at
    * `everyMs` intervals, frame payload stubbed as (bytes, frameIdx)
    * hash. posexplode keeps it a generator - no driver involvement. */
  def sampleFrames(df: DataFrame, everyMs: Int): DataFrame =
    df.filter(col("media_type") === "video")
      .select(col("asset_id"), col("meta"),
        posexplode(sequence(lit(0),
          greatest((col("meta.duration_ms") / everyMs).cast("int") - 1, lit(0)))))
      .withColumnRenamed("pos", "frame_idx")
      .withColumn("frame_ts_ms", col("frame_idx") * everyMs)
      .withColumn("frame_features", fakeDecodeFeatures(
        concat(col("asset_id").cast("string"), col("frame_idx").cast("string"))
          .cast("binary")))
      .drop("col")

  /** Metadata-only projection: proves the binary column prunes out of
    * the scan (assert `ReadSchema` excludes `bytes` in the plan). */
  def metadataOnly(df: DataFrame): DataFrame =
    df.select(col("asset_id"), col("media_type"),
      col("meta.width"), col("meta.height"), col("meta.duration_ms"))

  // ------------------------------------------------ real image decode

  /** REAL decode + feature extraction for image payloads: the
    * grid x grid block-mean luma vector via the native
    * [[graft.functions.ImageLumaGrid]] expression (JDK `javax.imageio`,
    * zero external deps). Per-row map work inside codegen - no
    * shuffle, no driver state. Fails loudly on undecodable bytes;
    * screen with [[imageDecodable]] when the corpus may contain junk. */
  def imageLumaFeatures(bytes: Column, grid: Int = 8): Column =
    org.apache.spark.sql.GraftSqlBridge.column(
      graft.functions.ImageLumaGrid(
        org.apache.spark.sql.GraftSqlBridge.expression(bytes), grid))

  /** True iff the JDK resolves an image reader for the payload - the
    * quarantine predicate in front of [[imageLumaFeatures]]. */
  def imageDecodable(bytes: Column): Column =
    org.apache.spark.sql.GraftSqlBridge.column(
      graft.functions.ImageDecodable(
        org.apache.spark.sql.GraftSqlBridge.expression(bytes)))

  /** Deterministic grayscale fixture rendered THROUGH a real JDK
    * encoder (png/bmp/gif): luma(x,y) = base + xStep*x + yStep*y. The
    * linear gradient's block means have an exact integer closed form,
    * so an external engine can oracle the full encode -> decode ->
    * feature chain arithmetically. */
  def grayImageBytes(base: Column, xStep: Column, yStep: Column,
                     w: Int, h: Int, format: String = "png"): Column =
    org.apache.spark.sql.GraftSqlBridge.column(
      graft.functions.GrayImageEncode(
        org.apache.spark.sql.GraftSqlBridge.expression(base.cast("int")),
        org.apache.spark.sql.GraftSqlBridge.expression(xStep.cast("int")),
        org.apache.spark.sql.GraftSqlBridge.expression(yStep.cast("int")),
        w, h, format))

  /** Deterministic grayscale BLOCK-NOISE fixture through a real JDK
    * encoder: cell i's luma = the first md5 byte of "seed|i". Each
    * seed gets an effectively unique 64-bit pHash (the linear
    * gradient's hash collapses to its orientation, and low-modulus
    * arithmetic patterns admit only |modulus| distinct images), so
    * corpus-wide near-dup queries stay sparse; any engine with md5
    * replays the features exactly. */
  def blockNoiseImageBytes(seed: Column, w: Int, h: Int, block: Int,
                           format: String = "png"): Column =
    org.apache.spark.sql.GraftSqlBridge.column(
      graft.functions.GrayBlockImageEncode(
        org.apache.spark.sql.GraftSqlBridge.expression(seed.cast("long")),
        w, h, block, format))

  /** [[withPHash]]'s REAL-DECODE twin: 64 features = the 8x8 block-mean
    * luma grid of the DECODED image payload, thresholded by the same
    * bit = feature >= floor(mean) machinery
    * ([[withPHashFromFeatures]]). Two encodings of the same pixels -
    * PNG vs BMP, original vs losslessly re-encoded - produce identical
    * hashes; a uniform brightness shift moves every feature AND the
    * threshold together, leaving the hash unchanged (the perceptual
    * robustness a DCT pHash has and a byte hash does not). */
  def withImagePHash(df: DataFrame, payloadCol: String = "bytes",
                     outCol: String = "phash"): DataFrame = {
    val staged = df.withColumn("__luma_grid",
      imageLumaFeatures(col(payloadCol), grid = 8))
    withPHashFromFeatureArray(staged, col("__luma_grid"), outCol)
      .drop("__luma_grid")
  }

  // ------------------------------------------------ real audio decode

  /** REAL audio decode + feature extraction: the per-window mean
    * absolute amplitude over the first windows*windowLen frames via
    * the native [[graft.functions.PcmAudioGrid]] expression (JDK
    * `javax.sound.sampled` - WAV and AIFF PCM, zero external deps).
    * Exact integer contract, same role for audio that
    * [[imageLumaFeatures]] plays for images. */
  def audioPcmFeatures(bytes: Column, windows: Int = 64,
                       windowLen: Int = 25): Column =
    org.apache.spark.sql.GraftSqlBridge.column(
      graft.functions.PcmAudioGrid(
        org.apache.spark.sql.GraftSqlBridge.expression(bytes),
        windows, windowLen))

  /** True iff the JDK resolves a PCM reader for the payload (16-bit
    * signed directly; other PCM widths/signs via the JDK's own
    * conversion) - the quarantine predicate for [[audioPcmFeatures]]. */
  def audioDecodable(bytes: Column): Column =
    org.apache.spark.sql.GraftSqlBridge.column(
      graft.functions.AudioDecodable(
        org.apache.spark.sql.GraftSqlBridge.expression(bytes)))

  /** Deterministic block-tone PCM fixture through a real JDK encoder
    * ("wav" little-endian or "aiff" big-endian): block i's amplitude
    * is (md5Byte("seed|i") - 128) * 256, so each seed fingerprints
    * uniquely and the per-window mean |amplitude| replays exactly in
    * any engine with md5. */
  def blockToneAudioBytes(seed: Column, nBlocks: Int, blockLen: Int,
                          format: String = "wav"): Column =
    org.apache.spark.sql.GraftSqlBridge.column(
      graft.functions.BlockToneAudioEncode(
        org.apache.spark.sql.GraftSqlBridge.expression(seed.cast("long")),
        nBlocks, blockLen, format))

  /** [[withImagePHash]]'s AUDIO twin: 64 features = the per-window
    * mean-|amplitude| grid of the DECODED PCM, thresholded by the
    * shared [[withPHashFromFeatures]] machinery. WAV and AIFF
    * encodings of the same samples (little- vs big-endian PCM) hash
    * identically; a uniform gain shift moves features and threshold
    * together. */
  def withAudioPHash(df: DataFrame, payloadCol: String = "bytes",
                     windowLen: Int = 25,
                     outCol: String = "phash"): DataFrame = {
    val staged = df.withColumn("__pcm_grid",
      audioPcmFeatures(col(payloadCol), windows = 64, windowLen = windowLen))
    withPHashFromFeatureArray(staged, col("__pcm_grid"), outCol)
      .drop("__pcm_grid")
  }

  // ------------------------------------------------ real video container

  /** REAL video frame extraction + decode: per AVI payload, one
    * grid x grid block-mean luma vector PER FRAME via the native
    * [[graft.functions.AviFrameLumaGrids]] expression - the RIFF
    * container walk is ours, each frame decodes through the JDK's own
    * independent BMP codec. Compressed codecs (H.264 etc.) have no JRE
    * decoder and stay out of scope. */
  def videoFrameFeatures(bytes: Column, grid: Int = 8): Column =
    org.apache.spark.sql.GraftSqlBridge.column(
      graft.functions.AviFrameLumaGrids(
        org.apache.spark.sql.GraftSqlBridge.expression(bytes), grid))

  /** True iff the payload parses as an uncompressed AVI with frames -
    * the quarantine predicate for [[videoFrameFeatures]]. */
  def videoDecodable(bytes: Column): Column =
    org.apache.spark.sql.GraftSqlBridge.column(
      graft.functions.AviDecodable(
        org.apache.spark.sql.GraftSqlBridge.expression(bytes)))

  /** Deterministic uncompressed-AVI fixture: `frames` frames of
    * block-noise gray (frame f, cell i luma = md5Byte("seed|f|i")) in
    * a spec-conformant RIFF/AVI container - every (seed, frame)
    * fingerprints uniquely and replays exactly in any engine with
    * md5. */
  def blockNoiseAviBytes(seed: Column, w: Int, h: Int, block: Int,
                         frames: Int): Column =
    org.apache.spark.sql.GraftSqlBridge.column(
      graft.functions.AviDibEncode(
        org.apache.spark.sql.GraftSqlBridge.expression(seed.cast("long")),
        w, h, block, frames))

  /** REAL frame sampling over decoded AVI payloads - the production
    * twin of the [[sampleFrames]] stub: decode every frame's feature
    * grid once ([[videoFrameFeatures]] - one container walk per
    * asset), keep every `every`-th frame, and emit one row per sampled
    * frame with its grid and per-frame pHash (the shared
    * [[withPHashFromFeatures]] threshold over the 64 block means).
    * posexplode keeps it a generator stage - no shuffle, no driver
    * involvement; at 100 TB this is the same embarrassingly parallel
    * map the image/audio legs run. */
  def sampleFramesDecoded(df: DataFrame, every: Int = 1,
                          payloadCol: String = "bytes"): DataFrame = {
    require(every >= 1, s"every=$every must be positive")
    val exploded = df
      .withColumn("__fgrids", videoFrameFeatures(col(payloadCol)))
      .select(col("asset_id"),
        posexplode(col("__fgrids")).as(Seq("frame_idx", "frame_grid")))
      .filter(col("frame_idx") % every === 0)
    withPHashFromFeatureArray(exploded, col("frame_grid"), "frame_phash")
  }

  // ------------------------------------------------ perceptual near-dup

  /** Portable 64-bit integer PERCEPTUAL HASH over the (stubbed) decode
    * features - the asset-level near-dup signature a multimodal corpus
    * dedups on (pHash family: bit = sign of a feature's deviation from
    * the asset's own mean, the structure a DCT pHash uses over pixel
    * blocks). Feature i (0..63) is the 48-bit integer from the first
    * 12 md5 hex chars of (payload, i) - the md5-portable twin of
    * [[fakeDecodeFeatures]]'s xxhash64 stub, so the DuckDB oracle
    * reproduces it bit-for-bit; a real decoder swaps the 64 feature
    * expressions, not the hash/blocking machinery. Bit i is 1 iff
    * feature_i >= floor(mean of the 64 features) (threshold via
    * shift: 64 features, >> 6 - all-integer, no rounding ambiguity).
    * Identical payloads hash identically; the hash IS 64 bits wide
    * (bit 63 makes the BIGINT negative - harmless for grouping, xor,
    * and popcount), so chance Hamming<=t collisions - and with them
    * candidate-pair volume - stay negligible at corpus scale instead
    * of growing quadratically the way a narrow hash's birthday
    * collisions do. */
  def withPHash(df: DataFrame, payloadCol: String = "bytes",
                outCol: String = "phash"): DataFrame = {
    // native one-pass feature vector: the expression form
    // (conv(substring(md5(concat(payload, '|i')), 1, 12), 16, 10) per i)
    // hashed the FULL payload once per feature - 64 payload digests per
    // row; Md5PHashFeatures hashes it once and clones the digest state
    // per "|i" suffix, bit-identical output (Md5PHashFeaturesSpec)
    val staged = df.withColumn("__md5_grid",
      org.apache.spark.sql.GraftSqlBridge.column(
        graft.functions.Md5PHashFeatures(
          org.apache.spark.sql.GraftSqlBridge.expression(
            col(payloadCol).cast("binary")), 64)))
    withPHashFromFeatureArray(staged, col("__md5_grid"), outCol)
      .drop("__md5_grid")
  }

  /** The pHash bit math over 64 caller-provided NON-NEGATIVE long
    * feature columns (each < 2^48 so the 64-term sum stays in Long
    * range): bit i is 1 iff feature_i >= floor(mean of the 64)
    * (threshold via shift: 64 features, >> 6 - all-integer, no
    * rounding ambiguity). Shared by the md5 stub ([[withPHash]]) and
    * the real image decode path ([[withImagePHash]]) - swapping the
    * decoder swaps the 64 feature expressions, never this machinery.
    * Bit 63's weight is Long.MinValue and is added LAST (ascending
    * reduce), so every partial sum stays in range under ANSI
    * arithmetic. */
  /** Native sum of a long feature array - the feat_sum projection of
    * the real-decode queries, replacing the interpreted
    * `aggregate(arr, 0L, _ + _)` HOF (ArrayAggregate is
    * CodegenFallback). Bit-identical. */
  def sumFeatures(featureArray: Column): Column =
    org.apache.spark.sql.GraftSqlBridge.column(
      graft.functions.SumLongArray(
        org.apache.spark.sql.GraftSqlBridge.expression(featureArray)))

  /** [[withPHashFromFeatures]] over a 64-long feature ARRAY column in
    * one native pass ([[graft.functions.PHash64FromFeatures]]) - every
    * production feature pipeline already produces its grid as an array
    * (md5 stub, image luma, audio PCM, per-video-frame), and the
    * expression form's ~200-node per-row tree (64 element_at + 64-term
    * sum + 64 conditional adds) measured ~0.65 s of the stub pairs
    * path at sf0.1. Bit-identical (Md5PHashFeaturesSpec pins it). */
  def withPHashFromFeatureArray(df: DataFrame,
                                featureArray: Column,
                                outCol: String = "phash"): DataFrame =
    df.withColumn(outCol, org.apache.spark.sql.GraftSqlBridge.column(
      graft.functions.PHash64FromFeatures(
        org.apache.spark.sql.GraftSqlBridge.expression(featureArray))))

  def withPHashFromFeatures(df: DataFrame, features: Seq[Column],
                            outCol: String = "phash"): DataFrame = {
    val dim = 64
    require(features.size == dim, s"pHash needs 64 features, got ${features.size}")
    val staged = df.select(col("*") +: features.zipWithIndex.map {
      case (f, i) => f.as(s"__f$i")
    }: _*)
    val total = (0 until dim).map(i => col(s"__f$i")).reduce(_ + _)
    val thr = shiftright(total, 6)
    val hash = (0 until dim)
      .map(i => when(col(s"__f$i") >= thr, lit(1L << i)).otherwise(lit(0L)))
      .reduce(_ + _)
    staged.withColumn(outCol, hash)
      .drop((0 until dim).map("__f" + _): _*)
  }

  /** Asset near-dup pairs at Hamming <= maxHamming over [[withPHash]] -
    * the image-dedup step of a multimodal corpus, with pigeonhole
    * chunk blocking (the [[Dedup.simhashPairs]] guarantee): the 64-bit
    * hash splits into maxHamming + 1 chunks (evenly as possible), a
    * qualifying pair shares at least one exact chunk, buckets above
    * `maxBucketSize` members are dropped as signal-free, and
    * candidates verify by integer xor popcount. Output:
    * (asset_id_a < asset_id_b, hamming).
    *
    * Pair generation is ONE collecting aggregation, not a bucket
    * self-join: each surviving (chunk, value) bucket collects its
    * 2..maxBucketSize (id, hash) members - 16 bytes each - and
    * in-bucket pairs explode from the sorted member array. Bucket
    * SIZES are counted FIRST by a window over the bucket partition
    * and over-cap buckets are dropped BEFORE any member reaches the
    * collect_list buffer, so a degenerate hot bucket (one hash value
    * covering most of a skewed corpus) can never build an unbounded
    * array in an aggregation buffer: WindowExec's partition buffer
    * SPILLS to disk, so the worst case for a hot bucket is one
    * spilled sort task that then filters to nothing - slow, never
    * OOM. The window, filter, and collect aggregation all ride the
    * SAME bucket-key exchange (window partitioning is preserved), so
    * the feature scan and hash pipeline run exactly once - a
    * two-subtree count-then-semi-join gate would re-evaluate the
    * feature pipeline on both join legs (measured 2x on the
    * real-decode path), and the self-join form this replaced
    * evaluated it THREE times (measured 4.9s -> 2.9s at sf0.1). */
  def phashNearDupPairs(assets: DataFrame, maxHamming: Int = 2,
                        maxBucketSize: Int = 1000): DataFrame =
    phashPairsFromHashes(
      withPHash(assets).select(col("asset_id"), col("phash")),
      maxHamming, maxBucketSize)

  /** The blocking + verify machinery of [[phashNearDupPairs]] over an
    * already-hashed (asset_id, phash) frame - the entry point for
    * alternative feature pipelines (the [[withImagePHash]] real-decode
    * path plugs in here). */
  def phashPairsFromHashes(withHash: DataFrame, maxHamming: Int = 2,
                           maxBucketSize: Int = 1000): DataFrame = {
    require(maxHamming >= 1 && maxHamming <= 4,
      s"maxHamming=$maxHamming outside [1, 4] for a 64-bit hash " +
        "(chunks = maxHamming + 1, each >= 12 bits)")
    val chunks = maxHamming + 1
    val widths = Array.fill(chunks)(64 / chunks)
    (0 until 64 % chunks).foreach(widths(_) += 1)
    val offsets = widths.scanLeft(0)(_ + _).init
    val chunkCols = (0 until chunks).map { c =>
      shiftright(col("phash"), offsets(c))
        .bitwiseAND((1L << widths(c)) - 1)
    }
    val chunked = withHash.select(col("asset_id"), col("phash"),
        posexplode(array(chunkCols: _*)))
      .withColumnRenamed("pos", "chunk").withColumnRenamed("col", "chunkVal")
    // size gate BEFORE collecting: the window count rides the bucket
    // exchange (spill-safe partition buffer), so over-cap (skewed)
    // buckets are dropped before any member reaches the collect_list
    // aggregation buffer, and the collect reuses the same partitioning
    val wBucket = org.apache.spark.sql.expressions.Window
      .partitionBy(col("chunk"), col("chunkVal"))
    val buckets = chunked
      .withColumn("__bn", count(lit(1)).over(wBucket))
      .filter(col("__bn").between(2, maxBucketSize))
      .groupBy(col("chunk"), col("chunkVal"))
      .agg(collect_list(struct(col("asset_id"), col("phash"))).as("ms"))
    // sorted member array (struct order = asset_id first), so every
    // emitted pair has asset_id_a < asset_id_b by construction
    val arr = array_sort(col("ms"))
    val pairsCol = flatten(transform(arr, (x, i) =>
      transform(slice(arr, i + lit(2), greatest(size(arr) - i - 1, lit(0))),
        y => struct(
          x.getField("asset_id").as("asset_id_a"),
          y.getField("asset_id").as("asset_id_b"),
          x.getField("phash").as("ph_a"),
          y.getField("phash").as("ph_b")))))
    buckets.select(explode(pairsCol).as("p"))
      .select(col("p.*"))
      .dropDuplicates("asset_id_a", "asset_id_b")
      .withColumn("hamming", bit_count(col("ph_a").bitwiseXOR(col("ph_b"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("asset_id_a"), col("asset_id_b"), col("hamming"))
  }

  /** Two-modality dedup funnel: which assets survive BOTH the
    * asset-level pass (min asset_id per exact pHash group - the
    * Hamming-0 core of [[phashNearDupPairs]]' components) AND the
    * text-level pass (min doc id per [[Dedup.normMd5]] group of the
    * paired document text). The two passes group DIFFERENTLY - pHash
    * keys raw payload bytes, normMd5 keys lowercased
    * whitespace-collapsed text - so each catches duplicates the other
    * misses; the funnel verdict labels every asset with which pass(es)
    * dropped it. Plan: two hash-keyed min aggregations + equi-joins on
    * the asset id - no pairs, no text shuffle beyond the hash
    * projections. */
  def assetDedupVsText(assets: DataFrame, docs: DataFrame,
                       docIdCol: String = "doc_id",
                       textCol: String = "text"): DataFrame = {
    val ph = withPHash(assets).select(col("asset_id"), col("phash"))
    val phKeep = ph.groupBy(col("phash"))
      .agg(min(col("asset_id")).as("asset_id"))
      .select(col("asset_id"), lit(1).as("asset_kept"))
    val txtKeep = docs
      .select(col(docIdCol).as("asset_id"),
        Dedup.normMd5(col(textCol)).as("nh"))
      .groupBy(col("nh")).agg(min(col("asset_id")).as("asset_id"))
      .select(col("asset_id"), lit(1).as("text_kept"))
    assets.select(col("asset_id"), col("media_type"))
      .join(phKeep, Seq("asset_id"), "left")
      .join(txtKeep, Seq("asset_id"), "left")
      .select(col("asset_id"), col("media_type"),
        coalesce(col("asset_kept"), lit(0)).as("asset_kept"),
        coalesce(col("text_kept"), lit(0)).as("text_kept"),
        (coalesce(col("asset_kept"), lit(0)) * coalesce(col("text_kept"),
          lit(0))).as("kept_both"))
  }
}
