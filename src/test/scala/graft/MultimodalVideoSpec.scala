package graft

import graft.llm.Multimodal

/** The video container leg: RIFF/AVI walk + JDK BMP frame decode.
  * Pins the per-frame closed form, real frame sampling, and the
  * quarantine/fail-loud behavior on junk and non-video payloads. */
class MultimodalVideoSpec extends SparkSpec {
  import spark.implicits._

  private def md5Byte(s: String): Int =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))(0) & 0xFF

  private def assets = Seq(7L, 21L).toDF("asset_id")
    .withColumn("bytes",
      Multimodal.blockNoiseAviBytes($"asset_id", 16, 16, 2, frames = 4))

  test("every decoded AVI frame's 8x8 grid equals the closed form " +
    "md5Byte(seed|f|i), through the independent JDK BMP decoder") {
    val got = assets
      .select($"asset_id", Multimodal.videoFrameFeatures($"bytes").as("fs"))
      .as[(Long, Seq[Seq[Long]])].collect()
    assert(got.length == 2)
    got.foreach { case (seed, frames) =>
      assert(frames.size == 4)
      for (f <- 0 until 4; i <- 0 until 64)
        assert(frames(f)(i) == md5Byte(s"$seed|$f|$i").toLong,
          s"seed=$seed frame=$f cell=$i")
    }
  }

  test("sampleFramesDecoded keeps every k-th frame with a per-frame " +
    "pHash; distinct frames hash apart") {
    val rows = Multimodal.sampleFramesDecoded(assets, every = 2)
      .select($"asset_id", $"frame_idx", $"frame_phash")
      .as[(Long, Int, Long)].collect()
    assert(rows.map(r => (r._1, r._2)).toSet ==
      Set((7L, 0), (7L, 2), (21L, 0), (21L, 2)))
    // block-noise frames are independent draws: their hashes differ
    assert(rows.map(_._3).distinct.length == 4)
  }

  test("quarantine: junk and non-AVI media are not video; the decoder " +
    "fails loudly on them") {
    val junk = Seq(
      (1L, "not a movie".getBytes("UTF-8")),
      (2L, graft.functions.GrayImageEncode.compute(10, 3, 2, 16, 16, "png"))
    ).toDF("asset_id", "bytes")
    val dec = junk.select($"asset_id", Multimodal.videoDecodable($"bytes"))
      .as[(Long, Boolean)].collect().toMap
    assert(dec == Map(1L -> false, 2L -> false))
    assert(assets.select(Multimodal.videoDecodable($"bytes"))
      .as[Boolean].collect().forall(identity))
    val e = intercept[Exception] {
      junk.select(Multimodal.videoFrameFeatures($"bytes")).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("not a parseable uncompressed AVI")), e)
  }

  // ---- hand-muxed RIFF/AVI builder helpers (shared by the stream-
  // binding tests below) ----
  private def le32(v: Int): Array[Byte] = Array((v & 0xFF).toByte,
    ((v >> 8) & 0xFF).toByte, ((v >> 16) & 0xFF).toByte,
    ((v >> 24) & 0xFF).toByte)
  private def le16(v: Int): Array[Byte] =
    Array((v & 0xFF).toByte, ((v >> 8) & 0xFF).toByte)
  private def fcc(s: String): Array[Byte] = s.getBytes("US-ASCII")
  private def chunk(id: String, body: Array[Byte]): Array[Byte] =
    fcc(id) ++ le32(body.length) ++ body ++
      (if (body.length % 2 == 1) Array(0.toByte) else Array.emptyByteArray)
  private def list(tpe: String, body: Array[Byte]): Array[Byte] =
    fcc("LIST") ++ le32(body.length + 4) ++ fcc(tpe) ++ body
  private val frameW = 8
  private val frameSize = frameW * frameW * 3
  private def grayFrame(v: Int): Array[Byte] = Array.fill(frameSize)(v.toByte)
  private def bih: Array[Byte] =
    le32(40) ++ le32(frameW) ++ le32(frameW) ++ le16(1) ++ le16(24) ++
      le32(0) ++ le32(frameSize) ++ le32(2835) ++ le32(2835) ++
      le32(0) ++ le32(0)
  private def riffAvi(body: Array[Byte]): Array[Byte] = {
    val full = fcc("AVI ") ++ body
    fcc("RIFF") ++ le32(full.length) ++ full
  }

  test("multi-stream AVI: an audio strl listed FIRST neither captures " +
    "the strf slot nor interleaves its packets into the frame sequence") {
    // hand-muxed two-stream AVI in the common mux order (audio strl
    // before video): stream 00 = 'auds' (strf is a junk WAVEFORMATEX,
    // chunks '00wb'), stream 01 = 'vids' (strf = BITMAPINFOHEADER,
    // chunks '01db'). The parser must take the strf from the vids strl
    // and ONLY that stream's frames - pairing frames with the audio
    // strf or ingesting '00wb' packets decodes garbage or skews the
    // frame count.
    val strhAud = fcc("auds") ++ Array.fill(52)(0.toByte)
    val strhVid = fcc("vids") ++ fcc("DIB ") ++ Array.fill(48)(0.toByte)
    val hdrl = list("hdrl",
      chunk("avih", Array.fill(56)(0.toByte)) ++
        list("strl", chunk("strh", strhAud) ++
          chunk("strf", Array.fill(16)(7.toByte))) ++
        list("strl", chunk("strh", strhVid) ++ chunk("strf", bih)))
    val movi = list("movi",
      chunk("00wb", Array.fill(64)(99.toByte)) ++
        chunk("01db", grayFrame(50)) ++
        chunk("00wb", Array.fill(64)(98.toByte)) ++
        chunk("01db", grayFrame(200)))
    val avi = riffAvi(hdrl ++ movi)

    val df = Seq((1L, avi)).toDF("asset_id", "bytes")
    assert(df.select(Multimodal.videoDecodable($"bytes")).as[Boolean].head())
    val grids = df
      .select(Multimodal.videoFrameFeatures($"bytes", grid = 1).as("g"))
      .as[Seq[Seq[Long]]].head()
    // exactly the two video frames, decoded against the VIDEO header
    assert(grids == Seq(Seq(50L), Seq(200L)), s"got $grids")
  }

  test("single-stream leniency: an AVI with NO strh anywhere decodes " +
    "via first-strf; one that declares only non-vids streams stays null") {
    // spec-sloppy single-stream file: strl holds only a strf (no strh
    // declares a type). With zero strh chunks nothing disambiguates
    // the streams, so the parser falls back to first-strf + all
    // frames - the documented leniency contract.
    val sloppyHdrl = list("hdrl",
      chunk("avih", Array.fill(56)(0.toByte)) ++
        list("strl", chunk("strf", bih)))
    val sloppyMovi = list("movi",
      chunk("00db", grayFrame(30)) ++ chunk("00db", grayFrame(170)))
    val sloppy = riffAvi(sloppyHdrl ++ sloppyMovi)
    val df = Seq((1L, sloppy)).toDF("asset_id", "bytes")
    assert(df.select(Multimodal.videoDecodable($"bytes")).as[Boolean].head())
    val grids = df
      .select(Multimodal.videoFrameFeatures($"bytes", grid = 1))
      .as[Seq[Seq[Long]]].head()
    assert(grids == Seq(Seq(30L), Seq(170L)), s"got $grids")

    // control: a file that DOES declare its streams, all non-video,
    // told us it has no video - leniency must NOT resurrect it
    val audioOnlyHdrl = list("hdrl",
      chunk("avih", Array.fill(56)(0.toByte)) ++
        list("strl",
          chunk("strh", fcc("auds") ++ Array.fill(52)(0.toByte)) ++
            chunk("strf", Array.fill(16)(7.toByte))))
    val audioOnly = riffAvi(audioOnlyHdrl ++
      list("movi", chunk("00wb", grayFrame(30))))
    assert(!Seq((1L, audioOnly)).toDF("asset_id", "bytes")
      .select(Multimodal.videoDecodable($"bytes")).as[Boolean].head())
  }

  test("strh-less leniency is restricted to observably-single-stream " +
    "files: two strfs or two frame-stream prefixes quarantine as null") {
    // Ambiguity 1: NO strh anywhere but TWO strfs (e.g. an audio strf
    // muxed before a video strf) - the first strf may describe the
    // wrong stream, so pairing it with the frames decodes garbage.
    // Pre-fix this decoded "successfully" against the junk header.
    val twoStrfHdrl = list("hdrl",
      chunk("avih", Array.fill(56)(0.toByte)) ++
        list("strl", chunk("strf", Array.fill(16)(7.toByte))) ++
        list("strl", chunk("strf", bih)))
    val twoStrf = riffAvi(twoStrfHdrl ++
      list("movi", chunk("01db", grayFrame(30)) ++ chunk("01db", grayFrame(40))))
    assert(!Seq((1L, twoStrf)).toDF("asset_id", "bytes")
      .select(Multimodal.videoDecodable($"bytes")).as[Boolean].head(),
      "two strfs with no strh is ambiguous - must quarantine")

    // Ambiguity 2: one strf, no strh, but frame chunks under TWO
    // distinct stream numbers - two streams' payloads would interleave
    // into one garbage grid sequence. Must quarantine.
    val mixedHdrl = list("hdrl",
      chunk("avih", Array.fill(56)(0.toByte)) ++
        list("strl", chunk("strf", bih)))
    val mixed = riffAvi(mixedHdrl ++
      list("movi", chunk("00db", grayFrame(30)) ++ chunk("01db", grayFrame(40))))
    assert(!Seq((1L, mixed)).toDF("asset_id", "bytes")
      .select(Multimodal.videoDecodable($"bytes")).as[Boolean].head(),
      "two frame-stream prefixes with no strh is ambiguous - must quarantine")
  }
}
