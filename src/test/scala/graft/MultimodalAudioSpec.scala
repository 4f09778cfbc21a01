package graft

import graft.llm.Multimodal

/** The REAL audio codec leg: javax.sound.sampled WAV/AIFF decode
  * feeding the per-window mean-|amplitude| grid into the shared pHash
  * machinery. Pins the cross-format round trip (little-endian WAV vs
  * big-endian AIFF of the same PCM), the closed-form feature contract
  * the DuckDB oracle replays, and fail-loud behavior on junk. */
class MultimodalAudioSpec extends SparkSpec {
  import spark.implicits._

  private def seeds = Seq(3L, 17L, 99L).toDF("asset_id")

  private def withBytes(format: String) = seeds.withColumn("bytes",
    Multimodal.blockToneAudioBytes($"asset_id", 64, 25, format))

  private def md5Byte(s: String): Int =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))(0) & 0xFF

  test("decoded windows of a real WAV equal the closed form " +
    "|(md5Byte(seed|i) - 128) * 256|") {
    val got = withBytes("wav")
      .select($"asset_id",
        Multimodal.audioPcmFeatures($"bytes", 64, 25).as("grid"))
      .as[(Long, Seq[Long])].collect()
    assert(got.length == 3)
    got.foreach { case (seed, grid) =>
      assert(grid.size == 64)
      for (i <- 0 until 64)
        assert(grid(i) == math.abs((md5Byte(s"$seed|$i") - 128) * 256L),
          s"seed=$seed window=$i")
    }
  }

  test("cross-format agreement: WAV and AIFF of the same samples " +
    "decode to identical features and identical pHash, from " +
    "byte-level different containers") {
    val wav = Multimodal.withAudioPHash(withBytes("wav"))
      .select($"asset_id", $"phash").as[(Long, Long)].collect().toMap
    val aiff = Multimodal.withAudioPHash(withBytes("aiff"))
      .select($"asset_id", $"phash").as[(Long, Long)].collect().toMap
    assert(wav == aiff && wav.size == 3)
    val wb = withBytes("wav").select($"asset_id", $"bytes")
      .as[(Long, Array[Byte])].collect().toMap
    val ab = withBytes("aiff").select($"asset_id", $"bytes")
      .as[(Long, Array[Byte])].collect().toMap
    assert(wb.keySet.forall(k => !java.util.Arrays.equals(wb(k), ab(k))))
  }

  test("cross-format near-dup pairs surface at hamming 0 through " +
    "phashPairsFromHashes; junk fails loudly") {
    val wavs = withBytes("wav")
    val aiffTwins = withBytes("aiff")
      .withColumn("asset_id", -$"asset_id" - 1L)
    val hashed = Multimodal.withAudioPHash(
        wavs.unionByName(aiffTwins).select($"asset_id", $"bytes"))
      .select($"asset_id", $"phash")
    val pairs = Multimodal.phashPairsFromHashes(hashed, maxHamming = 2)
      .as[(Long, Long, Int)].collect().toSet
    assert(Set((-100L, 99L, 0), (-18L, 17L, 0), (-4L, 3L, 0))
      .subsetOf(pairs))
    assert(pairs.forall { case (a, b, _) => a == -b - 1L })

    val junk = Seq((1L, "not audio".getBytes("UTF-8")))
      .toDF("asset_id", "bytes")
    assert(!junk.select(Multimodal.audioDecodable($"bytes"))
      .as[Boolean].head())
    val e = intercept[Exception] {
      junk.select(Multimodal.audioPcmFeatures($"bytes", 64, 25)).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("undecodable audio bytes")), e)
  }

  test("8-bit UNSIGNED PCM decodes through the JDK's own width/sign " +
    "conversion, with its exact asymmetric upscale") {
    // hand-written 8-bit unsigned mono WAV: 4 windows x 10 samples,
    // window w constant at u(w) - the documented sub-16-bit contract,
    // previously quarantined (decodeSamples returned null for anything
    // not already 16-bit signed). The current JDK converter scales the
    // two half-ranges independently (negative by 32768/128 = 256,
    // positive by 32767/127, truncated toward zero) so both rails map
    // to full scale - probed empirically. That exact rounding is a
    // vendor internal, so the assert allows +-2 per window mean: wide
    // enough for any sane 8->16 upscale (<<8 on both rails lands
    // within 2 of this), narrow enough that a broken decode (wrong
    // sign handling, wrong byte order) still fails by thousands.
    def up(u: Int): Long =
      if (u >= 128) (u - 128).toLong * 32767 / 127 else (u - 128).toLong * 256
    val us = Seq(0, 128, 200, 60)
    def wav8(vals: Seq[Int]): Array[Byte] = {
      val fmt = new javax.sound.sampled.AudioFormat(
        javax.sound.sampled.AudioFormat.Encoding.PCM_UNSIGNED,
        16000f, 8, 1, 1, 16000f, false)
      val data = vals.map(_.toByte).toArray
      val ais = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(data), fmt, data.length.toLong)
      val out = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(ais,
        javax.sound.sampled.AudioFileFormat.Type.WAVE, out)
      out.toByteArray
    }
    val bytes = wav8(us.flatMap(u => Seq.fill(10)(u)))
    val df = Seq((1L, bytes)).toDF("asset_id", "bytes")
    assert(df.select(Multimodal.audioDecodable($"bytes")).as[Boolean].head())
    val grid = df
      .select(Multimodal.audioPcmFeatures($"bytes", 4, 10).as("grid"))
      .as[Seq[Long]].head()
    val expect = us.map(u => math.abs(up(u)))
    assert(grid.size == expect.size &&
      grid.zip(expect).forall { case (g, e) => math.abs(g - e) <= 2 },
      s"got $grid, want ~$expect")
  }

  test("ULAW telephony WAV decodes through the JRE's companding codec " +
    "within mu-law quantization tolerance") {
    // 4 windows x 10 samples, constant 16-bit amplitude per window,
    // companded to 8-bit mu-law by the JDK's own codec and wrapped in
    // a WAV - the telephony-corpus shape. Decode must recover each
    // window's |amplitude| within mu-law quantization error (log
    // segments: relative error bounded ~3% plus a small-signal floor).
    val amps = Seq(8000, -12000, 0, 30000)
    val pcm = new Array[Byte](amps.length * 10 * 2)
    amps.zipWithIndex.foreach { case (a, w) =>
      for (j <- 0 until 10) {
        val k = (w * 10 + j) * 2
        pcm(k) = (a & 0xFF).toByte; pcm(k + 1) = ((a >> 8) & 0xFF).toByte
      }
    }
    val pcmFmt = new javax.sound.sampled.AudioFormat(16000f, 16, 1, true, false)
    val src = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), pcmFmt, amps.length * 10L)
    val ulawFmt = new javax.sound.sampled.AudioFormat(
      javax.sound.sampled.AudioFormat.Encoding.ULAW, 16000f, 8, 1, 1, 16000f, false)
    val ulaw = javax.sound.sampled.AudioSystem.getAudioInputStream(ulawFmt, src)
    val out = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ulaw,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, out)
    val df = Seq((1L, out.toByteArray)).toDF("asset_id", "bytes")
    assert(df.select(Multimodal.audioDecodable($"bytes")).as[Boolean].head())
    val grid = df
      .select(Multimodal.audioPcmFeatures($"bytes", 4, 10).as("grid"))
      .as[Seq[Long]].head()
    val expect = amps.map(a => math.abs(a.toLong))
    assert(grid.size == 4 && grid.zip(expect).forall { case (g, e) =>
        math.abs(g - e) <= math.max(64L, (e * 0.04).toLong) },
      s"got $grid, want ~$expect")
  }

  private def sampled[A](gen: org.scalacheck.Gen[A], n: Int,
                         seed0: Long): Seq[A] = {
    var s = org.scalacheck.rng.Seed(seed0)
    (1 to n).map { _ =>
      val v = gen.pureApply(org.scalacheck.Gen.Parameters.default, s)
      s = s.next
      v
    }
  }

  test("property: decodeSamples over the random PCM matrix " +
    "(width x container x sign x channels, 120 cases) recovers " +
    "channel 0 within one source-quantization step - never garbage") {
    import org.scalacheck.Gen
    import javax.sound.sampled._
    // Random PCM written by the JDK's own container writers: WAV
    // exercises the little-endian file leg, AIFF the big-endian one;
    // width 8 rides the unsigned-offset storage, 16 the signed
    // short-circuit, 24/32 the float-mediated downscale. Channel 1
    // (when present) carries the NEGATED signal, so any channel mixing
    // or frame-stride bug lands far outside the tolerance. The JDK
    // converter is float-mediated with asymmetric positive scaling
    // (x*32767 up / 2^(W-1) down), so exactness only holds at width
    // 16; elsewhere the decoded value must sit within one source LSB
    // of the ideal v<<8.
    val caseGen = for {
      container <- Gen.oneOf(AudioFileFormat.Type.WAVE, AudioFileFormat.Type.AIFF)
      width <- Gen.oneOf(8, 16, 24, 32)
      // >8-bit unsigned PCM is not representable in either container
      // (the JDK writers mislabel rather than convert it), and no real
      // corpus carries it; 8-bit covers both signs
      signed <- if (width == 8) Gen.oneOf(true, false) else Gen.const(true)
      bigIn <- Gen.oneOf(true, false) // raw-payload endianness pre-write
      channels <- Gen.oneOf(1, 2)
      n <- Gen.choose(3, 40)
      vs <- Gen.listOfN(n, Gen.choose(-128, 127))
    } yield (container, width, signed, bigIn, channels, vs)

    def putSample(buf: Array[Byte], off: Int, v: Long, bytes: Int,
                  big: Boolean): Unit = {
      var i = 0
      while (i < bytes) {
        val sh = if (big) 8 * (bytes - 1 - i) else 8 * i
        buf(off + i) = ((v >> sh) & 0xFF).toByte
        i += 1
      }
    }

    for ((container, width, signed, bigIn, channels, vs) <-
           sampled(caseGen, 120, 4242L)) {
      val bytesPer = width / 8
      val raw = new Array[Byte](vs.length * channels * bytesPer)
      vs.zipWithIndex.foreach { case (v, f) =>
        def store(x: Long): Long =
          if (signed) x else x + (1L << (width - 1))
        putSample(raw, f * channels * bytesPer,
          store(v.toLong << (width - 8)), bytesPer, bigIn)
        if (channels == 2)
          putSample(raw, (f * channels + 1) * bytesPer,
            store(-v.toLong << (width - 8)), bytesPer, bigIn)
      }
      val enc = if (signed) AudioFormat.Encoding.PCM_SIGNED
                else AudioFormat.Encoding.PCM_UNSIGNED
      val fmt = new AudioFormat(enc, 8000f, width, channels,
        channels * bytesPer, 8000f, bigIn)
      val out = new java.io.ByteArrayOutputStream()
      AudioSystem.write(
        new AudioInputStream(new java.io.ByteArrayInputStream(raw), fmt,
          vs.length.toLong),
        container, out)
      val got = graft.functions.PcmAudioGrid.decodeSamples(
        out.toByteArray, vs.length)
      val label = s"$container w=$width signed=$signed bigIn=$bigIn " +
        s"ch=$channels n=${vs.length}"
      assert(got != null && got.length == vs.length, label)
      val tol = if (width == 8) 260 else 4
      got.toSeq.zip(vs).zipWithIndex.foreach { case ((g, v), i) =>
        assert(math.abs(g - (v << 8)) <= tol,
          s"$label frame $i: got $g want ~${v << 8}")
      }
    }

    // the null leg: junk that resolves no JDK reader must be null,
    // never a misdecoded sample array
    for (junk <- sampled(Gen.listOfN(64, Gen.choose(0, 255)), 8, 7L))
      assert(graft.functions.PcmAudioGrid.decodeSamples(
        junk.map(_.toByte).toArray, 4) == null)
  }

  test("mixed WAV/AVI corpus: the RIFF form-type cache key keeps the " +
    "reader cache from thrashing (zero stale hits across interleaved rows)") {
    // WAV and AVI share the 4-byte container magic "RIFF"; keyed on
    // bytes 0-3 alone, every AVI row would retry the cached WAV reader,
    // throw, and rescan the provider registry - a constructed exception
    // per row at corpus scale. The form-type word (bytes 8-11) splits
    // the keys, so interleaving the two formats causes no stale hits.
    val pcm = Array.tabulate(40)(i => (i * 1000 - 20000))
    val raw = new Array[Byte](pcm.length * 2)
    pcm.zipWithIndex.foreach { case (v, i) =>
      raw(2 * i) = (v & 0xFF).toByte; raw(2 * i + 1) = ((v >> 8) & 0xFF).toByte
    }
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
    val out = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(
      new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(raw), fmt, pcm.length.toLong),
      javax.sound.sampled.AudioFileFormat.Type.WAVE, out)
    val wav = out.toByteArray
    // minimal RIFF/AVI shell - enough container to carry the form type
    val aviBody = "AVI LIST".getBytes("US-ASCII") ++ new Array[Byte](32)
    val avi = "RIFF".getBytes("US-ASCII") ++ Array[Byte](
      (aviBody.length & 0xFF).toByte, 0, 0, 0) ++ aviBody

    assert(graft.functions.PcmAudioGrid.decodeSamples(wav, 4) != null)
    assert(graft.functions.PcmAudioGrid.decodeSamples(avi, 1) == null)
    // deltas are read per-THREAD: this test's decodes run on the
    // calling thread, so concurrent decode activity elsewhere (another
    // suite, a background query) cannot flake the exact-delta asserts
    val before = graft.functions.PcmAudioGrid.staleCacheHits.onThisThread
    val scans = graft.functions.PcmAudioGrid.fullScans.onThisThread
    (1 to 20).foreach { _ =>
      assert(graft.functions.PcmAudioGrid.decodeSamples(avi, 1) == null)
      assert(graft.functions.PcmAudioGrid.decodeSamples(wav, 4) != null)
    }
    assert(graft.functions.PcmAudioGrid.staleCacheHits.onThisThread == before,
      "interleaved WAV/AVI rows must not evict or retry across formats")
    // and the AVI rows are negative-cached after their first full scan:
    // the RIFF form type proves no JDK audio provider can ever match,
    // so repeated undecodable assets stop paying a constructed
    // exception per provider per row
    assert(graft.functions.PcmAudioGrid.fullScans.onThisThread == scans,
      "repeat AVI rows must hit the negative cache, not rescan providers")
  }

  test("AU corpus: varying payload size does not defeat the reader " +
    "cache (bytes 8-11 are the AU data size, excluded from the key)") {
    // AU (.snd) stores the DATA SIZE at offset 8 - keying the reader
    // cache on bytes 8-11 for every container would give each
    // distinct-length AU file its own key: a full provider rescan per
    // row and unbounded cache entries. The second key word applies to
    // the RIFF/FORM container families only.
    def au(n: Int): Array[Byte] = {
      val raw = new Array[Byte](n * 2)
      (0 until n).foreach { i =>
        val v = i * 300 - 5000
        raw(2 * i) = ((v >> 8) & 0xFF).toByte; raw(2 * i + 1) = (v & 0xFF).toByte
      }
      val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, true)
      val out = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(
        new javax.sound.sampled.AudioInputStream(
          new java.io.ByteArrayInputStream(raw), fmt, n.toLong),
        javax.sound.sampled.AudioFileFormat.Type.AU, out)
      out.toByteArray
    }
    val a1 = au(30)
    val a2 = au(77) // different data size -> different bytes 8-11
    assert(graft.functions.PcmAudioGrid.decodeSamples(a1, 4) != null)
    // per-thread delta - immune to concurrent decodes on other threads
    val scans = graft.functions.PcmAudioGrid.fullScans.onThisThread
    (1 to 5).foreach { _ =>
      assert(graft.functions.PcmAudioGrid.decodeSamples(a2, 4) != null)
      assert(graft.functions.PcmAudioGrid.decodeSamples(a1, 4) != null)
    }
    assert(graft.functions.PcmAudioGrid.fullScans.onThisThread == scans,
      "every AU row after the first must be a reader-cache hit")
  }

  test("negative-cache soundness: a corrupt WAV never poisons the WAVE " +
    "magic - valid WAVs behind it still decode") {
    // The negative cache may only hold magics that are unmatchable from
    // the container words ALONE (RIFF with a non-WAVE form, FORM with a
    // non-AIFF type). A corrupt payload under RIFF/WAVE shares its
    // magic with every valid WAV; caching its failure would silently
    // null valid rows - the one way this optimization could corrupt
    // data at corpus scale.
    val corrupt = "RIFF".getBytes("US-ASCII") ++
      Array[Byte](40, 0, 0, 0) ++ "WAVE".getBytes("US-ASCII") ++
      Array.fill(32)(0x5A.toByte) // junk chunks: no provider accepts
    assert(graft.functions.PcmAudioGrid.decodeSamples(corrupt, 1) == null)
    val scans = graft.functions.PcmAudioGrid.fullScans.onThisThread
    // a second corrupt row pays the scan again (no negative entry)...
    assert(graft.functions.PcmAudioGrid.decodeSamples(corrupt, 1) == null)
    assert(graft.functions.PcmAudioGrid.fullScans.onThisThread == scans + 1,
      "RIFF/WAVE must never enter the negative cache")
    // ...and a valid WAV with the same magic still decodes
    val pcm = Array.tabulate(16)(i => i * 500)
    val raw = new Array[Byte](pcm.length * 2)
    pcm.zipWithIndex.foreach { case (v, i) =>
      raw(2 * i) = (v & 0xFF).toByte; raw(2 * i + 1) = ((v >> 8) & 0xFF).toByte
    }
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
    val out = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(
      new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(raw), fmt, pcm.length.toLong),
      javax.sound.sampled.AudioFileFormat.Type.WAVE, out)
    assert(graft.functions.PcmAudioGrid.decodeSamples(out.toByteArray, 4) != null,
      "valid WAV after a corrupt same-magic row must still decode")
  }
}
