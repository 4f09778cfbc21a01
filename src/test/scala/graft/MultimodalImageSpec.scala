package graft

import graft.llm.Multimodal

/** The REAL image codec leg: JDK javax.imageio decode feeding the 8x8
  * block-mean luma grid into the pHash machinery. Pins the codec
  * round-trip (encode through one real codec, decode through another),
  * the closed-form feature contract the DuckDB oracle replays, the
  * perceptual invariances a byte hash lacks, and the fail-loud /
  * quarantine behavior on junk payloads. */
class MultimodalImageSpec extends SparkSpec {
  import spark.implicits._

  // (id, base, xStep, yStep): max luma = base + 15*xStep + 15*yStep
  private def params = Seq(
    (1L, 10, 3, 2), (2L, 40, 5, 1), (3L, 0, 7, 4), (4L, 63, 1, 1))
    .toDF("asset_id", "c", "a", "b")

  private def withBytes(format: String) = params.withColumn("bytes",
    Multimodal.grayImageBytes($"c", $"a", $"b", 16, 16, format))

  test("decoded 8x8 grid of a real PNG equals the closed form " +
    "2a*gx + 2b*gy + c + (a+b)/2") {
    val got = withBytes("png")
      .select($"asset_id", $"c", $"a", $"b",
        Multimodal.imageLumaFeatures($"bytes").as("grid"))
      .as[(Long, Int, Int, Int, Seq[Long])].collect()
    assert(got.length == 4)
    got.foreach { case (_, c, a, b, grid) =>
      assert(grid.size == 64)
      for (gy <- 0 until 8; gx <- 0 until 8)
        assert(grid(gy * 8 + gx) ==
          2L * a * gx + 2L * b * gy + c + (a + b) / 2)
    }
  }

  test("cross-codec agreement: PNG and BMP encodings of the same " +
    "pixels decode to identical features and identical pHash") {
    val png = Multimodal.withImagePHash(withBytes("png"))
      .select($"asset_id", $"phash").as[(Long, Long)].collect().toMap
    val bmp = Multimodal.withImagePHash(withBytes("bmp"))
      .select($"asset_id", $"phash").as[(Long, Long)].collect().toMap
    assert(png == bmp && png.size == 4)
    // and the encodings genuinely differ at the byte level - the
    // agreement is through DECODE, not byte equality
    val pngBytes = withBytes("png").select($"asset_id", $"bytes")
      .as[(Long, Array[Byte])].collect().toMap
    val bmpBytes = withBytes("bmp").select($"asset_id", $"bytes")
      .as[(Long, Array[Byte])].collect().toMap
    assert(pngBytes.keySet.forall(k =>
      !java.util.Arrays.equals(pngBytes(k), bmpBytes(k))))
  }

  test("perceptual invariance: a uniform brightness shift leaves the " +
    "pHash unchanged; a different gradient lands far away") {
    def hash(c: Int, a: Int, b: Int): Long =
      Multimodal.withImagePHash(
        Seq((1L, c, a, b)).toDF("asset_id", "c", "a", "b")
          .withColumn("bytes",
            Multimodal.grayImageBytes($"c", $"a", $"b", 16, 16, "png")))
        .select($"phash").as[Long].head()
    val base = hash(10, 3, 2)
    // +9 brightness: every feature and the threshold shift together
    assert(hash(19, 3, 2) == base)
    // a transposed gradient (steeper in y than x) flips many bits
    val other = hash(10, 1, 7)
    assert(java.lang.Long.bitCount(base ^ other) > 8)
  }

  test("RGB re-encode with r=g=b decodes to the same features as the " +
    "grayscale original (BT.601 branch)") {
    // render the id-1 gradient as TYPE_INT_RGB and PNG-encode it here;
    // the expression must route through the RGB luma branch and still
    // agree with the single-band decode
    val (c, a, b) = (10, 3, 2)
    val img = new java.awt.image.BufferedImage(16, 16,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 16; x <- 0 until 16) {
      val l = c + a * x + b * y
      img.setRGB(x, y, (l << 16) | (l << 8) | l)
    }
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", out)
    val rgbGrid = graft.functions.ImageLumaGrid
      .compute(out.toByteArray, 8).toLongArray().toSeq
    val grayGrid = withBytes("png").filter($"asset_id" === 1L)
      .select(Multimodal.imageLumaFeatures($"bytes")).as[Seq[Long]].head()
    assert(rgbGrid == grayGrid)
  }

  test("junk payloads: imageDecodable screens them; the grid fails " +
    "loudly instead of hashing like a real image") {
    val junk = Seq((1L, "not an image at all".getBytes("UTF-8")))
      .toDF("asset_id", "bytes")
    val dec = junk.select(Multimodal.imageDecodable($"bytes"))
      .as[Boolean].head()
    assert(!dec)
    val e = intercept[Exception] {
      junk.select(Multimodal.imageLumaFeatures($"bytes")).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("undecodable image bytes")), e)
  }

  test("real-decode near-dup pairs: cross-codec duplicates pair at " +
    "hamming 0 through phashPairsFromHashes, unrelated images do not") {
    // orientation-diverse gradients (x-increasing, y-increasing, and
    // their decreasing mirrors): the pHash half-planes point in four
    // different directions, so only the planted cross-codec twins are
    // within hamming 2 - gradients of SIMILAR orientation would
    // legitimately hash close (that is what "perceptual" means), which
    // is why this fixture avoids them. a+b kept even so the (a+b)/2
    // closed-form term is exact for the negative slopes too.
    val p = Seq((1L, 10, 7, 1), (2L, 10, 1, 7),
        (3L, 120, -7, 1), (4L, 120, 1, -7))
      .toDF("asset_id", "c", "a", "b")
    def withBytes(format: String) = p.withColumn("bytes",
      Multimodal.grayImageBytes($"c", $"a", $"b", 16, 16, format))
    val pngs = withBytes("png")
    val bmpTwins = withBytes("bmp")
      .withColumn("asset_id", $"asset_id" + 100L)
    val hashed = Multimodal.withImagePHash(
        pngs.unionByName(bmpTwins).select($"asset_id", $"bytes"))
      .select($"asset_id", $"phash")
    val pairs = Multimodal.phashPairsFromHashes(hashed, maxHamming = 2)
      .as[(Long, Long, Int)].collect().toSet
    // each PNG pairs exactly with its BMP twin at hamming 0
    assert(Set((1L, 101L, 0), (2L, 102L, 0), (3L, 103L, 0),
      (4L, 104L, 0)).subsetOf(pairs))
    // no unrelated cross-pair sneaks in at hamming <= 2
    assert(pairs.forall { case (x, y, _) => y - x == 100L })
  }

  test("range guard is per-axis under mixed-sign steps: a gradient " +
    "whose true max exceeds 255 fails loudly instead of wrapping") {
    // base=250, xStep=2, yStep=-3 on 16x16: the naive base+xSpan+ySpan
    // bound is 250+30-45=235 <= 255, but the true max (at y=0, x=15)
    // is 280 - setSample would silently truncate mod 256, exactly the
    // closed-form breakage the guard exists to prevent
    val e = intercept[IllegalArgumentException] {
      graft.functions.GrayImageEncode.compute(250, 2, -3, 16, 16, "png")
    }
    assert(e.getMessage.contains("outside [0, 255]"), e.getMessage)
    // and the guard's min side still admits a legal all-negative
    // gradient, whose decoded grid matches the exact block-mean form
    val bytes = graft.functions.GrayImageEncode.compute(250, -3, -3, 16, 16, "png")
    val grid = Seq((1L, bytes)).toDF("asset_id", "bytes")
      .select(Multimodal.imageLumaFeatures($"bytes").as("grid"))
      .as[Seq[Long]].head()
    for (gy <- 0 until 8; gx <- 0 until 8)
      assert(grid(gy * 8 + gx) ==
        (4L * 250 + 2L * -3 * (4 * gx + 1) + 2L * -3 * (4 * gy + 1)) / 4,
        s"block ($gx,$gy)")
  }
}
