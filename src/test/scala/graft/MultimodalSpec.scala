package graft

import graft.operators.Multimodal
import graft.operators.Multimodal.DecodedImage

class MultimodalSpec extends SparkTestBase {

  test("synthetic-corpus PNG: closed-form raster roundtrips the real codec") {
    for (seed <- Seq(0L, 1L, 15L, 16L, 255L, 4999L)) {
      val png = Multimodal.encodePngGray(seed)
      // a real PNG stream: magic + IHDR
      assert(png.take(4).map(_ & 0xFF).toSeq == Seq(0x89, 0x50, 0x4E, 0x47))
      val img = Multimodal.decodeImage(png)
      val w = 1 + (seed % 16).toInt
      val h = 1 + ((seed / 16) % 16).toInt
      assert(img.width == w && img.height == h && img.channels == 1)
      assert(img.pixels.zipWithIndex.forall { case (p, i) =>
        (p & 0xFF) == ((seed * 31 + i * 7) % 256).toInt
      })
    }
  }

  test("imageMeta reads width/height/format from the header without decoding") {
    val (w, h, fmt) = Multimodal.imageMeta(Multimodal.encodePngGray(37L))
    assert(w == 1 + 37 % 16 && h == 1 + (37 / 16) % 16 && fmt == "png")
    // truncating the stream after the IHDR chunk still yields metadata:
    // proof the probe reads O(header), not the pixel data
    val full = Multimodal.encodePngGray(37L)
    val headerOnly = full.take(33) // magic(8) + IHDR len/type/body/crc(25)
    val (w2, h2, fmt2) = Multimodal.imageMeta(headerOnly)
    assert(w2 == w && h2 == h && fmt2 == "png")
    intercept[IllegalArgumentException](Multimodal.imageMeta(Array[Byte](1, 2, 3)))
  }

  test("nearest-neighbor resize: identity, downscale, upscale") {
    val img = DecodedImage(4, 4, 1, Array.tabulate[Byte](16)(_.toByte))
    assert(Multimodal.resizeNN(img, 4, 4).pixels.toSeq == img.pixels.toSeq)
    val down = Multimodal.resizeNN(img, 2, 2)
    assert(down.pixels.toSeq == Seq[Byte](0, 2, 8, 10)) // picks (0,0),(2,0),(0,2),(2,2)
    val up = Multimodal.resizeNN(img, 8, 8)
    assert(up.width == 8 && up.height == 8 && up.pixels.length == 64)
    assert(up.pixels(0) == 0 && up.pixels(63) == 15)
  }

  test("histogram buckets byte values") {
    val h = Multimodal.histogram(Array[Byte](0, 1, 32, -1), 8) // -1 = 255
    assert(h.toSeq == Seq(2L, 1L, 0L, 0L, 0L, 0L, 0L, 1L))
    assert(h.sum == 4)
  }

  test("AVI container: encode → parse returns every MJPEG frame byte-exact") {
    val avi = Multimodal.encodeAviMjpeg(7L)
    // RIFF/AVI magic and idx1 present (structural completeness)
    assert(new String(avi, 0, 4, "US-ASCII") == "RIFF" &&
           new String(avi, 8, 4, "US-ASCII") == "AVI ")
    val frames = Multimodal.aviFrames(avi)
    assert(frames.length == Multimodal.VideoFrames)
    // every frame chunk is a standalone JFIF the JDK codec decodes, and the
    // uniform gray roundtrips exactly: gray(f) = (7*31 + f*41) mod 256
    frames.zipWithIndex.foreach { case (fb, f) =>
      assert((fb(0) & 0xFF) == 0xFF && (fb(1) & 0xFF) == 0xD8, s"frame $f is not JPEG")
      val d = Multimodal.decodeImage(fb)
      assert(d.width == Multimodal.VideoW && d.height == Multimodal.VideoH && d.channels == 1)
      val g = java.lang.Math.floorMod(7L * 31 + f * 41, 256).toInt
      assert(d.pixels.forall(p => (p & 0xFF) == g), s"frame $f gray mismatch")
    }
    // non-AVI payloads fail loudly instead of silently chunking bytes
    intercept[Exception] { Multimodal.frameSample(Array.tabulate[Byte](100)(_.toByte), 4) }
  }

  test("uniform-gray JPEG roundtrips bit-exact for every gray (the m04 oracle premise)") {
    // uniform frames are DC-only blocks: quantized DC reconstructs the
    // exact level for all 256 values — this is what lets the m04 oracle
    // pin decoded pixel sums arithmetically despite JPEG lossiness
    (0 until 256).foreach { g =>
      val d = Multimodal.decodeImage(Multimodal.encodeJpegGray(16, 16, g))
      assert(d.pixels.forall(p => (p & 0xFF) == g), s"gray $g did not roundtrip")
    }
  }

  test("aviFrames: adversarial bytes throw or return cleanly, never crash out of bounds") {
    val rnd = new scala.util.Random(42)
    // random garbage (non-RIFF) must throw the typed require, not AIOOBE
    (0 until 200).foreach { _ =>
      val junk = Array.fill[Byte](rnd.nextInt(64))((rnd.nextInt(256) - 128).toByte)
      intercept[IllegalArgumentException] { Multimodal.aviFrames(junk) }
    }
    // RIFF/AVI magic + random tails: chunk sizes lie, LISTs truncate — the
    // parser must bound every access (frames found or not, but no crash)
    (0 until 500).foreach { _ =>
      val tail = Array.fill[Byte](rnd.nextInt(256))((rnd.nextInt(256) - 128).toByte)
      val payload = "RIFF".getBytes("US-ASCII") ++
        Array[Byte]((tail.length + 4).toByte, 0, 0, 0) ++
        "AVI ".getBytes("US-ASCII") ++ tail
      Multimodal.aviFrames(payload) // any return is fine; throwing AIOOBE is not
    }
    // truncating a REAL clip at every boundary parses what remains
    val avi = Multimodal.encodeAviMjpeg(11L)
    Seq(12, 50, avi.length / 2, avi.length - 3).foreach { cut =>
      Multimodal.aviFrames(java.util.Arrays.copyOf(avi, cut)) // must not crash
    }
    // crafted DEEP LIST nesting (one 12-byte header per level) must fail
    // with the typed require, not StackOverflowError — ~85k levels here
    // would otherwise exhaust the default 512k-frame stack
    val depth = 1 << 16
    val deep = new java.io.ByteArrayOutputStream()
    deep.write("RIFF".getBytes("US-ASCII"))
    val totalSz = 4 + depth * 12
    deep.write(Array[Byte](totalSz.toByte, (totalSz >> 8).toByte,
      (totalSz >> 16).toByte, (totalSz >> 24).toByte))
    deep.write("AVI ".getBytes("US-ASCII"))
    var remaining = depth * 12
    (0 until depth).foreach { _ =>
      deep.write("LIST".getBytes("US-ASCII"))
      val sz = remaining - 8
      deep.write(Array[Byte](sz.toByte, (sz >> 8).toByte, (sz >> 16).toByte, (sz >> 24).toByte))
      deep.write("movi".getBytes("US-ASCII"))
      remaining -= 12
    }
    val deepBytes = deep.toByteArray
    intercept[IllegalArgumentException] { Multimodal.aviFrames(deepBytes) }
    intercept[IllegalArgumentException] { Multimodal.aviMeta(deepBytes) }
  }

  test("aviMeta: header-only probe reads avih without decoding frames") {
    val avi = Multimodal.encodeAviMjpeg(5L)
    val (w, h, frames, usec) = Multimodal.aviMeta(avi)
    assert(w == Multimodal.VideoW && h == Multimodal.VideoH)
    assert(frames == Multimodal.VideoFrames && usec == 100000)
    // header probe agrees with the full container parse — two independent
    // paths over the same file
    assert(frames == Multimodal.aviFrames(avi).length)
    // a frame-less but headered AVI still probes; garbage still throws
    intercept[IllegalArgumentException] { Multimodal.aviMeta(Array[Byte](1, 2, 3)) }
    intercept[IllegalArgumentException] {
      // valid RIFF/AVI magic but no hdrl/avih → loud, not zeros
      Multimodal.aviMeta("RIFF".getBytes ++ Array[Byte](4, 0, 0, 0) ++ "AVI ".getBytes)
    }
  }

  test("frame sampling picks evenly spaced REAL frames: floor(i*count/n)") {
    val avi = Multimodal.encodeAviMjpeg(3L)
    val all = Multimodal.aviFrames(avi)
    val sampled = Multimodal.frameSample(avi, 4)
    assert(sampled.length == 4)
    // 6 frames sampled at n=4 → source indices 0, 1, 3, 4
    val expectIdx = Seq(0, 1, 3, 4)
    sampled.zip(expectIdx).foreach { case (fb, si) =>
      assert(java.util.Arrays.equals(fb, all(si)), s"sample should be source frame $si")
    }
    // n = count is identity; n > count repeats frames rather than failing
    assert(Multimodal.frameSample(avi, 6).zip(all).forall(p => java.util.Arrays.equals(p._1, p._2)))
    assert(Multimodal.frameSample(avi, 12).length == 12)
  }

  // ── REAL decode: javax.imageio PNGs through the same plumbing ──────────

  /** encode a grayscale raster as a real PNG via the JDK encoder. */
  private def grayPng(w: Int, h: Int, px: Array[Byte]): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    img.getRaster.setDataElements(0, 0, w, h, px)
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", out)
    out.toByteArray
  }

  private def rgbPng(w: Int, h: Int, rgb: Array[Int]): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    img.setRGB(0, 0, w, h, rgb, 0, w)
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", out)
    out.toByteArray
  }

  test("real decode: grayscale PNG is pixel-exact") {
    val px = Array.tabulate[Byte](16)(i => (i * 16).toByte) // 4×4 ramp
    val img = Multimodal.decodeImage(grayPng(4, 4, px))
    assert(img.width == 4 && img.height == 4 && img.channels == 1)
    assert(img.pixels.toSeq == px.toSeq)
  }

  test("real decode: RGB PNG keeps interleaved channel values exactly") {
    val rgb = Array(0xFF0000, 0x00FF00, 0x0000FF, 0x102030) // 2×2
    val img = Multimodal.decodeImage(rgbPng(2, 2, rgb))
    assert(img.width == 2 && img.height == 2 && img.channels == 3)
    assert(img.pixels.map(_ & 0xFF).toSeq == Seq(
      255, 0, 0,  0, 255, 0,
      0, 0, 255,  0x10, 0x20, 0x30))
  }

  test("real decode: 16-bit grayscale PNG widens to the high byte") {
    val img16 = new java.awt.image.BufferedImage(2, 2, java.awt.image.BufferedImage.TYPE_USHORT_GRAY)
    val samples = Array(0x0000, 0x1234, 0xABCD, 0xFFFF)
    img16.getRaster.setPixels(0, 0, 2, 2, samples)
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img16, "png", out)
    val img = Multimodal.decodeImage(out.toByteArray)
    assert(img.width == 2 && img.height == 2 && img.channels == 1)
    assert(img.pixels.map(_ & 0xFF).toSeq == samples.map(_ >> 8).toSeq)
  }

  test("real decode: palette PNG expands through the color table to RGB") {
    val palette = Array(0xFF0000, 0x00FF00, 0x0000FF, 0x102030)
    val icm = new java.awt.image.IndexColorModel(
      8, 4,
      palette.map(c => ((c >> 16) & 0xFF).toByte),
      palette.map(c => ((c >> 8) & 0xFF).toByte),
      palette.map(c => (c & 0xFF).toByte))
    val imgIdx = new java.awt.image.BufferedImage(2, 2,
      java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, icm)
    imgIdx.getRaster.setDataElements(0, 0, 2, 2, Array[Byte](0, 1, 2, 3))
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(imgIdx, "png", out)
    val img = Multimodal.decodeImage(out.toByteArray)
    assert(img.width == 2 && img.height == 2 && img.channels == 3)
    assert(img.pixels.map(_ & 0xFF).toSeq == Seq(
      255, 0, 0,  0, 255, 0,
      0, 0, 255,  0x10, 0x20, 0x30))
  }

  test("real decode: gray+alpha PNG takes the raw path (no gamma), 2 channels") {
    // PNG color type 4: gray + alpha. getRGB here would gamma-convert the
    // gray band (raw 16 → 71); the raw-sample path must keep it exact.
    val cs = java.awt.color.ColorSpace.getInstance(java.awt.color.ColorSpace.CS_GRAY)
    val cm = new java.awt.image.ComponentColorModel(cs, true, false,
      java.awt.Transparency.TRANSLUCENT, java.awt.image.DataBuffer.TYPE_BYTE)
    val raster = cm.createCompatibleWritableRaster(2, 2)
    val gray = Array(16, 100, 200, 255)
    val alpha = Array(255, 128, 64, 0)
    for (i <- 0 until 4) {
      raster.setSample(i % 2, i / 2, 0, gray(i))
      raster.setSample(i % 2, i / 2, 1, alpha(i))
    }
    val src = new java.awt.image.BufferedImage(cm, raster, false, null)
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(src, "png", out)
    val img = Multimodal.decodeImage(out.toByteArray)
    assert(img.width == 2 && img.height == 2 && img.channels == 2)
    assert(img.pixels.map(_ & 0xFF).toSeq ==
      gray.zip(alpha).flatMap { case (g, a) => Seq(g, a) }.toSeq)
  }

  test("phash64: closed-form reimplementation, duplicate seeds, luma path") {
    // independent recomputation of the aHash from the closed-form raster
    def expected(seed: Long): String = {
      val w = 1 + (seed % 16).toInt
      val h = 1 + ((seed / 16) % 16).toInt
      val cells = for (y <- 0 until 8; x <- 0 until 8)
        yield ((seed * 31 + ((y * h / 8) * w + x * w / 8) * 7) % 256).toInt
      val sum = cells.map(_.toLong).sum
      cells.map(c => if (c * 64L > sum) '1' else '0').mkString
    }
    for (seed <- Seq(0L, 7L, 100L, 255L, 256L, 499L)) {
      assert(Multimodal.phash64(Multimodal.encodePngGray(seed)) == expected(seed),
        s"seed $seed")
    }
    // seeds 256 apart raster identically (256*31 ≡ 0 mod 256) → same hash
    assert(Multimodal.phash64(Multimodal.encodePngGray(3L)) ==
      Multimodal.phash64(Multimodal.encodePngGray(259L)))
    // RGB path goes through integer luma; a red/blue checker must produce
    // bits only where luma beats the mean (red 76 > mean vs blue 29)
    val rgb = Array.fill(4)(0).zipWithIndex.map { case (_, i) =>
      if (i % 2 == 0) 0xFF0000 else 0x0000FF }
    val hash = Multimodal.phash64(rgbPng(2, 2, rgb))
    assert(hash.length == 64 && hash.contains('1') && hash.contains('0'))
    // 2×2 upscaled to 8×8: bit pattern must follow the checker columns
    val lumaRed = 255 * 299 / 1000
    val lumaBlue = 255 * 114 / 1000
    val mean4 = (2L * lumaRed + 2L * lumaBlue) // sum over 64 cells = 16*(lr+lb); p*64 > sum16 ⇔ p*4 > (lr+lb)
    for (y <- 0 until 8; x <- 0 until 8) {
      val src = if (x * 2 / 8 == 0) lumaRed else lumaBlue
      assert((hash(y * 8 + x) == '1') == (src * 4L > mean4), s"bit ($x,$y)")
    }
  }

  test("real decode: garbage bytes fail loudly") {
    val e = intercept[IllegalArgumentException] {
      Multimodal.decodeImage(Array[Byte](1, 2, 3, 4, 5))
    }
    assert(e.getMessage.contains("undecodable"))
  }

  test("real decode drives the m02 plumbing end-to-end (pixel-exact features)") {
    // two real PNGs as a payload column — the exact pipeline m02 runs with
    // the stub, now on real codec output
    val ramp = Array.tabulate[Byte](16)(i => (i * 16).toByte)
    val flat = Array.fill[Byte](16)(100)
    val rows = Seq((0L, grayPng(4, 4, ramp)), (1L, grayPng(4, 4, flat)))
    val df = spark.createDataFrame(rows).toDF("id", "payload")
    val out = Multimodal.imageFeatures(df, "payload", targetW = 2, targetH = 2,
      bins = 4, decoder = Multimodal.decodeImage).collect()

    val r0 = out.find(_.getLong(0) == 0L).get.getStruct(2)
    assert(r0.getInt(0) == 4 && r0.getInt(1) == 4)
    assert(r0.getLong(2) == ramp.map(_ & 0xFF).sum.toLong)          // pixel_sum
    // resize 4×4→2×2 picks (0,0),(2,0),(0,2),(2,2) = ramp(0,2,8,10)
    assert(r0.getLong(3) == Seq(0, 2, 8, 10).map(i => ramp(i) & 0xFF).sum.toLong)
    // histogram of the ramp over 4 bins of width 64: values 0..240 step 16
    assert(r0.getSeq[Long](4) == Seq(4L, 4L, 4L, 4L))

    val r1 = out.find(_.getLong(0) == 1L).get.getStruct(2)
    assert(r1.getLong(2) == 1600L && r1.getSeq[Long](4) == Seq(0L, 16L, 0L, 0L))
  }

  test("SQL surface: graft_media_decode struct on a real PNG") {
    val png = grayPng(3, 2, Array[Byte](10, 20, 30, 40, 50, 60))
    val df = spark.createDataFrame(Seq((1L, png))).toDF("id", "payload")
    df.createOrReplaceTempView("mm_real")
    val r = sql("""SELECT graft_media_decode(payload).width AS w,
                          graft_media_decode(payload).height AS h,
                          graft_media_decode(payload).channels AS c,
                          graft_media_decode(payload).pixels AS px
                   FROM mm_real""").head()
    assert(r.getInt(0) == 3 && r.getInt(1) == 2 && r.getInt(2) == 1)
    assert(r.getAs[Array[Byte]](3).toSeq == Seq[Byte](10, 20, 30, 40, 50, 60))
  }

  test("audio: real WAVE container roundtrip, header probe, exact stats") {
    import graft.operators.Multimodal
    val wav = Multimodal.encodeWavPcm16(5L, n = 4, rate = 8000)
    // the payload is a real RIFF/WAVE file the JDK parser accepts
    assert(new String(wav.take(4), "ASCII") == "RIFF")
    assert(Multimodal.audioMeta(wav) == ((8000, 1, 16, 4L)))
    // samples for seed 5: ((5*31 + i*i) % 2000) - 1000, i = 0..3
    // = -845, -844, -841, -836
    val (n, peak, sumAbs, sumSq) = Multimodal.audioStats(wav)
    assert(n == 4L && peak == 845)
    assert(sumAbs == 845 + 844 + 841 + 836)
    assert(sumSq == 845L * 845 + 844L * 844 + 841L * 841 + 836L * 836)
    // SQL surface: the statics are registered and compose
    val r = sql("""SELECT graft_audio_meta(graft_audio_wav(5)).frames AS f,
                          graft_audio_stats(graft_audio_wav(5)).n_samples AS n""").head()
    assert(r.getLong(0) == 256L && r.getLong(1) == 256L)
  }

  test("audioWindows: window split sums to full-clip stats; short tail window") {
    import graft.operators.Multimodal
    val wav = Multimodal.encodeWavPcm16(5L, n = 10, rate = 8000)
    val ws = Multimodal.audioWindows(wav, 4)
    // 10 samples at window 4 -> windows of 4, 4, 2
    assert(ws.map(_._1).toSeq == Seq(0, 1, 2))
    assert(ws.map(_._2).toSeq == Seq(4L, 4L, 2L))
    // windows partition the clip exactly: sums recompose the full stats
    val (n, peak, sumAbs, sumSq) = Multimodal.audioStats(wav)
    assert(ws.map(_._2).sum == n)
    assert(ws.map(_._3).max == peak)
    assert(ws.map(_._4).sum == sumAbs)
    assert(ws.map(_._5).sum == sumSq)
    // SQL surface explodes to one row per window
    val r = sql("""SELECT w.win_idx, w.n_samples
                   FROM (SELECT explode(graft_audio_windows(graft_audio_wav(5), 100)) AS w)""")
      .collect().map(x => (x.getInt(0), x.getLong(1)))
    assert(r.length == 3 && r(2) == ((2, 56L))) // 256 samples -> 100, 100, 56
  }

  test("audioResample: 2:1 floor-average decimation through the real codec") {
    import graft.operators.Multimodal
    // seed 5, 5 samples: -845, -844, -841, -836, -829
    val wav = Multimodal.encodeWavPcm16(5L, n = 5, rate = 8000)
    val res = Multimodal.audioResample(wav, 2)
    // re-encoded container: real RIFF at half the rate, trailing odd sample dropped
    assert(new String(res.take(4), "ASCII") == "RIFF")
    assert(Multimodal.audioMeta(res) == ((4000, 1, 16, 2L)))
    // floor-average pairs: floor((-845-844)/2) = -845 (floor, not trunc), floor((-841-836)/2) = -839
    val (n, peak, sumAbs, _) = Multimodal.audioStats(res)
    assert(n == 2L && peak == 845 && sumAbs == 845L + 839L)
    // factor 1 is a pure codec roundtrip: stats unchanged
    assert(Multimodal.audioStats(Multimodal.audioResample(wav, 1)) == Multimodal.audioStats(wav))
    // canonical 44-byte RIFF header + 2 bytes per sample
    assert(res.length == 44 + 2 * 2)
    intercept[IllegalArgumentException] { Multimodal.audioResample(wav, 0) }
    // round-11 advice fix: factors that would silently drift the rate fail
    // loudly — 3 doesn't divide 8000 (8000/3 → a 2666 Hz container), and a
    // factor above the rate would write a 0 Hz AudioFormat
    intercept[IllegalArgumentException] { Multimodal.audioResample(wav, 3) }
    intercept[IllegalArgumentException] { Multimodal.audioResample(wav, 8001) }
    // a factor that divides exactly still works (8000/4 = 2000 Hz)
    assert(Multimodal.audioMeta(Multimodal.audioResample(wav, 4))._1 == 2000)
  }

  test("imageFeatures pipeline: schema, null payload, value spot-check") {
    val df = spark.sql(
      "SELECT id, CASE WHEN id = 3 THEN CAST(NULL AS BINARY) ELSE graft_media_png(id) END AS payload FROM range(5)")
    val out = Multimodal.imageFeatures(df, "payload", targetW = 2, targetH = 2, bins = 4)
    assert(out.schema.fieldNames.toSeq == Seq("id", "payload", "features"))
    val rows = out.collect()
    assert(rows.length == 5)
    val nullRow = rows.find(_.getLong(0) == 3L).get
    assert(nullRow.isNullAt(2))
    val r0 = rows.find(_.getLong(0) == 0L).get.getStruct(2)
    val img = Multimodal.decodeImage(rows.find(_.getLong(0) == 0L).get.getAs[Array[Byte]](1))
    assert(r0.getInt(0) == img.width && r0.getInt(1) == img.height)
    assert(r0.getLong(2) == img.pixels.foldLeft(0L)((a, b) => a + (b & 0xFF)))
    assert(r0.getSeq[Long](4).sum == img.pixels.length) // histogram mass = npixels
  }
}
