package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class MultimodalSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def media = Multimodal.withMediaColumn(
    Seq((1L, "hello media"), (2L, "")).toDF("doc_id", "text"), "text")

  test("withMediaColumn attaches binary payload + typed metadata") {
    val r = media.select($"doc_id", octet_length($"media"), $"media_meta.n_bytes", $"media_meta.format")
      .as[(Long, Int, Long, String)].collect()
      .map(t => t._1 -> ((t._2, t._3, t._4))).toMap
    assert(r(1L) == ((11, 11L, "utf8-blob")))
    assert(r(2L) == ((0, 0L, "utf8-blob")))
  }

  test("decodeFeatures: deterministic stub features, schema appended") {
    val d = Multimodal.decodeFeatures(media, "media")
    assert(d.schema.fieldNames.takeRight(4).toSeq ==
      Seq("media_checksum", "n_bytes", "width", "height"))
    val rows = d.select($"doc_id", $"media_checksum", $"n_bytes", $"width", $"height")
      .as[(Long, String, Long, Int, Int)].collect().sortBy(_._1)
    val expectedCk = Multimodal.StubCodec.md5Hex("hello media".getBytes("UTF-8"))
    assert(rows(0)._2 == expectedCk && rows(0)._3 == 11L)
    assert(rows(0)._4 >= 16 && rows(0)._4 < 16 + 1024)
    // same run twice -> identical output (decode is pure)
    val again = Multimodal.decodeFeatures(media, "media")
      .select($"doc_id", $"media_checksum", $"n_bytes", $"width", $"height")
      .as[(Long, String, Long, Int, Int)].collect().sortBy(_._1)
    assert(rows.toSeq == again.toSeq)
  }

  test("resize preserves aspect ratio within the bounding box") {
    val d = Multimodal.resize(
      Seq((2000, 1000), (100, 50)).toDF("width", "height"), 256)
    val r = d.select($"width", $"out_w", $"out_h").as[(Int, Int, Int)].collect()
      .map(t => t._1 -> ((t._2, t._3))).toMap
    assert(r(2000) == ((256, 128))) // scaled down
    assert(r(100) == ((100, 50)))   // untouched, already inside box
  }

  test("sampleFrames explodes every stride-th frame index") {
    val base = Seq((1L, 10L)).toDF("doc_id", "n_bytes")
    val frames = Multimodal.sampleFrames(base, 4)
      .select($"frame_idx").as[Int].collect().toSeq
    assert(frames == Seq(0, 4, 8)) // n_frames = 10 % 240 + 1 = 11
  }

  // hand-crafted headers per the format specs — no codec lib anywhere
  private def png(w: Int, h: Int): Array[Byte] = {
    def be32(v: Int) = Array[Byte]((v >> 24).toByte, (v >> 16).toByte, (v >> 8).toByte, v.toByte)
    Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a) ++
      be32(13) ++ "IHDR".getBytes ++ be32(w) ++ be32(h) ++ Array[Byte](8, 2, 0, 0, 0)
  }
  private def gif(w: Int, h: Int): Array[Byte] =
    "GIF89a".getBytes ++ Array[Byte]((w & 0xff).toByte, (w >> 8).toByte,
      (h & 0xff).toByte, (h >> 8).toByte)
  private def wav(channels: Int, rate: Int, bits: Int): Array[Byte] = {
    def le16(v: Int) = Array[Byte]((v & 0xff).toByte, (v >> 8).toByte)
    def le32(v: Int) = Array[Byte]((v & 0xff).toByte, (v >> 8).toByte,
      (v >> 16).toByte, (v >> 24).toByte)
    "RIFF".getBytes ++ le32(36) ++ "WAVE".getBytes ++
      "fmt ".getBytes ++ le32(16) ++ le16(1) ++ le16(channels) ++ le32(rate) ++
      le32(rate * channels * bits / 8) ++ le16(channels * bits / 8) ++ le16(bits)
  }
  private def jpeg(w: Int, h: Int): Array[Byte] =
    Array[Byte](0xff.toByte, 0xd8.toByte, 0xff.toByte, 0xc0.toByte, 0, 17, 8) ++
      Array[Byte]((h >> 8).toByte, (h & 0xff).toByte, (w >> 8).toByte, (w & 0xff).toByte)

  private def bmp(w: Int, h: Int): Array[Byte] = {
    def le32(v: Int) = Array[Byte]((v & 0xff).toByte, (v >> 8).toByte,
      (v >> 16).toByte, (v >> 24).toByte)
    "BM".getBytes ++ Array.fill[Byte](12)(0) ++ le32(40) ++ le32(w) ++ le32(h)
  }

  test("HeaderCodec parses real PNG/GIF/WAV/JPEG headers, rejects garbage") {
    import Multimodal.HeaderCodec._
    assert(pngDims(png(640, 480)) == Some((640, 480)))
    assert(gifDims(gif(320, 200)) == Some((320, 200)))
    assert(bmpDims(bmp(800, 600)) == Some((800, 600)))
    assert(bmpDims(bmp(800, -600)) == Some((800, 600))) // top-down bitmap
    assert(wavMeta(wav(2, 44100, 16)) == Some((2, 44100, 16)))
    assert(jpegDims(jpeg(1920, 1080)) == Some((1920, 1080)))
    assert(sniff("just some text".getBytes) == ("unknown", 0, 0, 0, 0))
    assert(sniff(Array.empty[Byte]) == ("unknown", 0, 0, 0, 0))
    assert(sniff(png(1, 1).take(12)) == ("unknown", 0, 0, 0, 0)) // truncated
  }

  test("wavPcm16 + decodeWavAudio: REAL PCM decode, exact energy features") {
    import Multimodal.HeaderCodec._
    def le16b(v: Int) = Array[Byte]((v & 0xff).toByte, (v >> 8).toByte)
    def le32b(v: Int) = Array[Byte]((v & 0xff).toByte, (v >> 8).toByte,
      (v >> 16).toByte, (v >> 24).toByte)
    def pcmWav(rate: Int, ch: Int, samples: Array[Short]): Array[Byte] = {
      val data = samples.flatMap(s => le16b(s.toInt & 0xffff))
      "RIFF".getBytes ++ le32b(36 + data.length) ++ "WAVE".getBytes ++
        "fmt ".getBytes ++ le32b(16) ++ le16b(1) ++ le16b(ch) ++ le32b(rate) ++
        le32b(rate * ch * 2) ++ le16b(ch * 2) ++ le16b(16) ++
        "data".getBytes ++ le32b(data.length) ++ data
    }
    val samples = Array[Short](1000, -1000, 2000, -2000, 16000, -16000, 0, 32767)
    val wavBytes = pcmWav(8000, 2, samples)
    // the raw decode round-trips the exact samples
    val Some((ch, rate, decoded)) = wavPcm16(wavBytes)
    assert(ch == 2 && rate == 8000 && decoded.toSeq == samples.toSeq)
    // non-PCM (audioFormat=3 float) and truncated payloads → None, not throw
    val nonPcm = pcmWav(8000, 2, samples)
      .patch(20, le16b(3), 2) // audioFormat at offset 20
    assert(wavPcm16(nonPcm).isEmpty)
    assert(wavPcm16(wavBytes.take(30)).isEmpty)
    // distributed features: exact integer-accumulated energy
    val rows = Seq((1L, wavBytes), (2L, "not audio".getBytes),
      (3L, null.asInstanceOf[Array[Byte]])).toDF("id", "media")
    val got = Multimodal.decodeWavAudio(rows, "media")
      .select($"id", $"wav_channels", $"wav_rate", $"n_samples",
        $"duration_s", $"rms", $"peak")
      .collect().map(r => r.getLong(0) -> r).toMap
    val r1 = got(1L)
    assert(r1.getInt(1) == 2 && r1.getInt(2) == 8000 && r1.getLong(3) == 8L)
    assert(r1.getDouble(4) == 4.0 / 8000) // 8 samples / 2 ch / 8000 Hz
    val sumSq = samples.map(s => s.toLong * s).sum
    assert(r1.getDouble(5) == math.sqrt(sumSq.toDouble / 8) / 32768.0)
    assert(r1.getInt(6) == 32767)
    assert(got(2L).isNullAt(1) && got(3L).isNullAt(1)) // non-wav rows survive
  }

  test("wavMeta: chunk size near Int.MaxValue terminates the walk, no overflow") {
    // a crafted RIFF chunk size of 0x7ffffff8 used to overflow the chunk
    // offset to a negative index and throw ArrayIndexOutOfBoundsException —
    // corrupt blobs must come back None/unknown, never fail the task
    import Multimodal.HeaderCodec._
    def le32(v: Int) = Array[Byte]((v & 0xff).toByte, (v >> 8).toByte,
      (v >> 16).toByte, (v >> 24).toByte)
    val crafted = "RIFF".getBytes ++ le32(36) ++ "WAVE".getBytes ++
      "junk".getBytes ++ le32(0x7ffffff8) ++ Array.fill[Byte](32)(0)
    assert(wavMeta(crafted).isEmpty)
    assert(sniff(crafted)._1 == "unknown")
    // and a chunk merely claiming more bytes than remain also stops cleanly
    val truncated = "RIFF".getBytes ++ le32(36) ++ "WAVE".getBytes ++
      "junk".getBytes ++ le32(1000) ++ Array.fill[Byte](8)(0)
    assert(wavMeta(truncated).isEmpty)
  }

  test("decodeHeaders: distributed dispatch on magic bytes, unknowns survive") {
    val rows = Seq(
      (1L, png(640, 480)), (2L, gif(320, 200)), (3L, wav(1, 16000, 16)),
      (4L, jpeg(64, 32)), (5L, "plain text".getBytes), (6L, null)
    ).toDF("id", "media")
    val got = Multimodal.decodeHeaders(rows, "media")
      .select($"id", $"kind", $"width", $"height", $"channels", $"sample_rate")
      .as[(Long, String, Int, Int, Int, Int)].collect().toSet
    assert(got == Set(
      (1L, "png", 640, 480, 0, 0),
      (2L, "gif", 320, 200, 0, 0),
      (3L, "wav", 0, 0, 1, 16000),
      (4L, "jpeg", 64, 32, 0, 0),
      (5L, "unknown", 0, 0, 0, 0),
      (6L, "null", 0, 0, 0, 0)))
  }

  // ===== REAL image pixel decode (ImageCodec / decodeImageFeatures) ======

  /** Ground-truth features straight from the generator formula — computed
    * WITHOUT any image object, so agreement proves the encode→decode path
    * reproduced every pixel.
    */
  private def formulaFeatures(id: Long): (Int, Int, Long, Long, Long, Long, Long) = {
    val w = (8 + id % 24).toInt
    val h = (8 + (id / 24) % 24).toInt
    var sr = 0L; var sg = 0L; var sb = 0L; var peak = 0L
    for (y <- 0 until h; x <- 0 until w) {
      val r = (id * 31 + x * 7 + y * 13) % 256
      val g = (id + x.toLong * y) % 256
      val b = (x + 3 * y) % 256
      sr += r; sg += g; sb += b
      val lum = 299 * r + 587 * g + 114 * b
      if (lum > peak) peak = lum
    }
    (w, h, w.toLong * h, sr, sg, sb, peak)
  }

  test("ImageCodec: PNG and BMP round-trip reproduces every pixel (exact features)") {
    for (id <- Seq(0L, 1L, 7L, 23L, 24L, 500L, 12345L); fmt <- Seq("png", "bmp")) {
      val bytes = Multimodal.ImageCodec.encode(
        Multimodal.ImageCodec.synthImage(id), fmt)
      val img = Multimodal.ImageCodec.decode(bytes)
      assert(img.isDefined, s"ImageIO failed to decode its own $fmt output")
      assert(Multimodal.ImageCodec.features(img.get) == formulaFeatures(id),
        s"pixel features diverged for id=$id fmt=$fmt")
    }
  }

  test("ImageCodec: header-parsed dims agree with decoded dims for real payloads") {
    val bytes = Multimodal.ImageCodec.encode(
      Multimodal.ImageCodec.synthImage(42L), "png")
    val (w, h) = (Multimodal.ImageCodec.synthImage(42L).getWidth,
      Multimodal.ImageCodec.synthImage(42L).getHeight)
    assert(Multimodal.HeaderCodec.pngDims(bytes).contains((w, h)))
  }

  test("ImageCodec: JPEG decodes (lossy — dims only), corrupt bytes yield None") {
    // the JDK jpeg WRITER needs no external lib either; pixels are lossy so
    // only dimensions are asserted
    val src = Multimodal.ImageCodec.synthImage(99L)
    val jp = Multimodal.ImageCodec.encode(src, "jpg")
    val back = Multimodal.ImageCodec.decode(jp)
    assert(back.exists(i =>
      i.getWidth == src.getWidth && i.getHeight == src.getHeight))
    assert(Multimodal.ImageCodec.decode("not an image".getBytes).isEmpty)
    assert(Multimodal.ImageCodec.decode(jp.take(10)).isEmpty)
  }

  test("decodeImageFeatures: distributed real decode; nulls for undecodable") {
    val withImg = Multimodal.withImageColumn(
      Seq(2L, 3L, 60L).toDF("doc_id"), "doc_id")
    val decoded = Multimodal.decodeImageFeatures(withImg, "media")
      .select($"doc_id", $"img_w", $"img_h", $"n_px",
        $"sum_r", $"sum_g", $"sum_b", $"peak_lum")
      .as[(Long, Int, Int, Long, Long, Long, Long, Long)]
      .collect().map(t => t._1 -> ((t._2, t._3, t._4, t._5, t._6, t._7, t._8)))
      .toMap
    for (id <- Seq(2L, 3L, 60L)) {
      val (w, h, n, sr, sg, sb, pk) = formulaFeatures(id)
      assert(decoded(id) == ((w, h, n, sr, sg, sb, pk)))
    }
    // a corrupt payload row travels through as nulls, not a task failure
    val junk = Seq((1L, "garbage".getBytes), (2L, null.asInstanceOf[Array[Byte]]))
      .toDF("doc_id", "media")
    val nulls = Multimodal.decodeImageFeatures(junk, "media")
      .filter($"img_w".isNull && $"peak_lum".isNull).count()
    assert(nulls == 2L)
  }

  test("resizeNearest: identity at source size; exact integer source map up/down") {
    val img = Multimodal.ImageCodec.synthImage(7L)
    val (w, h) = (img.getWidth, img.getHeight)
    // identity: (x·w)/w = x — every pixel survives a same-size resize
    val same = Multimodal.ImageCodec.resizeNearest(img, w, h)
    assert(Multimodal.ImageCodec.features(same) ==
      Multimodal.ImageCodec.features(img))
    // hand-checked map for up- and down-scaling
    for ((tw, th) <- Seq((2 * w, 2 * h), (w / 2, h / 2), (5, 9))) {
      val out = Multimodal.ImageCodec.resizeNearest(img, tw, th)
      assert(out.getWidth == tw && out.getHeight == th)
      for (x <- 0 until tw; y <- 0 until th)
        assert(out.getRGB(x, y) == img.getRGB(x * w / tw, y * h / th),
          s"($x,$y) of ${tw}x$th")
    }
  }

  test("averageHash: independent reimplementation, strict above-mean, hi/lo non-negative") {
    import Multimodal.ImageCodec
    for (id <- Seq(0L, 7L, 41L, 123L)) {
      val img = ImageCodec.synthImage(id)
      val (w, h) = (img.getWidth, img.getHeight)
      // independent recomputation straight off the SOURCE raster via the
      // documented map: cell (x, y) samples (x·w/8, y·h/8)
      val lums = for (y <- 0 until 8; x <- 0 until 8) yield {
        val p = img.getRGB(x * w / 8, y * h / 8)
        299L * ((p >> 16) & 0xff) + 587L * ((p >> 8) & 0xff) + 114L * (p & 0xff)
      }
      val tot = lums.sum
      var (ehi, elo) = (0L, 0L)
      for (i <- 0 until 64 if lums(i) * 64L > tot)
        if (i < 32) elo |= 1L << i else ehi |= 1L << (i - 32)
      assert(ImageCodec.averageHash(img) == ((ehi, elo)), s"id $id")
      assert(ehi >= 0 && elo >= 0 && ehi < (1L << 32) && elo < (1L << 32))
    }
    // a flat image (every lum equals the mean — strict > nowhere) is all-zero
    val flat = new java.awt.image.BufferedImage(8, 8,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (x <- 0 until 8; y <- 0 until 8) flat.setRGB(x, y, 0x808080)
    assert(ImageCodec.averageHash(flat) == ((0L, 0L)))
  }

  test("synthImage with groups: same-class identical, odd class perturbs exactly the cell-(3,3) pixel") {
    import Multimodal.ImageCodec
    val groups = 40
    // ids 7, 47, 127 share base 7; 47 (47/40 = 1) and 127 (127/40 = 3)
    // are odd-class — identical to each other, differing from the base
    // only at (3w/8, 3h/8)
    val base = ImageCodec.synthImage(7L, groups)
    val v1 = ImageCodec.synthImage(47L, groups)
    val v2 = ImageCodec.synthImage(127L, groups)
    val (w, h) = (base.getWidth, base.getHeight)
    assert((0 until w).forall(x => (0 until h).forall(y =>
      v1.getRGB(x, y) == v2.getRGB(x, y))))
    val diffs = for (x <- 0 until w; y <- 0 until h
      if base.getRGB(x, y) != v1.getRGB(x, y)) yield (x, y)
    assert(diffs == Seq((3 * w / 8, 3 * h / 8)))
    assert((v1.getRGB(3 * w / 8, 3 * h / 8) & 0xffffff) == 0xffffff)
    // the perturbation lands in exactly one resized cell: hamming between
    // base and variant aHash stays small (the flipped cell + mean margin)
    val (bh, bl) = ImageCodec.averageHash(base)
    val (vh, vl) = ImageCodec.averageHash(v1)
    val ham = java.lang.Long.bitCount(bh ^ vh) + java.lang.Long.bitCount(bl ^ vl)
    assert(ham >= 1 && ham <= 8, s"hamming $ham")
    // the even classes of a family are the plain image of their base
    def pixels(img: java.awt.image.BufferedImage) =
      img.getRGB(0, 0, img.getWidth, img.getHeight, null, 0, img.getWidth).toSeq
    for (g <- Seq(7, groups); id <- 0L until 200L if (id / g) % 2 == 0)
      assert(pixels(ImageCodec.synthImage(id, g)) ==
        pixels(ImageCodec.synthImage(id % g)), s"id $id groups $g")
  }

  test("AudioCodec: synthWav round-trips through the real container; energy-delta hash reimplementation; variant = one clamped sample") {
    import Multimodal.{AudioCodec, HeaderCodec}
    for (id <- Seq(0L, 7L, 123L)) {
      val Some((ch, rate, samples)) = HeaderCodec.wavPcm16(AudioCodec.synthWav(id))
      assert(ch == 1 && rate == 8000)
      assert(samples.length == (64 + id % 192).toInt)
      // the documented sample formula, recomputed independently
      for (k <- samples.indices)
        assert(samples(k) == (((id * 13 + k.toLong * 7919) % 65536) - 32768).toShort)
      // hash: independent window/delta recomputation
      val n = samples.length
      val e = Array.fill(65)(0L)
      for (k <- 0 until n) e((k * 65 / n).toInt) += samples(k).toLong * samples(k)
      var (ehi, elo) = (0L, 0L)
      for (i <- 0 until 64 if e(i) > e(i + 1))
        if (i < 32) elo |= 1L << i else ehi |= 1L << (i - 32)
      assert(AudioCodec.energyDeltaHash(samples) == ((ehi, elo)), s"id $id")
    }
    // variant: same-class identical; odd class differs from base at exactly
    // sample n/2, and the fingerprint moves by at most 2 bits
    val groups = 8
    val Some((_, _, base)) = HeaderCodec.wavPcm16(AudioCodec.synthWav(3L, groups))
    val Some((_, _, v1)) = HeaderCodec.wavPcm16(AudioCodec.synthWav(11L, groups))
    val Some((_, _, v2)) = HeaderCodec.wavPcm16(AudioCodec.synthWav(27L, groups))
    assert(v1.toSeq == v2.toSeq)
    val diffs = base.indices.filter(k => base(k) != v1(k))
    assert(diffs == Seq(base.length / 2) || diffs.isEmpty) // equal if already 32767
    assert(v1(base.length / 2) == 32767)
    val (bh, bl) = AudioCodec.energyDeltaHash(base)
    val (vh, vl) = AudioCodec.energyDeltaHash(v1)
    assert(java.lang.Long.bitCount(bh ^ vh) + java.lang.Long.bitCount(bl ^ vl) <= 2)
    // the even classes of a family are the plain clip of their base
    for (g <- Seq(groups, 7, 40); id <- 0L until 200L if (id / g) % 2 == 0)
      assert(AudioCodec.synthWav(id, g).sameElements(AudioCodec.synthWav(id % g)),
        s"id $id groups $g")
    // distributed fingerprints: non-PCM and null payloads yield nulls
    val rows = Seq((1L, AudioCodec.synthWav(1L)), (2L, "junk".getBytes),
      (3L, null.asInstanceOf[Array[Byte]])).toDF("id", "media")
    val got = Multimodal.decodeAudioFingerprint(rows, "media")
      .select($"id", $"n_samples", $"af_hi", $"af_lo")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(got(1L).getLong(1) == 65L)
    assert(got(2L).isNullAt(1) && got(3L).isNullAt(2))
  }

  test("decodeVideoKeyframeAHash: middle-frame Y grid reimplementation; corrupt payloads null") {
    import Multimodal.VideoCodec
    val rows = Seq((7L, VideoCodec.synthY4m(7L)),
      (41L, VideoCodec.synthY4m(41L)),
      (2L, "YUV4MPEG2 garbage".getBytes("US-ASCII"))).toDF("id", "media")
    val got = Multimodal.decodeVideoKeyframeAHash(rows, "media")
      .select($"id", $"vid_w", $"vid_h", $"n_frames", $"kf", $"kf_hi", $"kf_lo")
      .collect().map(r => r.getLong(0) -> r).toMap
    for (id <- Seq(7L, 41L)) {
      val Some((w, h, _, _, offs)) = VideoCodec.parseY4m(VideoCodec.synthY4m(id))
      val m = offs.length / 2
      // independent recomputation from the documented synth formula +
      // the nearest map (sub-8x8 planes: several cells sample one pixel)
      val lums = for (cy <- 0 until 8; cx <- 0 until 8)
        yield (id * 17 + m * 29 + (cx * w / 8) * 5 + (cy * h / 8) * 11) % 256
      val tot = lums.sum
      var (ehi, elo) = (0L, 0L)
      for (i <- 0 until 64 if lums(i) * 64L > tot)
        if (i < 32) elo |= 1L << i else ehi |= 1L << (i - 32)
      val r = got(id)
      assert(r.getInt(1) == w && r.getInt(2) == h && r.getInt(4) == m)
      assert(r.getLong(5) == ehi && r.getLong(6) == elo, s"id $id")
    }
    assert(got(2L).isNullAt(1) && got(2L).isNullAt(5))
    // the keyframe hash is the every-frame hash at frame n_frames / 2
    val frames = Multimodal.decodeVideoFrameAHashes(rows, "media", 1)
      .select($"id", $"n_frames", $"frame_idx", $"fr_hi", $"fr_lo")
      .collect()
    for (id <- Seq(7L, 41L)) {
      val mid = frames.filter(f => f.getLong(0) == id &&
        f.getInt(2) == f.getInt(1) / 2)
      assert(mid.length == 1, s"id $id")
      assert(mid(0).getLong(3) == got(id).getLong(5) &&
        mid(0).getLong(4) == got(id).getLong(6), s"id $id")
    }
  }

  test("VideoCodec: y4m parse round-trip; corrupt containers rejected; sampled features exact") {
    import Multimodal.VideoCodec
    for (id <- Seq(0L, 7L, 41L)) {
      val bytes = VideoCodec.synthY4m(id)
      val Some((w, h, fn, fd, offs)) = VideoCodec.parseY4m(bytes)
      assert(w == 4 + 2 * (id % 6) && h == 4 + 2 * ((id / 6) % 6))
      assert(fn == 25 && fd == 1)
      assert(offs.length == 3 + id % 5)
      // Y plane of frame f at (x, y) replays the generator formula
      for (f <- offs.indices; x <- 0 until w; y <- 0 until h)
        assert((bytes(offs(f) + y * w + x) & 0xff) ==
          (id * 17 + f * 29 + x * 5 + y * 11) % 256)
    }
    // corrupt containers are data, not exceptions
    val good = VideoCodec.synthY4m(3L)
    assert(VideoCodec.parseY4m(null).isEmpty)
    assert(VideoCodec.parseY4m("MPEG".getBytes).isEmpty)
    assert(VideoCodec.parseY4m(good.dropRight(1)).isEmpty)  // truncated frame
    val badMarker = good.clone(); badMarker(good.indexOf('\n'.toByte) + 1) = 'X'
    assert(VideoCodec.parseY4m(badMarker).isEmpty)
    // non-4:2:0 colorspaces are rejected EXPLICITLY (the header tag, not
    // length-arithmetic accident): same payload, C tag rewritten
    def withCspace(c: String): Array[Byte] = {
      val nl = good.indexOf('\n'.toByte)
      val hdr = new String(good, 0, nl, "US-ASCII").replace("C420", c)
      (hdr + "\n").getBytes("US-ASCII") ++ good.drop(nl + 1)
    }
    for (c <- Seq("C444", "C422", "C420p10", "Cmono"))
      assert(VideoCodec.parseY4m(withCspace(c)).isEmpty, c)
    for (c <- Seq("C420", "C420jpeg", "C420mpeg2", "C420paldv"))
      assert(VideoCodec.parseY4m(withCspace(c)).nonEmpty, c)
    // the even classes of a re-cut family are the plain clip of their base
    for (g <- Seq(7, 40); id <- 0L until 200L if (id / g) % 2 == 0)
      assert(VideoCodec.synthY4m(id, g).sameElements(VideoCodec.synthY4m(id % g)),
        s"id $id groups $g")
    // an absent C tag defaults to 4:2:0 per the y4m spec
    val nl = good.indexOf('\n'.toByte)
    val hdrNoC = new String(good, 0, nl, "US-ASCII").replace(" C420", "")
    assert(VideoCodec.parseY4m(
      (hdrNoC + "\n").getBytes("US-ASCII") ++ good.drop(nl + 1)).nonEmpty)
    // distributed sampled features: every-2nd vs every frame
    val df = Seq(3L, 10L).toDF("doc_id")
    val withVid = Multimodal.withVideoColumn(df, "doc_id")
    def feats(every: Int) =
      Multimodal.decodeVideoFeatures(withVid, "media", every)
        .select($"doc_id", $"n_frames", $"n_sampled", $"sum_y")
        .as[(Long, Int, Int, Long)].collect().map(t => t._1 -> t).toMap
    def expected(id: Long, every: Int): (Int, Int, Long) = {
      val w = (4 + 2 * (id % 6)).toInt; val h = (4 + 2 * ((id / 6) % 6)).toInt
      val nf = (3 + id % 5).toInt
      val fs = 0 until nf by every
      val sum = (for (f <- fs; x <- 0 until w; y <- 0 until h)
        yield (id * 17 + f * 29 + x * 5 + y * 11) % 256).sum
      (nf, fs.size, sum)
    }
    for (every <- Seq(1, 2); id <- Seq(3L, 10L)) {
      val (nf, ns, sum) = expected(id, every)
      assert(feats(every)(id) == ((id, nf, ns, sum)), s"id $id every $every")
    }
  }

  test("every decoder quarantines null and garbage payloads: inputs pass through, documented row") {
    val garbage = "garbage".getBytes("US-ASCII")
    val junk = Seq((1L, null.asInstanceOf[Array[Byte]]), (2L, garbage))
      .toDF("id", "media")
    def nulls(n: Int): Seq[Any] = Seq.fill(n)(null)
    // (decoder, its appended columns for the null payload, for the garbage one)
    val cases: Seq[(String, DataFrame => DataFrame, Seq[Any], Seq[Any])] = Seq(
      ("decodeFeatures", Multimodal.decodeFeatures(_, "media"),
        Seq(null, 0L, 0, 0),
        Multimodal.StubCodec.decode(garbage).productIterator.toSeq),
      ("decodeHeaders", Multimodal.decodeHeaders(_, "media"),
        Seq("null", 0, 0, 0, 0), Seq("unknown", 0, 0, 0, 0)),
      ("decodeImageFeatures", Multimodal.decodeImageFeatures(_, "media"),
        nulls(7), nulls(7)),
      ("decodeImageFeatures resized", Multimodal.decodeImageFeatures(_, "media",
        resizeTo = Some((16, 16))), nulls(7), nulls(7)),
      ("decodeImageAHash", Multimodal.decodeImageAHash(_, "media"),
        nulls(4), nulls(4)),
      ("decodeAudioFingerprint", Multimodal.decodeAudioFingerprint(_, "media"),
        nulls(3), nulls(3)),
      ("decodeWavAudio", Multimodal.decodeWavAudio(_, "media"),
        nulls(6), nulls(6)),
      ("decodeVideoFeatures", Multimodal.decodeVideoFeatures(_, "media", 2),
        nulls(6), nulls(6)),
      ("decodeVideoKeyframeAHash", Multimodal.decodeVideoKeyframeAHash(_, "media"),
        nulls(6), nulls(6)),
      ("decodeVideoFrameAHashes", Multimodal.decodeVideoFrameAHashes(_, "media", 2),
        nulls(6), nulls(6)))
    for ((name, decode, onNull, onGarbage) <- cases) {
      val out = decode(junk)
      assert(out.schema.fieldNames.take(2).toSeq == Seq("id", "media"), name)
      val rows = out.collect()
      assert(rows.length == 2, name) // one row per input, never dropped
      val byId = rows.map(r => r.getLong(0) -> r.toSeq.drop(1)).toMap
      assert(byId(1L).head == null, name)
      assert(byId(2L).head.asInstanceOf[Array[Byte]].sameElements(garbage), name)
      assert(byId(1L).tail == onNull, name)
      assert(byId(2L).tail == onGarbage, name)
    }
  }
}
