package graft.operators

import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing: image/audio/video as opaque `binary` columns
  * with typed metadata, plus decode / feature-extract / resize / frame-sample
  * stages as distributed per-partition batch passes.
  *
  * Header-metadata extraction ([[HeaderCodec]]/[[decodeHeaders]]) is REAL —
  * PNG/GIF/BMP/WAV/JPEG headers are parsed byte-by-byte from the format
  * specs, no codec library needed. Audio decode is REAL for 16-bit PCM WAV
  * ([[HeaderCodec.wavPcm16]]). Image PIXEL decode is REAL too
  * ([[ImageCodec]]/[[decodeImageFeatures]]): the JDK ships PNG/GIF/BMP/JPEG
  * codecs in `javax.imageio`, no external library needed — decoded pixels
  * reduce to exact-integer features (channel sums, peak luminance) a SQL
  * oracle replays against synthesized ground-truth images. The only fake
  * left is [[StubCodec]], kept as the md5-derived OPAQUE-blob fixture for
  * the resize/frame-sample plumbing gate (its payloads are utf-8 text, not
  * media — nothing there to decode).
  *
  * At 100 TB these stages are narrow `mapPartitions` passes: no shuffle, no
  * driver collection; partition sizing is inherited from the scan
  * (`spark.sql.files.maxPartitionBytes`), which is exactly how you want
  * binary-blob decode parallelized on a 1000-executor cluster.
  */
object Multimodal {

  /** Decoded-media schema appended by [[decodeFeatures]]. */
  val featureSchema: StructType = StructType(Seq(
    StructField("media_checksum", StringType),
    StructField("n_bytes", LongType),
    StructField("width", IntegerType),
    StructField("height", IntegerType)))

  /** Deterministic md5-derived pseudo-dimensions for OPAQUE (non-media)
    * blobs — the oracle-replayable fixture behind the resize/frame-sample
    * PLUMBING gate (q37), whose payloads are utf-8 text bytes with nothing
    * to decode. Real image pixel decode is [[ImageCodec]] /
    * [[decodeImageFeatures]].
    */
  object StubCodec {
    private val md5 = new ThreadLocal[MessageDigest] {
      override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
    }

    def md5Hex(bytes: Array[Byte]): String =
      md5.get().digest(bytes).map("%02x".format(_)).mkString

    /** (checksum, nBytes, width, height) — width/height are pure functions
      * of the checksum so a SQL oracle can reproduce them.
      */
    def decode(payload: Array[Byte]): (String, Long, Int, Int) = {
      val h = md5Hex(payload)
      val w = 16 + (java.lang.Long.parseLong(h.substring(0, 4), 16) % 1024).toInt
      val ht = 16 + (java.lang.Long.parseLong(h.substring(4, 8), 16) % 1024).toInt
      (h, payload.length.toLong, w, ht)
    }
  }

  /** REAL header parsing for the common container formats — pure
    * format-spec byte walking, no codec library involved, so unlike
    * [[StubCodec]] this is not a stub: dimensions/audio parameters come
    * from the actual file headers. Pixel/sample DECODING stays out of
    * scope (no codec libs in this container); header metadata is the part
    * a curation pipeline actually filters on (resolution gates, sample-
    * rate gates, format mix stats) before spending GPU decode time.
    */
  object HeaderCodec {
    private def be32(b: Array[Byte], i: Int): Int =
      ((b(i) & 0xff) << 24) | ((b(i + 1) & 0xff) << 16) |
        ((b(i + 2) & 0xff) << 8) | (b(i + 3) & 0xff)
    private def be16(b: Array[Byte], i: Int): Int =
      ((b(i) & 0xff) << 8) | (b(i + 1) & 0xff)
    private def le32(b: Array[Byte], i: Int): Int =
      (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8) |
        ((b(i + 2) & 0xff) << 16) | ((b(i + 3) & 0xff) << 24)
    private def le16(b: Array[Byte], i: Int): Int =
      (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8)

    /** PNG: 8-byte signature, IHDR chunk; big-endian dims at 16/20. */
    def pngDims(b: Array[Byte]): Option[(Int, Int)] =
      if (b.length >= 24 && (b(0) & 0xff) == 0x89 && b(1) == 'P' &&
          b(2) == 'N' && b(3) == 'G' && b(12) == 'I' && b(13) == 'H' &&
          b(14) == 'D' && b(15) == 'R')
        Some((be32(b, 16), be32(b, 20)))
      else None

    /** GIF87a/89a: little-endian u16 logical-screen dims at 6/8. */
    def gifDims(b: Array[Byte]): Option[(Int, Int)] =
      if (b.length >= 10 && b(0) == 'G' && b(1) == 'I' && b(2) == 'F' &&
          b(3) == '8' && (b(4) == '7' || b(4) == '9') && b(5) == 'a')
        Some((le16(b, 6), le16(b, 8)))
      else None

    /** BMP: "BM" + BITMAPINFOHEADER; signed le32 dims at 18/22 (height may
      * be negative for top-down bitmaps — absolute value is the size).
      */
    def bmpDims(b: Array[Byte]): Option[(Int, Int)] =
      if (b.length >= 26 && b(0) == 'B' && b(1) == 'M' && le32(b, 14) >= 40)
        Some((le32(b, 18), math.abs(le32(b, 22))))
      else None

    /** WAV: RIFF/WAVE container, walk chunks to 'fmt ' →
      * (channels, sampleRate, bitsPerSample).
      */
    def wavMeta(b: Array[Byte]): Option[(Int, Int, Int)] = {
      if (b.length < 12 || b(0) != 'R' || b(1) != 'I' || b(2) != 'F' ||
          b(3) != 'F' || b(8) != 'W' || b(9) != 'A' || b(10) != 'V' ||
          b(11) != 'E') return None
      var i = 12
      while (i + 8 <= b.length) {
        val size = le32(b, i + 4)
        if (b(i) == 'f' && b(i + 1) == 'm' && b(i + 2) == 't' && b(i + 3) == ' ') {
          return if (i + 8 + 16 <= b.length && size >= 16)
            Some((le16(b, i + 10), le32(b, i + 12), le16(b, i + 22)))
          else None
        }
        // a crafted size near Int.MaxValue would overflow the offset to a
        // negative index (the guard `i + 8 <= b.length` stays true for
        // negative i); any chunk claiming more bytes than remain means the
        // next header is past the buffer — corrupt, stop the walk
        if (size < 0 || size.toLong > b.length.toLong - i - 8) return None
        i += 8 + size + (size & 1) // chunks are word-aligned
      }
      None
    }

    /** REAL full decode for 16-bit PCM WAV — PCM needs no codec library,
      * the data chunk IS the samples (little-endian int16, channels
      * interleaved). Returns (channels, sampleRate, samples) or None for
      * anything that is not int16 PCM (audioFormat ≠ 1, other bit depths,
      * truncated/corrupt containers). The audio sibling of [[ImageCodec]]'s
      * pixel decode — both halves of the media pipeline decode for real.
      */
    def wavPcm16(b: Array[Byte]): Option[(Int, Int, Array[Short])] = {
      if (b.length < 12 || b(0) != 'R' || b(1) != 'I' || b(2) != 'F' ||
          b(3) != 'F' || b(8) != 'W' || b(9) != 'A' || b(10) != 'V' ||
          b(11) != 'E') return None
      var i = 12
      var fmt: Option[(Int, Int, Int, Int)] = None // (audioFmt, ch, rate, bits)
      var data: Option[(Int, Int)] = None // (offset, size)
      while (i + 8 <= b.length && (fmt.isEmpty || data.isEmpty)) {
        val size = le32(b, i + 4)
        if (size < 0 || size.toLong > b.length.toLong - i - 8) return None
        if (b(i) == 'f' && b(i + 1) == 'm' && b(i + 2) == 't' && b(i + 3) == ' ') {
          if (size < 16) return None
          fmt = Some((le16(b, i + 8), le16(b, i + 10), le32(b, i + 12), le16(b, i + 22)))
        } else if (b(i) == 'd' && b(i + 1) == 'a' && b(i + 2) == 't' && b(i + 3) == 'a') {
          data = Some((i + 8, size))
        }
        i += 8 + size + (size & 1) // chunks are word-aligned
      }
      (fmt, data) match {
        case (Some((1, ch, rate, 16)), Some((off, sz))) if ch > 0 && rate > 0 =>
          val n = sz / 2
          val out = new Array[Short](n)
          var j = 0
          while (j < n) {
            out(j) = ((b(off + 2 * j) & 0xff) | (b(off + 2 * j + 1) << 8)).toShort
            j += 1
          }
          Some((ch, rate, out))
        case _ => None
      }
    }

    /** JPEG: walk markers to the first SOF0-SOF15 frame header →
      * (width, height) from its big-endian fields.
      */
    def jpegDims(b: Array[Byte]): Option[(Int, Int)] = {
      if (b.length < 4 || (b(0) & 0xff) != 0xff || (b(1) & 0xff) != 0xd8)
        return None
      var i = 2
      while (i + 4 <= b.length) {
        if ((b(i) & 0xff) != 0xff) return None
        val marker = b(i + 1) & 0xff
        if (marker == 0xd8 || marker == 0x01 ||
            (marker >= 0xd0 && marker <= 0xd7)) { i += 2 } // no-payload markers
        else {
          val size = be16(b, i + 2)
          if (size < 2) return None
          val isSof = marker >= 0xc0 && marker <= 0xcf &&
            marker != 0xc4 && marker != 0xc8 && marker != 0xcc
          if (isSof) {
            return if (i + 9 <= b.length) Some((be16(b, i + 7), be16(b, i + 5)))
            else None
          }
          i += 2 + size
        }
      }
      None
    }

    /** Dispatch on magic bytes → (kind, width, height, channels, rate). */
    def sniff(b: Array[Byte]): (String, Int, Int, Int, Int) = {
      if (b == null) return ("null", 0, 0, 0, 0)
      pngDims(b).map { case (w, h) => ("png", w, h, 0, 0) }
        .orElse(gifDims(b).map { case (w, h) => ("gif", w, h, 0, 0) })
        .orElse(bmpDims(b).map { case (w, h) => ("bmp", w, h, 0, 0) })
        .orElse(jpegDims(b).map { case (w, h) => ("jpeg", w, h, 0, 0) })
        .orElse(wavMeta(b).map { case (c, r, _) => ("wav", 0, 0, c, r) })
        .getOrElse(("unknown", 0, 0, 0, 0))
    }
  }

  /** The base id and the odd-class flag of a non-negative `id` in a
    * NEAR-DUPLICATE variant family of `groups` bases, shared by the three
    * synthesizers: ids sharing id % groups are the same base, and ids with
    * (id / groups) odd carry the family's one planted perturbation, so
    * same-class members are IDENTICAL. groups = 0 is the plain family:
    * every id is its own base and none is perturbed.
    */
  private def variantOf(codec: String, id: Long, groups: Int): (Long, Boolean) = {
    require(id >= 0, s"$codec is defined for non-negative ids")
    require(groups >= 0, s"$codec: groups must be >= 0 (0 = the plain family)")
    if (groups == 0) (id, false) else (id % groups, (id / groups) % 2 == 1)
  }

  /** Sets bit i (0 ≤ i < 64) iff `bit(i)` and returns the bits as the
    * (hi, lo) 32-bit halves, bit i < 32 in lo: bit 63 of a single long
    * would be sign-hostile to bit arithmetic in BOTH Spark SQL and the
    * oracle, while two non-negative 32-bit halves shift/xor safely
    * everywhere. The carry every fingerprint here shares, so pairs and the
    * stored lifecycle ([[Dedup.ahashPairs]] / the aHash index) serve all
    * three modalities.
    */
  private def packBits(bit: Int => Boolean): (Long, Long) = {
    var hi = 0L
    var lo = 0L
    var i = 0
    while (i < 64) {
      if (bit(i)) {
        if (i < 32) lo |= 1L << i else hi |= 1L << (i - 32)
      }
      i += 1
    }
    (hi, lo)
  }

  /** The aHash bits of an 8×8 luma grid: bit i iff 64·lum_i > Σlum — the
    * strict-inequality integer form of "above the mean", so no division
    * and no float boundary exists for engines to diverge on.
    */
  private def aboveMeanBits(lum: Array[Long]): (Long, Long) = {
    val tot = lum.sum
    packBits(i => lum(i) * 64L > tot)
  }

  /** REAL image pixel codec on JDK `javax.imageio` — the PNG/GIF/BMP/JPEG
    * readers and PNG/BMP writers ship with the JRE, so no external codec
    * library is involved. Decode returns the full pixel raster; features
    * reduce it to EXACT integers (per-channel sums, pixel count, peak
    * ITU-601 luminance numerator) so a SQL oracle can replay them for
    * synthesized images and any codec corruption breaks a hash gate.
    */
  object ImageCodec {
    // ImageIO's default stream cache spills every decode through a temp
    // FILE — at blob-scan scale that is a disk write per image; keep the
    // whole decode in memory
    javax.imageio.ImageIO.setUseCache(false)

    /** Deterministic synthetic RGB image for a non-negative id, drawn from
      * its base ([[variantOf]]; base = id when groups = 0):
      * w = 8 + base%24, h = 8 + (base/24)%24, pixel (x, y) = (r, g, b) =
      * ((base·31 + x·7 + y·13)%256, (base + x·y)%256, (x + 3y)%256).
      * Pure integer arithmetic — the ground truth an oracle reproduces
      * without decoding anything.
      *
      * The odd classes of a variant family additionally white out the
      * single source pixel the 8×8 resize samples for cell (3, 3) —
      * (3w/8, 3h/8), which no other cell samples because ⌊x·w/8⌋ is
      * strictly increasing for w ≥ 8 — so variants of one base differ
      * from it by that flipped cell plus whatever mean-marginal cells
      * move. An oracle replays the perturbed cell as CASE (x, y) = (3, 3).
      */
    def synthImage(id: Long, groups: Int = 0): java.awt.image.BufferedImage = {
      val (base, odd) = variantOf("synthImage", id, groups)
      val w = (8 + base % 24).toInt
      val h = (8 + (base / 24) % 24).toInt
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val r = ((base * 31 + x * 7 + y * 13) % 256).toInt
          val g = ((base + x.toLong * y) % 256).toInt
          val b = (x + 3 * y) % 256
          img.setRGB(x, y, (r << 16) | (g << 8) | b)
          x += 1
        }
        y += 1
      }
      if (odd) img.setRGB(3 * w / 8, 3 * h / 8, 0xffffff)
      img
    }

    /** Encode through a real JDK writer ("png"/"bmp" are lossless). */
    def encode(img: java.awt.image.BufferedImage, format: String): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      require(javax.imageio.ImageIO.write(img, format, bos),
        s"no ImageIO writer for format $format")
      bos.toByteArray
    }

    /** Decode any ImageIO-supported payload; None for corrupt/unsupported
      * bytes (corrupt blobs are data, not exceptions, at 100 TB).
      */
    def decode(payload: Array[Byte]): Option[java.awt.image.BufferedImage] =
      try Option(javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(payload)))
      catch { case scala.util.control.NonFatal(_) => None }

    /** Nearest-neighbor resize with the PURE-INTEGER source map
      * sx = ⌊x·w/tw⌋, sy = ⌊y·h/th⌋ — deterministic (no float kernel, no
      * rounding mode), covers up- AND down-scaling, identity when
      * (tw, th) = (w, h), and a SQL oracle replays the map exactly.
      * Graphics2D interpolation is deliberately NOT used: its scaling is
      * renderer-dependent, which would put a non-replayable step in the
      * middle of a hash-gated pipeline.
      */
    def resizeNearest(img: java.awt.image.BufferedImage,
        tw: Int, th: Int): java.awt.image.BufferedImage = {
      require(tw >= 1 && th >= 1)
      val w = img.getWidth
      val h = img.getHeight
      val out = new java.awt.image.BufferedImage(
        tw, th, java.awt.image.BufferedImage.TYPE_INT_RGB)
      val src = img.getRGB(0, 0, w, h, null, 0, w)
      var y = 0
      while (y < th) {
        val sy = y * h / th
        var x = 0
        while (x < tw) {
          out.setRGB(x, y, src(sy * w + x * w / tw))
          x += 1
        }
        y += 1
      }
      out
    }

    /** Perceptual AVERAGE HASH (aHash) — the pHash-family fingerprint
      * image-dedup pipelines run at corpus scale (LAION deduplicated on
      * perceptual hashes; the classic recipe is Krawetz's aHash): resize
      * to the 8×8 grid through the EXACT-INTEGER nearest map
      * ([[resizeNearest]]), reduce each cell to the ITU-601 luma
      * NUMERATOR 299r + 587g + 114b, and set bit i = y·8 + x iff the cell
      * is above the mean ([[aboveMeanBits]]), carried as (hi, lo)
      * ([[packBits]]).
      */
    def averageHash(img: java.awt.image.BufferedImage): (Long, Long) = {
      val px = resizeNearest(img, 8, 8).getRGB(0, 0, 8, 8, null, 0, 8)
      aboveMeanBits(px.map(p => 299L * ((p >> 16) & 0xff) +
        587L * ((p >> 8) & 0xff) + 114L * (p & 0xff)))
    }

    /** Exact-integer pixel features: (w, h, n_px, sum_r, sum_g, sum_b,
      * peak_lum) where peak_lum = max over pixels of 299r + 587g + 114b
      * (the ITU-601 luma numerator — kept as an integer, no division).
      * One bulk getRGB per image (ImageIO normalizes any source color
      * model to ARGB), then a tight primitive loop.
      */
    def features(img: java.awt.image.BufferedImage): (Int, Int, Long, Long, Long, Long, Long) = {
      val w = img.getWidth
      val h = img.getHeight
      val px = img.getRGB(0, 0, w, h, null, 0, w)
      var sr = 0L; var sg = 0L; var sb = 0L; var peak = 0L
      var i = 0
      while (i < px.length) {
        val p = px(i)
        val r = (p >> 16) & 0xff
        val g = (p >> 8) & 0xff
        val b = p & 0xff
        sr += r; sg += g; sb += b
        val lum = 299L * r + 587L * g + 114L * b
        if (lum > peak) peak = lum
        i += 1
      }
      (w, h, w.toLong * h, sr, sg, sb, peak)
    }
  }

  /** REAL uncompressed-video codec: the YUV4MPEG2 (y4m) container — a
    * plain-text header + uncompressed 4:2:0 frames, the interchange
    * format every video toolchain reads/writes — needs NO codec library,
    * so (like WAV-PCM for audio and ImageIO for images) the container
    * parsing, frame indexing and pixel math are fully real. The decode
    * path validates the magic, every per-frame FRAME marker and the
    * byte-length arithmetic; the synthesizer writes frames from a
    * pure-integer formula so a SQL oracle replays the sampled-frame
    * features without parsing anything.
    */
  object VideoCodec {
    /** Deterministic synthetic y4m clip for a non-negative id, drawn from
      * its base ([[variantOf]]; base = id when groups = 0):
      * w = 4 + 2·(base%6), h = 4 + 2·((base/6)%6) (even — 4:2:0
      * subsampling), nFrames = 3 + base%5, 25:1 fps; frame f shows content
      * frame g = f + cut, Y(f, x, y) = (base·17 + g·29 + x·5 + y·11)%256,
      * U(f,i,j) = (base + g + 2i + 3j)%256,
      * V(f,i,j) = (base·7 + g·3 + i + j)%256.
      *
      * cut is 0, or 2 for the odd classes of a RE-CUT family
      * ([[ImageCodec.synthImage]]'s video sibling): members of one base
      * are the same underlying CONTENT SEQUENCE (geometry and length
      * derive from the base, so they agree), and the cut shifts which
      * content window the clip carries. Two cuts of one base share the
      * content frames in the overlap, so a PER-FRAME fingerprint still
      * collides exactly where a re-cut (trimmed intro, shifted edit)
      * preserves frames — while the single middle-keyframe hash sees
      * DIFFERENT content frames (m vs m + 2) and misses the pair.
      */
    def synthY4m(id: Long, groups: Int = 0): Array[Byte] = {
      val (base, odd) = variantOf("synthY4m", id, groups)
      val cut = if (odd) 2 else 0
      val w = (4 + 2 * (base % 6)).toInt
      val h = (4 + 2 * ((base / 6) % 6)).toInt
      val nf = (3 + base % 5).toInt
      val bos = new java.io.ByteArrayOutputStream()
      bos.write(s"YUV4MPEG2 W$w H$h F25:1 Ip A1:1 C420\n".getBytes("US-ASCII"))
      var f = 0
      while (f < nf) {
        val g = f + cut
        bos.write("FRAME\n".getBytes("US-ASCII"))
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            bos.write(((base * 17 + g * 29 + x * 5 + y * 11) % 256).toInt)
            x += 1
          }
          y += 1
        }
        var j = 0
        while (j < h / 2) {
          var i = 0
          while (i < w / 2) { bos.write(((base + g + 2 * i + 3 * j) % 256).toInt); i += 1 }
          j += 1
        }
        j = 0
        while (j < h / 2) {
          var i = 0
          while (i < w / 2) { bos.write(((base * 7 + g * 3 + i + j) % 256).toInt); i += 1 }
          j += 1
        }
        f += 1
      }
      bos.toByteArray
    }

    /** Parse a y4m payload: (w, h, fpsNum, fpsDen, yPlaneOffsets) — one
      * offset per frame, pointing at the frame's Y plane. None for
      * corrupt/truncated/non-y4m bytes (corrupt blobs are data, not
      * exceptions). Validates the magic, W/H/F parameters, the C
      * colorspace tag (only the C420 family — C420, C420jpeg, C420paldv,
      * C420mpeg2 — matches the 4:2:0 frame-length arithmetic below; a
      * C444/C422 clip is rejected explicitly here rather than by length
      * mismatch accident), EVERY frame's FRAME marker, and exact 4:2:0
      * length arithmetic.
      */
    def parseY4m(bytes: Array[Byte]): Option[(Int, Int, Int, Int, Array[Int])] = {
      if (bytes == null) return None
      val nl = bytes.indexOf('\n'.toByte)
      if (nl <= 0) return None
      val header = new String(bytes, 0, nl, "US-ASCII")
      val toks = header.split(' ')
      if (toks.isEmpty || toks(0) != "YUV4MPEG2") return None
      var w = -1; var h = -1; var fn = -1; var fd = -1
      var cspace = "C420" // the spec default when no C tag is present
      toks.drop(1).foreach { t =>
        if (t.nonEmpty) t.charAt(0) match {
          case 'W' => w = t.drop(1).toIntOption.getOrElse(-1)
          case 'H' => h = t.drop(1).toIntOption.getOrElse(-1)
          case 'F' => t.drop(1).split(':') match {
            case Array(a, b) =>
              fn = a.toIntOption.getOrElse(-1); fd = b.toIntOption.getOrElse(-1)
            case _ => ()
          }
          case 'C' => cspace = t
          case _ => ()
        }
      }
      if (w <= 0 || h <= 0 || fn <= 0 || fd <= 0 || w % 2 != 0 || h % 2 != 0)
        return None
      if (!Set("C420", "C420jpeg", "C420paldv", "C420mpeg2").contains(cspace))
        return None
      val frameBytes = w * h + 2 * ((w / 2) * (h / 2))
      val marker = "FRAME".getBytes("US-ASCII")
      val offs = scala.collection.mutable.ArrayBuffer.empty[Int]
      var pos = nl + 1
      while (pos < bytes.length) {
        if (pos + marker.length > bytes.length) return None
        var k = 0
        while (k < marker.length) {
          if (bytes(pos + k) != marker(k)) return None
          k += 1
        }
        var p = pos + marker.length
        while (p < bytes.length && bytes(p) != '\n'.toByte) p += 1
        if (p >= bytes.length) return None
        val yOff = p + 1
        if (yOff + frameBytes > bytes.length) return None
        offs += yOff
        pos = yOff + frameBytes
      }
      if (offs.isEmpty) None else Some((w, h, fn, fd, offs.toArray))
    }

    /** The perceptual hash of the w×h Y plane at `yOff` in `bytes` — video
      * dedup's standard reduction (fingerprint frames like images): the
      * plane (already luma) resizes to the 8×8 grid through the same
      * exact-integer nearest map as [[ImageCodec.averageHash]]
      * (sx = ⌊cx·w/8⌋ — for the sub-8×8 clips y4m allows, several cells
      * sample one pixel, the standard nearest upscale), with the same
      * strict above-mean bits and (hi, lo) carry.
      */
    def frameHash(bytes: Array[Byte], yOff: Int, w: Int, h: Int): (Long, Long) =
      aboveMeanBits(Array.tabulate(64) { i =>
        val (cy, cx) = (i / 8, i % 8)
        (bytes(yOff + cy * h / 8 * w + cx * w / 8) & 0xff).toLong
      })
  }

  /** Header-metadata schema appended by [[decodeHeaders]]. */
  val headerSchema: StructType = StructType(Seq(
    StructField("kind", StringType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("channels", IntegerType),
    StructField("sample_rate", IntegerType)))

  /** The one per-row pass every `decode*` op is (the MapProcessor shape,
    * SURVEY §2.3): each row of `df` comes out once per feature row `decode`
    * returns for its `mediaCol` payload (null when the column is null),
    * with `schema`'s columns appended — and ONCE with them all null when
    * `decode` returns none, so an undecodable payload is quarantined
    * visibly, never dropped and never a failure (corrupt blobs are data,
    * not exceptions, at 100 TB). One narrow `mapPartitions` pass: no
    * shuffle, no driver collection.
    */
  private def decodeRows(df: DataFrame, mediaCol: String, schema: StructType)(
      decode: Array[Byte] => Iterator[Seq[Any]]): DataFrame = {
    val outSchema = StructType(df.schema.fields ++ schema.fields)
    val idx = df.schema.fieldIndex(mediaCol)
    val nulls = Seq.fill[Any](schema.length)(null)
    df.mapPartitions { rows =>
      rows.flatMap { r =>
        val in = r.toSeq
        val feats = decode(r.getAs[Array[Byte]](idx))
        (if (feats.hasNext) feats else Iterator.single(nulls))
          .map(f => Row.fromSeq(in ++ f))
      }
    }(Encoders.row(outSchema))
  }

  /** The one per-row pass every `with*Column` op is: appends a `media`
    * binary column holding `payload` of the row's `idCol`, which must be
    * a non-negative long. One narrow pass.
    */
  private def withPayload(df: DataFrame, idCol: String)(
      payload: Long => Array[Byte]): DataFrame = {
    val outSchema = StructType(df.schema.fields :+
      StructField("media", BinaryType))
    val idx = df.schema.fieldIndex(idCol)
    df.mapPartitions { rows =>
      rows.map(r => Row.fromSeq(r.toSeq :+ payload(r.getLong(idx))))
    }(Encoders.row(outSchema))
  }

  /** REAL header-metadata extraction over a binary column, dispatching on
    * magic bytes ([[HeaderCodec]]). Unrecognized payloads come back
    * kind="unknown" and null ones kind="null", rather than failing.
    */
  def decodeHeaders(df: DataFrame, mediaCol: String): DataFrame =
    decodeRows(df, mediaCol, headerSchema) { p =>
      Iterator.single(HeaderCodec.sniff(p).productIterator.toSeq)
    }

  /** REAL audio synthesis + perceptual fingerprint — the audio leg of the
    * dedup-fingerprint family ([[ImageCodec.averageHash]]'s sibling). The
    * fingerprint is the classic energy-delta hash (the teaching form of
    * Haitsma–Kalker / Chromaprint audio fingerprints): split the sample
    * stream into 65 equal windows, accumulate each window's EXACT-INTEGER
    * energy Σs², and set bit i iff energy_i > energy_{i+1} (strict — no
    * division, no float). Robust to volume-independent structure, and
    * every step is SQL-replayable.
    */
  object AudioCodec {
    private def le16(v: Int) = Array[Byte]((v & 0xff).toByte, (v >> 8).toByte)
    private def le32(v: Int) = Array[Byte]((v & 0xff).toByte,
      (v >> 8).toByte, (v >> 16).toByte, (v >> 24).toByte)

    /** Encode mono/stereo 16-bit PCM samples as a real RIFF/WAVE payload —
      * the write side of [[HeaderCodec.wavPcm16]] (round-trip exact).
      */
    def encodeWavPcm16(rate: Int, channels: Int,
        samples: Array[Short]): Array[Byte] = {
      val data = samples.flatMap(s => le16(s.toInt & 0xffff))
      "RIFF".getBytes ++ le32(36 + data.length) ++ "WAVE".getBytes ++
        "fmt ".getBytes ++ le32(16) ++ le16(1) ++ le16(channels) ++
        le32(rate) ++ le32(rate * channels * 2) ++ le16(channels * 2) ++
        le16(16) ++ "data".getBytes ++ le32(data.length) ++ data
    }

    /** Deterministic synthetic mono clip for a non-negative id, drawn from
      * its base ([[variantOf]]; base = id when groups = 0):
      * n = 64 + base%192 samples at 8 kHz, sample k =
      * ((base·13 + k·7919) % 65536) − 32768. Pure integer arithmetic — the
      * oracle replays samples without parsing the container. The odd
      * classes of a variant family additionally clamp the single sample at
      * index n/2 to 32767 — one sample lands in one energy window, so the
      * variant differs from its base by at most the two bits that window's
      * deltas feed.
      */
    def synthWav(id: Long, groups: Int = 0): Array[Byte] = {
      val (base, odd) = variantOf("synthWav", id, groups)
      val n = (64 + base % 192).toInt
      val samples = Array.tabulate(n)(k =>
        (((base * 13 + k.toLong * 7919) % 65536) - 32768).toShort)
      if (odd) samples(n / 2) = 32767
      encodeWavPcm16(8000, 1, samples)
    }

    /** The energy-delta fingerprint of a decoded sample array, as the
      * (hi, lo) 32-bit halves ([[packBits]]). Window of sample k is
      * (k·65)/n — integer division, the exact GROUP BY an oracle replays;
      * windows left empty by short clips (n < 65) contribute energy 0.
      */
    def energyDeltaHash(samples: Array[Short]): (Long, Long) = {
      val n = samples.length
      val e = new Array[Long](65)
      var k = 0
      while (k < n) {
        val s = samples(k).toLong
        e(((k.toLong * 65) / n).toInt) += s * s
        k += 1
      }
      packBits(i => e(i) > e(i + 1))
    }
  }

  /** Fingerprint schema appended by [[decodeAudioFingerprint]]. */
  val audioFingerprintSchema: StructType = StructType(Seq(
    StructField("n_samples", LongType),
    StructField("af_hi", LongType),
    StructField("af_lo", LongType)))

  /** REAL decode → energy-delta fingerprint over a binary column — the
    * audio sibling of [[decodeImageAHash]], appending (n_samples, af_hi,
    * af_lo); non-PCM/corrupt payloads yield nulls. Pairs and the stored
    * lifecycle reuse the image machinery ([[Dedup.ahashPairs]] / the aHash
    * index) — the fingerprint carry convention is shared by design.
    */
  def decodeAudioFingerprint(df: DataFrame, mediaCol: String): DataFrame =
    decodeRows(df, mediaCol, audioFingerprintSchema) { p =>
      Option(p).flatMap(HeaderCodec.wavPcm16).iterator.map { case (_, _, samples) =>
        val (hi, lo) = AudioCodec.energyDeltaHash(samples)
        Seq[Any](samples.length.toLong, hi, lo)
      }
    }

  /** Attach a REAL WAV payload per row ([[AudioCodec.synthWav]]; groups = 0
    * is the plain family with no planted near-dups).
    */
  def withAudioColumn(df: DataFrame, idCol: String,
      groups: Int = 0): DataFrame =
    withPayload(df, idCol)(AudioCodec.synthWav(_, groups))

  /** Audio-feature schema appended by [[decodeWavAudio]]. */
  val wavFeatureSchema: StructType = StructType(Seq(
    StructField("wav_channels", IntegerType),
    StructField("wav_rate", IntegerType),
    StructField("n_samples", LongType),
    StructField("duration_s", DoubleType),
    StructField("rms", DoubleType),
    StructField("peak", IntegerType)))

  /** REAL audio decode + features over a binary column: 16-bit PCM WAV
    * payloads are fully decoded ([[HeaderCodec.wavPcm16]] — PCM needs no
    * codec library) and reduced to (channels, rate, sample count,
    * duration, RMS energy, peak amplitude). Energy accumulates in exact
    * Long arithmetic (int16² sums — no float-order sensitivity);
    * non-PCM/corrupt payloads yield null features, not failures. The
    * audio counterpart of [[decodeImageFeatures]].
    */
  def decodeWavAudio(df: DataFrame, mediaCol: String): DataFrame =
    decodeRows(df, mediaCol, wavFeatureSchema) { p =>
      Option(p).flatMap(HeaderCodec.wavPcm16).iterator.map {
        case (ch, rate, samples) if samples.nonEmpty =>
          var sumSq = 0L
          var peak = 0
          var j = 0
          while (j < samples.length) {
            val s = samples(j).toInt
            sumSq += s.toLong * s
            val a = math.abs(s)
            if (a > peak) peak = a
            j += 1
          }
          val frames = samples.length.toLong / ch
          Seq[Any](ch, rate, samples.length.toLong,
            frames.toDouble / rate,
            math.sqrt(sumSq.toDouble / samples.length) / 32768.0, peak)
        case (ch, rate, _) =>
          Seq[Any](ch, rate, 0L, 0.0, 0.0, 0)
      }
    }

  /** Image-feature schema appended by [[decodeImageFeatures]]. */
  val imageFeatureSchema: StructType = StructType(Seq(
    StructField("img_w", IntegerType),
    StructField("img_h", IntegerType),
    StructField("n_px", LongType),
    StructField("sum_r", LongType),
    StructField("sum_g", LongType),
    StructField("sum_b", LongType),
    StructField("peak_lum", LongType)))

  /** REAL image pixel decode + features over a binary column: every
    * ImageIO-decodable payload (PNG/GIF/BMP/JPEG — the JDK's own codecs)
    * is fully decoded and reduced to [[imageFeatureSchema]]'s exact-integer
    * features; undecodable/null payloads yield null features, not
    * failures. The image sibling of [[decodeWavAudio]].
    *
    * With `resizeTo` = Some((tw, th)) the decoded raster first resizes
    * through [[ImageCodec.resizeNearest]] and the features are those of
    * the RESIZED raster — the thumbnail/normalize stage of a multimodal
    * pipeline with every step (codec, integer source map, integer sums)
    * oracle-replayable.
    */
  def decodeImageFeatures(df: DataFrame, mediaCol: String,
      resizeTo: Option[(Int, Int)] = None): DataFrame =
    decodeRows(df, mediaCol, imageFeatureSchema) { p =>
      Option(p).flatMap(ImageCodec.decode).iterator.map { img =>
        val out = resizeTo.fold(img) { case (tw, th) =>
          ImageCodec.resizeNearest(img, tw, th) }
        ImageCodec.features(out).productIterator.toSeq
      }
    }

  /** aHash schema appended by [[decodeImageAHash]]. */
  val imageAHashSchema: StructType = StructType(Seq(
    StructField("img_w", IntegerType),
    StructField("img_h", IntegerType),
    StructField("ah_hi", LongType),
    StructField("ah_lo", LongType)))

  /** REAL decode → perceptual AVERAGE HASH over a binary column — the
    * fingerprint stage of image dedup ([[ImageCodec.averageHash]]),
    * appending (img_w, img_h, ah_hi, ah_lo); undecodable payloads yield
    * null features. Pairs come from [[Dedup.ahashPairs]]' lossless
    * banding — this op only fingerprints, so the expensive decode runs
    * exactly once per image no matter how many band probes follow.
    */
  def decodeImageAHash(df: DataFrame, mediaCol: String): DataFrame =
    decodeRows(df, mediaCol, imageAHashSchema) { p =>
      Option(p).flatMap(ImageCodec.decode).iterator.map { img =>
        val (hi, lo) = ImageCodec.averageHash(img)
        Seq[Any](img.getWidth, img.getHeight, hi, lo)
      }
    }

  /** Video-feature schema appended by [[decodeVideoFeatures]]. */
  val videoFeatureSchema: StructType = StructType(Seq(
    StructField("vid_w", IntegerType),
    StructField("vid_h", IntegerType),
    StructField("n_frames", IntegerType),
    StructField("n_sampled", IntegerType),
    StructField("sum_y", LongType),
    StructField("peak_y", LongType)))

  /** REAL video parse + FRAME-SAMPLE features over a binary column: y4m
    * payloads are container-parsed ([[VideoCodec.parseY4m]] — magic,
    * per-frame markers, exact 4:2:0 length arithmetic all validated),
    * every `sampleEvery`-th frame is sampled (the keyframe-extraction
    * shape of a video-pretraining pipeline) and its Y plane reduced to
    * exact integer sums + peak. Corrupt/non-y4m payloads yield null
    * features. The video sibling of [[decodeImageFeatures]] /
    * [[decodeWavAudio]] — all three modalities decode for real.
    */
  def decodeVideoFeatures(df: DataFrame, mediaCol: String,
      sampleEvery: Int): DataFrame = {
    require(sampleEvery >= 1)
    decodeRows(df, mediaCol, videoFeatureSchema) { p =>
      VideoCodec.parseY4m(p).iterator.map { case (w, h, _, _, offs) =>
        var sum = 0L
        var peak = 0L
        var ns = 0
        var f = 0
        while (f < offs.length) {
          val o = offs(f)
          var k = 0
          val n = w * h
          while (k < n) {
            val v = (p(o + k) & 0xff).toLong
            sum += v
            if (v > peak) peak = v
            k += 1
          }
          ns += 1
          f += sampleEvery
        }
        Seq[Any](w, h, offs.length, ns, sum, peak)
      }
    }
  }

  /** Keyframe-hash schema appended by [[decodeVideoKeyframeAHash]]. */
  val videoKeyframeAHashSchema: StructType = StructType(Seq(
    StructField("vid_w", IntegerType),
    StructField("vid_h", IntegerType),
    StructField("n_frames", IntegerType),
    StructField("kf", IntegerType),
    StructField("kf_hi", LongType),
    StructField("kf_lo", LongType)))

  /** REAL video parse → KEYFRAME perceptual hash: the middle frame
    * kf = n_frames / 2 through [[VideoCodec.frameHash]], so pairs and the
    * stored lifecycle reuse [[Dedup.ahashPairs]] / the aHash index
    * unchanged. Corrupt/non-y4m payloads yield nulls.
    */
  def decodeVideoKeyframeAHash(df: DataFrame, mediaCol: String): DataFrame =
    decodeRows(df, mediaCol, videoKeyframeAHashSchema) { p =>
      VideoCodec.parseY4m(p).iterator.map { case (w, h, _, _, offs) =>
        val m = offs.length / 2
        val (hi, lo) = VideoCodec.frameHash(p, offs(m), w, h)
        Seq[Any](w, h, offs.length, m, hi, lo)
      }
    }

  /** Frame-hash schema appended by [[decodeVideoFrameAHashes]]. */
  val videoFrameAHashSchema: StructType = StructType(Seq(
    StructField("vid_w", IntegerType),
    StructField("vid_h", IntegerType),
    StructField("n_frames", IntegerType),
    StructField("frame_idx", IntegerType),
    StructField("fr_hi", LongType),
    StructField("fr_lo", LongType)))

  /** MULTI-keyframe perceptual hashes — the production video-dedup
    * reduction ([[decodeVideoKeyframeAHash]] hashes ONE representative
    * frame; a re-cut clip's middle frame differs, so real pipelines
    * fingerprint EVERY sampled keyframe and match clips on ANY shared
    * frame): every `sampleEvery`-th frame through
    * [[VideoCodec.frameHash]], one output row per sampled frame — so
    * [[graft.operators.Dedup.ahashPairs]] and the stored aHash index
    * consume frames exactly like images, keyed by
    * [[graft.operators.Dedup.packedKey]](doc, frame). Generator shape
    * (1 row → n_sampled rows, the reference's flat-map processors);
    * corrupt/non-y4m payloads yield ONE all-null row (quarantine
    * visible, never silent).
    */
  def decodeVideoFrameAHashes(df: DataFrame, mediaCol: String,
      sampleEvery: Int): DataFrame = {
    require(sampleEvery >= 1)
    decodeRows(df, mediaCol, videoFrameAHashSchema) { p =>
      VideoCodec.parseY4m(p).iterator.flatMap { case (w, h, _, _, offs) =>
        Iterator.range(0, offs.length, sampleEvery).map { f =>
          val (hi, lo) = VideoCodec.frameHash(p, offs(f), w, h)
          Seq[Any](w, h, offs.length, f, hi, lo)
        }
      }
    }
  }

  /** Attach a REAL y4m video payload per row ([[VideoCodec.synthY4m]];
    * groups ≥ 1 is the re-cut family, the fixture for multi-keyframe video
    * dedup).
    */
  def withVideoColumn(df: DataFrame, idCol: String,
      groups: Int = 0): DataFrame =
    withPayload(df, idCol)(VideoCodec.synthY4m(_, groups))

  /** Attach a REAL image payload per row: [[ImageCodec.synthImage]]
    * encoded through a real JDK writer, format alternating PNG/BMP by id
    * parity so BOTH lossless codecs run under any gate built on this
    * column. groups ≥ 1 is the near-duplicate family, the fixture for
    * image-dedup gates.
    */
  def withImageColumn(df: DataFrame, idCol: String,
      groups: Int = 0): DataFrame =
    withPayload(df, idCol) { id =>
      ImageCodec.encode(ImageCodec.synthImage(id, groups),
        if (id % 2 == 0) "png" else "bmp")
    }

  /** Attach media payload + metadata to a text table (the harness has no
    * binary table, so the payload is the utf-8 bytes of `textCol` — opaque
    * to everything downstream, exactly like a real image blob).
    */
  def withMediaColumn(df: DataFrame, textCol: String): DataFrame =
    df.withColumn("media", encode(col(textCol), "UTF-8"))
      .withColumn("media_meta", struct(
        octet_length(col("media")).cast("long").as("n_bytes"),
        lit("utf8-blob").as("format")))

  /** Decode + feature-extract over an OPAQUE binary column
    * ([[StubCodec]]), emitting the original row + [[featureSchema]]
    * columns; a null payload yields (null, 0, 0, 0).
    */
  def decodeFeatures(df: DataFrame, mediaCol: String): DataFrame =
    decodeRows(df, mediaCol, featureSchema) { p =>
      Iterator.single(if (p == null) Seq[Any](null, 0L, 0, 0)
        else StubCodec.decode(p).productIterator.toSeq)
    }

  /** Resize stub: recompute dimensions against a bounding box, preserving
    * aspect ratio in integer arithmetic (deterministic, oracle-friendly).
    */
  def resize(df: DataFrame, maxSide: Int): DataFrame =
    df.withColumn("scale_num",
        when(greatest(col("width"), col("height")) > maxSide, lit(maxSide))
          .otherwise(greatest(col("width"), col("height"))))
      // floor() in both engines — Spark's double→int cast truncates while
      // DuckDB's rounds, so the truncation must be explicit for the oracle.
      .withColumn("out_w", floor(col("width") * col("scale_num") / greatest(col("width"), col("height"))).cast("int"))
      .withColumn("out_h", floor(col("height") * col("scale_num") / greatest(col("width"), col("height"))).cast("int"))
      .drop("scale_num")

  /** Frame-sample stub for video-like payloads: emit every `stride`-th
    * "frame index" up to a fake frame count derived from payload size.
    * Generator shape (1 row → N) = the reference's flat-map processors.
    */
  def sampleFrames(df: DataFrame, stride: Int): DataFrame =
    df.withColumn("n_frames", (col("n_bytes") % 240 + 1).cast("int"))
      .withColumn("frame_idx",
        explode(sequence(lit(0), col("n_frames") - 1, lit(stride))))

  /** CROSS-MODAL pair dedup — the CLIP/LAION data-cleaning shape: a
    * (caption, image) pair is dropped when EITHER side matches a stored
    * fingerprint — caption md5 against a stored
    * [[Dedup.writeCorpusIndexVersioned]] text index's `hashes/` view, image
    * aHash against a stored [[Dedup.writeAHashIndex]] within its frozen
    * hamming radius. Neither modality's operator changes — this is the
    * PAIR-level decision composed over the two existing stores, which
    * is exactly why the stores share one lifecycle (a pair pipeline
    * probes both per batch).
    *
    * Input: (id, caption, media). Output: (id, text_dup, image_dup,
    * kept = ¬text_dup ∧ ¬image_dup). An undecodable image has no
    * fingerprint and cannot image-match (corrupt data never
    * accidentally dedups away — the quarantine convention); every
    * input pair gets an output row.
    *
    * 100 TB design: the text probe is one semi-join against the hashes
    * view; the image probe rides [[Dedup.ahashAgainstIndex]]'s
    * bucket-pruned banded join (≤ 64 bucket directories opened per
    * batch, never the store); decode runs once per pair.
    */
  def pairDedupAgainstStores(pairs: DataFrame, textIndexDir: String,
      imageIndexDir: String): DataFrame = {
    import graft.CacheScope.ScopedPersist
    val spark = pairs.sparkSession
    val p = pairs.persistScoped() // decode + two probes + final frame
    val textHashes = Compaction.snapshot(spark, textIndexDir)("hashes")
      .select(col("h"))
    val textDups = p.select(col("id"), md5(col("caption")).as("h"))
      .join(textHashes, Seq("h"), "left_semi")
      .select(col("id"), lit(true).as("text_dup"))
    val imgDups = Dedup.ahashAgainstIndex(
        decodeImageAHash(p.select(col("id"), col("media")), "media")
          .select(col("id"), col("ah_hi"), col("ah_lo")),
        imageIndexDir)
      .select(col("id")).distinct()
      .select(col("id"), lit(true).as("image_dup"))
    p.select(col("id"))
      .join(textDups, Seq("id"), "left")
      .join(imgDups, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("text_dup"), lit(false)).as("text_dup"),
        coalesce(col("image_dup"), lit(false)).as("image_dup"))
      .withColumn("kept", !col("text_dup") && !col("image_dup"))
  }
}
