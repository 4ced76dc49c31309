package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.operators.Dedup

/** Native kernels for the hot sketch/vector/text operators.
  *
  * The composable forms (`transform`/`aggregate`/`zip_with` chains) are
  * semantically identical but pay two structural costs at scale: higher-order
  * functions evaluate interpreted (per-element lambda dispatch + boxing), and
  * 64-slot expression trees are huge (slow analysis, codegen near the
  * maxFields/hugeMethod cliffs, heavy first-run JIT). Each kernel here is a
  * tight static JVM loop that a Column in [[graft.functions]] calls through
  * Catalyst's own `StaticInvoke`: ONE tree node whose generated code is the
  * static call, with null handling in codegen (no Row conversion, unlike a
  * Scala UDF). The four encoders whose table rides as expression data
  * ([[BpeEncodeExpr]], [[PqEncodeExpr]], [[UnigramEncodeExpr]],
  * [[WordPieceEncodeExpr]]) are the only expression classes left here.
  *
  * Semantics are kept bit-identical to the composable forms (same fold order,
  * same float→double widening), so the DuckDB oracles are unchanged.
  */
object NativeKernels {
  private val md5 = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** First 28 bits of md5(s) — equal to
    * conv(substring(md5(s),1,7),16,10): hex chars 1-7 are digest bytes
    * 0-3's high nibbles, i.e. b0<<20 | b1<<12 | b2<<4 | b3>>>4.
    */
  def md5Hash28(bytes: Array[Byte]): Long = {
    val d = md5.get().digest(bytes)
    ((d(0) & 0xffL) << 20) | ((d(1) & 0xffL) << 12) |
      ((d(2) & 0xffL) << 4) | ((d(3) & 0xffL) >>> 4)
  }

  /** First 60 bits of md5(s) — equal to conv(substring(md5(s),1,15),16,10). */
  def md5Hash60(bytes: Array[Byte]): Long = {
    val d = md5.get().digest(bytes)
    var v = 0L
    var i = 0
    while (i < 7) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
    (v << 4) | ((d(7) & 0xffL) >>> 4)
  }

  /** Calls `f(i, w)` for every stride-1 n-word window of `words` in
    * window order, `w` being the words `i until i + n` joined by single
    * spaces — the one window walk every n-gram kernel below hashes,
    * counts or collects.
    */
  private def foreachWindow(words: ArrayData, n: Int)(f: (Int, String) => Unit): Unit = {
    val m = words.numElements() - n + 1
    val sb = new java.lang.StringBuilder(64)
    var i = 0
    while (i < m) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(words.getUTF8String(i + j).toString)
        j += 1
      }
      f(i, sb.toString)
      i += 1
    }
  }

  private def utf8(s: String): Array[Byte] =
    s.getBytes(java.nio.charset.StandardCharsets.UTF_8)

  /** A string collection as a UTF8 array, in the collection's order. */
  private def utf8Array(ss: java.util.Collection[String]): ArrayData = {
    val out = new Array[AnyRef](ss.size)
    val it = ss.iterator()
    var k = 0
    while (it.hasNext) {
      out(k) = UTF8String.fromString(it.next())
      k += 1
    }
    new GenericArrayData(out)
  }

  /** Distinct word n-gram shingles in first-occurrence order — identical
    * to array_distinct(transform(...)) over the same words.
    */
  def shinglesOf(words: ArrayData, n: Int): ArrayData = {
    val seen = new java.util.LinkedHashSet[String]()
    foreachWindow(words, n)((_, w) => seen.add(w))
    utf8Array(seen)
  }

  /** A MinHash signature of `num` slots before any value: every slot at
    * its maximum.
    */
  private def emptySignature(num: Int): Array[Long] = {
    val sig = new Array[Long](num)
    java.util.Arrays.fill(sig, Long.MaxValue)
    sig
  }

  /** One value into a MinHash signature: slot k keeps
    * min(slot, (A(k)·x + B(k)) mod P).
    */
  private def minhashAdd(sig: Array[Long], x: Long): Unit = {
    var k = 0
    while (k < sig.length) {
      val h = (Dedup.hashA(k) * x + Dedup.hashB(k)) % Dedup.P
      if (h < sig(k)) sig(k) = h
      k += 1
    }
  }

  /** Fused kernel: word n-gram shingles → md5 28-bit hashes → minhash
    * signature, one pass, no materialized shingle strings. MinHash over
    * duplicate shingles equals minhash over the distinct set (min is
    * idempotent), so the string-side array_distinct does not need
    * replicating here. Null when there are fewer than `n` words.
    */
  def minhashFromWords(words: ArrayData, n: Int, num: Int): ArrayData = {
    if (words.numElements() < n) return null
    val sig = emptySignature(num)
    foreachWindow(words, n)((_, w) => minhashAdd(sig, md5Hash28(utf8(w))))
    new GenericArrayData(sig)
  }

  /** Winnowing fingerprint (the MOSS scheme): hash every word n-gram in
    * positional order (duplicates kept), slide a window of `w` hashes,
    * select the window minimum with RIGHTMOST tiebreak, dedupe selections.
    * Returns an array of "pos:hash" strings (1-based positions) — callers
    * explode to (pos, hash) rows, making comparison order-independent.
    */
  def winnow(words: ArrayData, n: Int, w: Int): ArrayData = {
    val m = math.max(0, words.numElements() - n + 1)
    val hs = new Array[Long](m)
    foreachWindow(words, n)((i, g) => hs(i) = md5Hash28(utf8(g)))
    val seen = new java.util.LinkedHashSet[String]()
    var i = 0
    while (i + w <= m) {
      var best = i
      var j = i
      while (j < i + w) {
        if (hs(j) <= hs(best)) best = j // rightmost minimum
        j += 1
      }
      seen.add(s"${best + 1}:${hs(best)}")
      i += 1
    }
    utf8Array(seen)
  }

  /** SimHash majority vote over `n` hashes: bit j of the fingerprint is
    * set when more than half of `hashAt(0 until n)` have bit j set.
    */
  private def simhashVote(n: Int, bits: Int)(hashAt: Int => Long): Long = {
    val counts = new Array[Long](bits)
    var i = 0
    while (i < n) {
      val h = hashAt(i)
      var j = 0
      while (j < bits) { counts(j) += (h >> j) & 1L; j += 1 }
      i += 1
    }
    var fp = 0L
    var j = 0
    while (j < bits) { if (counts(j) * 2 > n) fp |= 1L << j; j += 1 }
    fp
  }

  /** Fused kernel: token array → md5 60-bit hashes → SimHash fingerprint. */
  def simhashFromTokens(tokens: ArrayData, bits: Int): Long =
    simhashVote(tokens.numElements(), bits)(i =>
      md5Hash60(utf8(tokens.getUTF8String(i).toString)))

  /** MinHash: out(j) = min over xs of (A(j)·x + B(j)) mod P. */
  def minhashSig(xs: ArrayData, num: Int): ArrayData = {
    val sig = emptySignature(num)
    var i = 0
    while (i < xs.numElements()) { minhashAdd(sig, xs.getLong(i)); i += 1 }
    new GenericArrayData(sig)
  }

  /** SimHash: bit j set when the majority of hashes have bit j set. */
  def simhashFp(hs: ArrayData, bits: Int): Long =
    simhashVote(hs.numElements(), bits)(hs.getLong)

  /** Sign-LSH bucket: bit j of the result is the sign of the dot product
    * of the (float) embedding with pseudo-random hyperplane j, where
    * w(j)(d) = (((j·dim+d)·2654435761) mod 2001 − 1000)/1000 — the same
    * formula as Similarity.planeComponent, evaluated inline.
    */
  def lshBucket(emb: ArrayData, planes: Int): Long = {
    val dim = emb.numElements()
    var bucket = 0L
    var j = 0
    while (j < planes) {
      var dot = 0.0
      var d = 0
      while (d < dim) {
        val w = (((j.toLong * dim + d) * 2654435761L) % 2001L - 1000L) / 1000.0
        dot += emb.getFloat(d).toDouble * w
        d += 1
      }
      if (dot >= 0) bucket |= 1L << j
      j += 1
    }
    bucket
  }

  /** Per-doc repetition signals in ONE narrow pass:
    * `[max n-gram count, distinct n-gram count]` over positional word
    * n-grams (duplicates counted). Returns null when the doc has fewer
    * than `n` words — callers filter nulls, matching the explode-based
    * form which drops such docs. Replaces an explode + two shuffled
    * aggregations (~n_tokens rows per doc through two exchanges) with a
    * zero-shuffle map, same values.
    */
  def repetitionSignals(words: ArrayData, n: Int): ArrayData = {
    if (words.numElements() < n) return null
    val counts = new java.util.HashMap[String, Integer](64)
    var max = 0
    foreachWindow(words, n) { (_, key) =>
      val prev = counts.get(key)
      val c = if (prev == null) 1 else prev.intValue() + 1
      counts.put(key, c)
      if (c > max) max = c
    }
    new GenericArrayData(Array[Long](max.toLong, counts.size.toLong))
  }

  /** All stride-1 n-word window md5s (full 32-hex-char digests, matching
    * SQL `md5(concat_ws(' ', window))` exactly) in window order, duplicates
    * kept — the passage-hash kernel behind `Dedup.duplicatePassages`. One
    * tight loop instead of an interpreted `transform` lambda whose every
    * element pays slice + concat_ws + md5 expression dispatch. The name
    * avoids "Window": it prints in plans, which plan checks search for
    * the `Window` operator.
    */
  def md5Grams(words: ArrayData, n: Int): ArrayData = {
    val out = new Array[AnyRef](math.max(0, words.numElements() - n + 1))
    val hexd = "0123456789abcdef".toCharArray
    foreachWindow(words, n) { (i, w) =>
      val d = md5.get().digest(utf8(w))
      val hex = new Array[Char](32)
      var k = 0
      while (k < 16) {
        hex(2 * k) = hexd((d(k) >> 4) & 0xf)
        hex(2 * k + 1) = hexd(d(k) & 0xf)
        k += 1
      }
      out(i) = UTF8String.fromString(new String(hex))
    }
    new GenericArrayData(out)
  }

  /** Morton interleave of the low 16 bits of a and b (a → even bit
    * positions, b → odd): branch-free magic-mask bit spread.
    */
  def zValue16(a: Long, b: Long): Long = {
    def spread(v0: Long): Long = {
      var v = v0 & 0xffffL
      v = (v | (v << 8)) & 0x00ff00ffL
      v = (v | (v << 4)) & 0x0f0f0f0fL
      v = (v | (v << 2)) & 0x33333333L
      v = (v | (v << 1)) & 0x55555555L
      v
    }
    spread(a) | (spread(b) << 1)
  }

  /** |A ∩ B| of two arrays SORTED in binary UTF8 order (sort_array's
    * order), one merge pass — the exact-verify kernel for set-similarity
    * joins. Equal to size(array_intersect(a, b)) on distinct-element
    * arrays, but a tight two-pointer loop instead of an interpreted
    * hash-set build per row.
    */
  def sortedIntersectCount(a: ArrayData, b: ArrayData): Int = {
    val na = a.numElements(); val nb = b.numElements()
    var i = 0; var j = 0; var c = 0
    while (i < na && j < nb) {
      val cmp = a.getUTF8String(i).compareTo(b.getUTF8String(j))
      if (cmp == 0) { c += 1; i += 1; j += 1 }
      else if (cmp < 0) i += 1
      else j += 1
    }
    c
  }

  /** BPE-encode one word with a learned merge list: start from one symbol
    * per Unicode code point (the `substring(w, i, 1)` unit of the chained
    * form), then apply each merge rule IN ORDER with the exact greedy
    * left-to-right stack fold the trainer uses — merge when the stack top
    * equals rule.a and the incoming symbol equals rule.b (the merged
    * symbol becomes the new top; a follow-up b does NOT re-merge).
    * Bit-identical to the |merges|-deep chained `aggregate(...)` plan in
    * the composable form, but the merge table is DATA (three parallel
    * arrays) looped at runtime — plan depth is constant in |merges|, so a
    * production 32k-merge vocabulary plans instantly where 32k chained
    * projections would kill the analyzer and codegen.
    */
  def bpeEncode(word: org.apache.spark.unsafe.types.UTF8String,
      mA: Array[org.apache.spark.unsafe.types.UTF8String],
      mB: Array[org.apache.spark.unsafe.types.UTF8String],
      mAB: Array[org.apache.spark.unsafe.types.UTF8String]): ArrayData = {
    import org.apache.spark.unsafe.types.UTF8String
    val s = word.toString
    val syms = new Array[UTF8String](math.max(s.length, 1))
    var n = 0
    var ci = 0
    while (ci < s.length) {
      val cp = s.codePointAt(ci)
      val w = Character.charCount(cp)
      syms(n) = UTF8String.fromString(s.substring(ci, ci + w))
      n += 1
      ci += w
    }
    bpeMergeFold(syms, n, mA, mB, mAB)
  }

  /** Byte-level [[bpeEncode]]: initial symbols are the word's UTF-8 BYTES
    * as uppercase hex pairs (the byte-level
    * [[graft.operators.TextOps.bpeMerges]] symbolization — a closed
    * 256-symbol base alphabet), then the same
    * exact greedy merge fold.
    */
  private val HexDigits = "0123456789ABCDEF".toCharArray
  def bpeEncodeBytes(word: org.apache.spark.unsafe.types.UTF8String,
      mA: Array[org.apache.spark.unsafe.types.UTF8String],
      mB: Array[org.apache.spark.unsafe.types.UTF8String],
      mAB: Array[org.apache.spark.unsafe.types.UTF8String]): ArrayData = {
    import org.apache.spark.unsafe.types.UTF8String
    val bytes = word.getBytes
    val syms = new Array[UTF8String](math.max(bytes.length, 1))
    var i = 0
    while (i < bytes.length) {
      val v = bytes(i) & 0xff
      syms(i) = UTF8String.fromString(
        new String(Array(HexDigits(v >> 4), HexDigits(v & 0xf))))
      i += 1
    }
    bpeMergeFold(syms, bytes.length, mA, mB, mAB)
  }

  /** The shared exact greedy left-to-right merge fold — char-level and
    * byte-level encoders both end here, one [[bpeMergeStep]] per rule.
    */
  private def bpeMergeFold(syms: Array[UTF8String], n0: Int,
      mA: Array[UTF8String], mB: Array[UTF8String],
      mAB: Array[UTF8String]): ArrayData = {
    var n = n0
    var m = 0
    while (m < mA.length) {
      n = bpeMergeStep(syms, n, mA(m), mB(m), mAB(m))
      m += 1
    }
    val out = new Array[AnyRef](n)
    System.arraycopy(syms, 0, out, 0, n)
    new GenericArrayData(out)
  }

  /** Apply ONE merge rule to `syms(0 until n)` in place (a stack with a
    * write pointer: merge when the top is `a` and the incoming symbol is
    * `b`, the merged symbol becoming the new top) and return the new
    * length. The encoders and the in-memory trainers
    * ([[graft.operators.TextOps.bpeMerges]],
    * [[graft.operators.TextOps.wordPieceMerges]]) share this step, so
    * training and serving cannot drift in application semantics.
    */
  private[graft] def bpeMergeStep(syms: Array[UTF8String], n: Int,
      a: UTF8String, b: UTF8String, ab: UTF8String): Int = {
    var w = 0
    var i = 0
    while (i < n) {
      val x = syms(i)
      if (w > 0 && syms(w - 1).equals(a) && x.equals(b)) syms(w - 1) = ab
      else { syms(w) = x; w += 1 }
      i += 1
    }
    w
  }

  /** Product-quantization encode: per subspace m, the code of the nearest
    * (L2, strict-< argmin — first/smallest code wins ties) codebook entry
    * to the vector's m-th subvector. The codebook rides as expression DATA
    * (`cb(m)(code)(dim)`), like the BPE merge table: one tree node, tight
    * loops, constant plan shape in M·nCodes.
    */
  def pqEncode(emb: ArrayData, cb: Array[Array[Array[Float]]]): ArrayData = {
    val mSub = cb.length
    val subDim = cb(0)(0).length
    val out = new Array[Int](mSub)
    var m = 0
    while (m < mSub) {
      val base = m * subDim
      var best = -1
      var bestD = Double.MaxValue
      var j = 0
      while (j < cb(m).length) {
        val cv = cb(m)(j)
        var d = 0.0
        var i = 0
        while (i < subDim) {
          val diff = emb.getFloat(base + i).toDouble - cv(i).toDouble
          d += diff * diff
          i += 1
        }
        if (d < bestD) { bestD = d; best = j }
        j += 1
      }
      out(m) = best
      m += 1
    }
    new GenericArrayData(out)
  }

  /** Asymmetric-distance fold: Σ_m lut[m·nCodes + codes[m]] — the ADC
    * lookup-table sum PQ probes score with (the lut column is per-query:
    * either the q·codebook dot products or the codebook entry norms).
    */
  def pqAdc(codes: ArrayData, lut: ArrayData, nCodes: Int): Double = {
    val m = codes.numElements()
    var s = 0.0
    var i = 0
    while (i < m) {
      s += lut.getDouble(i * nCodes + codes.getInt(i))
      i += 1
    }
    s
  }

  /** Cosine over float arrays, accumulated in double, sequential order —
    * identical to fold(0.0)(+) over per-element products.
    */
  def cosineF(a: ArrayData, b: ArrayData): Double = {
    val n = a.numElements()
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getFloat(i).toDouble
      val y = b.getFloat(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Decode HTML NUMERIC character references — `&#123;` (decimal) and
    * `&#x1F;`/`&#X1f;` (hex) — to their code points, one left-to-right
    * scan. Invalid references stay literal: no terminating `;`, no
    * digits, > 7 digits, value 0, beyond U+10FFFF, or a surrogate
    * (U+D800–U+DFFF — not a scalar value; DuckDB's chr() errors on
    * them, and the oracle guards identically). Named entities are NOT
    * handled here — [[graft.operators.Html.decodeEntities]] sequences
    * named (non-amp) → numeric → `&amp;` so `&amp;#39;` renders as the
    * literal `&#39;` a browser shows, never double-decoded.
    */
  def decodeNumericRefs(s: UTF8String): UTF8String = {
    val str = s.toString
    if (str.indexOf("&#") < 0) return s
    val n = str.length
    val sb = new java.lang.StringBuilder(n)
    var i = 0
    while (i < n) {
      if (str.charAt(i) == '&' && i + 2 < n && str.charAt(i + 1) == '#') {
        var j = i + 2
        var hex = false
        if (str.charAt(j) == 'x' || str.charAt(j) == 'X') { hex = true; j += 1 }
        val dstart = j
        var v = 0L
        var bad = false
        while (!bad && j < n && str.charAt(j) != ';' && j - dstart < 8) {
          val d = Character.digit(str.charAt(j), if (hex) 16 else 10)
          if (d < 0) bad = true else { v = v * (if (hex) 16 else 10) + d; j += 1 }
        }
        val ok = !bad && j > dstart && j < n && str.charAt(j) == ';' &&
          v >= 1L && v <= 0x10FFFFL && !(v >= 0xD800L && v <= 0xDFFFL)
        if (ok) { sb.appendCodePoint(v.toInt); i = j + 1 }
        else { sb.append('&'); i += 1 }
      } else { sb.append(str.charAt(i)); i += 1 }
    }
    UTF8String.fromString(sb.toString)
  }

  /** Split a WARC FILE into its records by exact Content-Length offset
    * arithmetic (the container's actual framing — scanning for a
    * `WARC/1.0` marker would break the moment a payload embeds one):
    * per record, find the header terminator `\r\n\r\n`, read the
    * header's `Content-Length`, take exactly that many chars of
    * payload, then consume the mandatory two-CRLF record separator.
    * Anything that breaks the arithmetic — no header terminator, no
    * parseable Content-Length, payload running past end-of-file,
    * missing separator — emits the REMAINDER as one final malformed
    * record (quarantine is data, the [[graft.operators.Multimodal]]
    * corrupt-payload convention) and stops; records BEFORE the break
    * are unaffected. Offsets are CHARS, not bytes — identical on the
    * ASCII fixture corpus and on any single-byte payload; a byte-true
    * variant is the same arithmetic over a binary column (documented
    * teaching simplification, [[graft.operators.Warc]]).
    */
  def warcSplitRecords(s: UTF8String): ArrayData = {
    val str = s.toString
    val out = new java.util.ArrayList[Any]()
    val n = str.length
    var off = 0
    var broken = false
    while (off < n && !broken) {
      val he = str.indexOf("\r\n\r\n", off)
      var cl = -1L
      if (he >= 0) {
        val key = "\r\nContent-Length: "
        val ki = str.indexOf(key, off)
        if (ki >= 0 && ki < he) {
          var j = ki + key.length
          var v = 0L
          var any = false
          while (j < he && str.charAt(j) >= '0' && str.charAt(j) <= '9' &&
              v <= Int.MaxValue) {
            v = v * 10 + (str.charAt(j) - '0'); j += 1; any = true
          }
          if (any && v <= Int.MaxValue && j < n && str.charAt(j) == '\r') cl = v
        }
      }
      if (he < 0 || cl < 0 || he.toLong + 4 + cl > n) {
        out.add(UTF8String.fromString(str.substring(off)))
        broken = true
      } else {
        val recEnd = he + 4 + cl.toInt
        out.add(UTF8String.fromString(str.substring(off, recEnd)))
        off = recEnd
        if (off < n) {
          if (str.startsWith("\r\n\r\n", off)) off += 4
          else {
            out.add(UTF8String.fromString(str.substring(off)))
            broken = true
          }
        }
      }
    }
    new GenericArrayData(out.toArray)
  }

  /** indexOf for a small ASCII needle over raw bytes — the byte twin of
    * `String.indexOf` the char-form framing uses.
    */
  private def bytesIndexOf(h: Array[Byte], needle: Array[Byte], from: Int): Int = {
    val n = h.length
    val m = needle.length
    var i = math.max(from, 0)
    while (i + m <= n) {
      var j = 0
      while (j < m && h(i + j) == needle(j)) j += 1
      if (j == m) return i
      i += 1
    }
    -1
  }

  private val CrlfCrlf = Array[Byte]('\r', '\n', '\r', '\n')
  private val ClKey: Array[Byte] =
    "\r\nContent-Length: ".getBytes(java.nio.charset.StandardCharsets.US_ASCII)

  /** Byte-true twin of [[warcSplitRecords]] — the PRODUCTION framing:
    * identical offset arithmetic, but offsets and the declared
    * `Content-Length` count OCTETS over a binary column, so multibyte
    * payload encodings (UTF-8 beyond ASCII, charset'd bodies) frame
    * correctly where the char form would desync. Same quarantine
    * contract: any arithmetic break emits the remainder as one final
    * malformed record and stops; records before the break are
    * unaffected.
    */
  def warcSplitRecordsBytes(b: Array[Byte]): ArrayData = {
    val out = new java.util.ArrayList[Any]()
    val n = b.length
    var off = 0
    var broken = false
    while (off < n && !broken) {
      val he = bytesIndexOf(b, CrlfCrlf, off)
      var cl = -1L
      if (he >= 0) {
        val ki = bytesIndexOf(b, ClKey, off)
        if (ki >= 0 && ki < he) {
          var j = ki + ClKey.length
          var v = 0L
          var any = false
          while (j < he && b(j) >= '0' && b(j) <= '9' && v <= Int.MaxValue) {
            v = v * 10 + (b(j) - '0'); j += 1; any = true
          }
          if (any && v <= Int.MaxValue && j < n && b(j) == '\r') cl = v
        }
      }
      if (he < 0 || cl < 0 || he.toLong + 4 + cl > n) {
        out.add(java.util.Arrays.copyOfRange(b, off, n))
        broken = true
      } else {
        val recEnd = he + 4 + cl.toInt
        out.add(java.util.Arrays.copyOfRange(b, off, recEnd))
        off = recEnd
        if (off < n) {
          if (off + 4 <= n && b(off) == '\r' && b(off + 1) == '\n' &&
              b(off + 2) == '\r' && b(off + 3) == '\n') off += 4
          else {
            out.add(java.util.Arrays.copyOfRange(b, off, n))
            broken = true
          }
        }
      }
    }
    new GenericArrayData(out.toArray)
  }

  /** One deterministic gzip MEMBER (RFC 1952) around `b` — fixture-side
    * synthesis twin of [[gunzipMembers]]. Java's GZIPOutputStream writes
    * a fixed header (MTIME = 0, no OS-specific fields) and default-level
    * deflate, so the bytes are stable for a fixed input.
    */
  def gzipMember(b: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream(b.length / 2 + 64)
    val gz = new java.util.zip.GZIPOutputStream(bos)
    gz.write(b)
    gz.close()
    bos.toByteArray
  }

  /** Decompress a stream of CONCATENATED gzip members (the `.warc.gz`
    * layout Common Crawl ships — one member per record) into the
    * concatenated payload bytes, stopping at the FIRST failure and
    * returning everything decompressed up to it (quarantine-is-data:
    * a corrupt member header yields the prior members intact and the
    * stream simply ends there; a truncated deflate stream yields its
    * deterministic partial output, which the framing kernel then
    * quarantines as a malformed remainder record). Member parsing is
    * explicit RFC 1952 — magic/CM check, FLG-driven optional-field
    * skip (FEXTRA/FNAME/FCOMMENT/FHCRC), raw-deflate inflate, 8-byte
    * trailer with ISIZE check — rather than GZIPInputStream, whose
    * multi-member resync behavior on corrupt input is unspecified.
    */
  def gunzipMembers(b: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(b.length * 3)
    val n = b.length
    var off = 0
    var ok = true
    while (ok && off < n) {
      // header: magic 1f 8b, CM = 8 (deflate), FLG
      if (off + 10 > n || (b(off) & 0xff) != 0x1f || (b(off + 1) & 0xff) != 0x8b ||
          b(off + 2) != 8) { ok = false }
      else {
        val flg = b(off + 3) & 0xff
        var p = off + 10
        try {
          if ((flg & 4) != 0) { // FEXTRA: 2-byte little-endian XLEN + bytes
            val xlen = (b(p) & 0xff) | ((b(p + 1) & 0xff) << 8)
            p += 2 + xlen
          }
          if ((flg & 8) != 0) { while (b(p) != 0) p += 1; p += 1 }  // FNAME
          if ((flg & 16) != 0) { while (b(p) != 0) p += 1; p += 1 } // FCOMMENT
          if ((flg & 2) != 0) p += 2                                // FHCRC
          if (p > n) throw new java.io.EOFException("gzip header past end")
          val inf = new java.util.zip.Inflater(true)
          inf.setInput(b, p, n - p)
          val buf = new Array[Byte](8192)
          val member = new java.io.ByteArrayOutputStream(8192)
          var done = false
          while (!done) {
            val k = inf.inflate(buf)
            if (k > 0) member.write(buf, 0, k)
            else if (inf.finished()) done = true
            else throw new java.util.zip.DataFormatException("truncated deflate")
          }
          val tailStart = p + ((n - p) - inf.getRemaining)
          inf.end()
          // trailer: CRC32 + ISIZE (mod 2^32), both little-endian
          if (tailStart + 8 > n)
            throw new java.io.EOFException("gzip trailer past end")
          var isize = 0L
          var i = 0
          while (i < 4) {
            isize |= (b(tailStart + 4 + i) & 0xffL) << (8 * i); i += 1
          }
          if (isize != (member.size().toLong & 0xffffffffL))
            throw new java.util.zip.ZipException("gzip ISIZE mismatch")
          member.writeTo(out)
          off = tailStart + 8
        } catch {
          case _: Exception =>
            // mid-member break: keep the deterministic partial output
            // (the framing kernel quarantines it) and stop the stream
            ok = false
            try {
              val inf2 = new java.util.zip.Inflater(true)
              inf2.setInput(b, p, n - p)
              val buf = new Array[Byte](8192)
              var done = false
              while (!done) {
                try {
                  val k = inf2.inflate(buf)
                  if (k > 0) out.write(buf, 0, k) else done = true
                } catch { case _: Exception => done = true }
              }
              inf2.end()
            } catch { case _: Exception => () }
        }
      }
    }
    out.toByteArray
  }

  /** Concatenate an array of binary values into one — the file-packing
    * fold for multi-member `.warc.gz` synthesis (null elements skipped).
    */
  def concatBinary(arr: ArrayData): Array[Byte] = {
    val cnt = arr.numElements()
    var total = 0
    var i = 0
    while (i < cnt) {
      if (!arr.isNullAt(i)) total += arr.getBinary(i).length
      i += 1
    }
    val out = new Array[Byte](total)
    var off = 0
    i = 0
    while (i < cnt) {
      if (!arr.isNullAt(i)) {
        val x = arr.getBinary(i)
        System.arraycopy(x, 0, out, off, x.length)
        off += x.length
      }
      i += 1
    }
    out
  }

  /** Decode bytes under a per-row charset NAME (the HTTP Content-Type
    * `charset=` parameter): unknown/illegal names fall back to UTF-8,
    * malformed sequences and unmappable bytes decode to U+FFFD
    * (CodingErrorAction.REPLACE) — deterministic, never a thrown task
    * (corrupt payloads are data, the [[graft.operators.Multimodal]]
    * convention).
    */
  def decodeCharsetBytes(b: Array[Byte], cs: UTF8String): UTF8String = {
    val charset = resolveCharset(cs)
    val dec = charset.newDecoder()
      .onMalformedInput(java.nio.charset.CodingErrorAction.REPLACE)
      .onUnmappableCharacter(java.nio.charset.CodingErrorAction.REPLACE)
    val cb = dec.decode(java.nio.ByteBuffer.wrap(b))
    UTF8String.fromString(cb.toString)
  }

  /** Encode a string under a per-row charset name — the synthesis twin
    * of [[decodeCharsetBytes]] (unknown names → UTF-8, unencodable
    * chars → the charset's replacement byte).
    */
  def encodeCharsetBytes(s: UTF8String, cs: UTF8String): Array[Byte] = {
    val charset = resolveCharset(cs)
    val enc = charset.newEncoder()
      .onMalformedInput(java.nio.charset.CodingErrorAction.REPLACE)
      .onUnmappableCharacter(java.nio.charset.CodingErrorAction.REPLACE)
    val bb = enc.encode(java.nio.CharBuffer.wrap(s.toString))
    val out = new Array[Byte](bb.remaining())
    bb.get(out)
    out
  }

  /** Stack-based HTML block segmentation — ONE depth-aware scan over
    * the (script/style/comment-stripped) page, replacing the regex
    * priority chain whose non-greedy pairing mis-split SAME-tag nesting
    * (`<div>` directly inside `<div>` paired the outer open with the
    * first close — the former flat-markup teaching caveat, now closed).
    *
    * Ownership rule (equal to the priority chain on markup without
    * same-tag nesting — pinned by the unchanged q244/q252 oracles —
    * and DOM-correct on it): an opening block tag starts a NEW block
    * iff no block is open OR its rank ≤ the innermost open block's
    * rank (rank = extraction priority, [[graft.operators.Html
    * .blockTags]] — nav 0 … div 11); otherwise the tag and its content
    * are ABSORBED verbatim into the owning block's raw (chrome like
    * `<nav>` claims nested `<p>` content exactly as before). Open
    * blocks nest with non-increasing ranks, so the innermost rank IS
    * the minimum. A closing tag closes the NEAREST matching open
    * block (leniently emitting any unclosed inner blocks above it);
    * a close with no matching open block, and every non-block tag
    * (`<a>`, `<br>`, `<table>`…), append verbatim — the per-block
    * clean pass strips or converts them exactly as before. Text
    * outside any block is dropped (chain-identical). Self-closing
    * block tags emit an empty block (dropped by the empty filter).
    * Unterminated trailing markup (`<` with no `>`) appends as text.
    *
    * Output rows (rank, block_type, block_idx, raw) sorted by
    * (rank, block_idx); block_idx counts per type in document OPEN
    * order — both identical to the chain's emission order.
    */
  def htmlSegmentBlocks(html: UTF8String): ArrayData = {
    val s = html.toString
    val n = s.length
    val ranks = graft.operators.Html.tagRanks
    final class Frame(val tag: String, val rank: Int, val idx: Int) {
      val sb = new java.lang.StringBuilder(64)
    }
    val stack = new scala.collection.mutable.ArrayBuffer[Frame](8)
    val blocks = new scala.collection.mutable.ArrayBuffer[(Int, String, Int, String)](16)
    val idxByTag = new java.util.HashMap[String, Int]()
    def nextIdx(tag: String): Int = {
      val v = idxByTag.getOrDefault(tag, 0)
      idxByTag.put(tag, v + 1)
      v
    }
    def emit(f: Frame): Unit =
      blocks += ((f.rank, f.tag, f.idx, f.sb.toString))
    def appendText(t: CharSequence): Unit =
      if (stack.nonEmpty) { stack.last.sb.append(t); () }
    var i = 0
    while (i < n) {
      if (s.charAt(i) != '<') {
        var j = i
        while (j < n && s.charAt(j) != '<') j += 1
        appendText(s.subSequence(i, j))
        i = j
      } else {
        var j = i + 1
        val closing = j < n && s.charAt(j) == '/'
        if (closing) j += 1
        val nameStart = j
        while (j < n && (Character.isLetterOrDigit(s.charAt(j)))) j += 1
        val name = s.substring(nameStart, j).toLowerCase(java.util.Locale.ROOT)
        val gt = s.indexOf('>', j)
        if (name.isEmpty) {
          // not a tag ('< ', '<!', '<3'): the '<' is literal text; the
          // rest rescans, so a REAL tag right after still segments
          // (the per-block clean strips any '<…>' leftovers, exactly
          // like the chain's stripTags)
          appendText("<")
          i += 1
        } else if (gt < 0) { // unterminated trailing markup → text
          appendText(s.subSequence(i, n))
          i = n
        } else {
          val markup = s.substring(i, gt + 1)
          val selfClose = s.charAt(gt - 1) == '/'
          val rank = ranks.getOrElse(name, -1)
          if (rank < 0) appendText(markup) // non-block tag
          else if (closing) {
            var k = stack.length - 1
            while (k >= 0 && stack(k).tag != name) k -= 1
            if (k < 0) appendText(markup) // stray close — absorbed
            else {
              while (stack.length > k) {
                emit(stack.last)
                stack.remove(stack.length - 1)
              }
            }
          } else if (stack.isEmpty || rank <= stack.last.rank) {
            val f = new Frame(name, rank, nextIdx(name))
            if (selfClose) emit(f) else stack += f
          } else appendText(markup) // absorbed into the owning block
          i = gt + 1
        }
      }
    }
    while (stack.nonEmpty) { // lenient EOF: emit unclosed blocks
      emit(stack.last)
      stack.remove(stack.length - 1)
    }
    val sorted = blocks.sortBy(b => (b._1, b._3))
    new GenericArrayData(sorted.map { case (rank, tag, idx, raw) =>
      InternalRow(rank, UTF8String.fromString(tag), idx,
        UTF8String.fromString(raw))
    }.toArray[Any])
  }

  // ===== URL kernels ======================================================
  // One scan apiece, replacing the composable regexp-chain Column forms:
  // those trees (~30-80 nodes each) are safe standing alone but MULTIPLY
  // under composition — canonicalize(resolve(..)) at Column-construction,
  // then again under CollapseProject/filter-pushdown alias substitution —
  // into five-figure-node projections that cost the optimizer tens of
  // seconds and push codegen off the whole-stage cliff (measured: the
  // q261 edge build went 8+ min at sf0.01; as 1-node kernel calls it is
  // sub-second). Semantics are pinned by UrlSpec and the q258-q261
  // constructed-expectation oracles.

  private def trimSpaces(s: String): String = {
    var a = 0
    var b = s.length
    while (a < b && s.charAt(a) == ' ') a += 1
    while (b > a && s.charAt(b - 1) == ' ') b -= 1
    s.substring(a, b)
  }

  private def isSchemeStart(c: Char): Boolean =
    (c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z')

  private def isSchemeChar(c: Char): Boolean =
    isSchemeStart(c) || (c >= '0' && c <= '9') || c == '+' || c == '.' ||
      c == '-'

  /** Length of a `scheme:` prefix of `s` (index of the `:`), or -1. */
  private def schemePrefixLen(s: String): Int = {
    if (s.isEmpty || !isSchemeStart(s.charAt(0))) return -1
    var i = 1
    while (i < s.length && isSchemeChar(s.charAt(i))) i += 1
    if (i < s.length && s.charAt(i) == ':') i else -1
  }

  /** Parsed (scheme, hostport, path, query) of a trimmed, DEFRAGGED URL
    * (everything from the first `#` dropped first — the rule every URL
    * kernel shares); null when there is no `scheme://` prefix. scheme
    * and hostport are lowercased; path is "" when absent (callers
    * apply the "/" default); query is "" when absent.
    */
  private def parseUrl(u0: String): Array[String] = {
    val hash = u0.indexOf('#')
    val u = if (hash >= 0) u0.substring(0, hash) else u0
    val sl = schemePrefixLen(u)
    if (sl < 0 || sl + 2 >= u.length || u.charAt(sl + 1) != '/' ||
      u.charAt(sl + 2) != '/') return null
    val scheme = u.substring(0, sl).toLowerCase(java.util.Locale.ROOT)
    val rest = u.substring(sl + 3)
    var he = 0
    while (he < rest.length && rest.charAt(he) != '/' &&
      rest.charAt(he) != '?') he += 1
    val hostport = rest.substring(0, he).toLowerCase(java.util.Locale.ROOT)
    val after = rest.substring(he)
    val q = after.indexOf('?')
    val path = if (q >= 0) after.substring(0, q) else after
    val query = if (q >= 0) after.substring(q + 1) else ""
    Array(scheme, hostport, path, query)
  }

  /** [[graft.operators.Url.trackingFixedNames]] + the `utm_*` wildcard
    * rule, ASCII-exact to the documentation regex.
    */
  def isTrackingParam(p: String): Boolean = {
    if (p.startsWith("utm_")) {
      var j = 4
      while (j < p.length && (isSchemeStart(p.charAt(j)) ||
        (p.charAt(j) >= '0' && p.charAt(j) <= '9') || p.charAt(j) == '_'))
        j += 1
      j < p.length && p.charAt(j) == '='
    } else graft.operators.Url.trackingFixedNames.exists(nm =>
      p.length > nm.length && p.startsWith(nm) &&
        p.charAt(nm.length) == '=')
  }

  /** Canonical form of a raw URL ([[graft.operators.Url.canonicalize]]
    * contract): scheme/host lowercase, default port stripped, fragment
    * stripped, empty path → `/`, tracking params removed with survivors
    * kept in order, left-empty query dropped; null when no `scheme://`.
    */
  def urlCanonicalize(url: UTF8String): UTF8String = {
    val parts = parseUrl(trimSpaces(url.toString))
    if (parts == null) return null
    val scheme = parts(0)
    val hostport = parts(1)
    val ci = hostport.indexOf(':')
    val host = if (ci >= 0) hostport.substring(0, ci) else hostport
    val li = hostport.lastIndexOf(':')
    var port = ""
    if (li >= 0 && li + 1 < hostport.length) {
      val cand = hostport.substring(li + 1)
      if (cand.forall(c => c >= '0' && c <= '9')) port = cand
    }
    val keepPort = port.nonEmpty &&
      !(scheme == "http" && port == "80") &&
      !(scheme == "https" && port == "443")
    val path = if (parts(2).isEmpty) "/" else parts(2)
    val query = parts(3)
    val params = query.split("&", -1)
      .filter(x => x.nonEmpty && !isTrackingParam(x))
    val qpart =
      if (query.isEmpty || params.isEmpty) ""
      else "?" + params.mkString("&")
    UTF8String.fromString(scheme + "://" + host +
      (if (keepPort) ":" + port else "") + path + qpart)
  }

  /** Lowercased host of a raw URL ("" when there is no `scheme://`
    * prefix — [[graft.operators.Url.hostOf]] contract).
    */
  def urlHost(url: UTF8String): UTF8String = {
    val parts = parseUrl(trimSpaces(url.toString))
    if (parts == null) return UTF8String.EMPTY_UTF8
    val hostport = parts(1)
    val ci = hostport.indexOf(':')
    UTF8String.fromString(
      if (ci >= 0) hostport.substring(0, ci) else hostport)
  }

  /** Registrable domain of a lowercased host
    * ([[graft.operators.Url.registeredDomain]] contract): last two
    * labels, or three under a multi-part public suffix.
    */
  def urlRegisteredDomain(host: UTF8String): UTF8String = {
    val h = host.toString
    val labels = h.split("\\.", -1)
    val n = labels.length
    if (n < 2) return host
    val last2 = labels(n - 2) + "." + labels(n - 1)
    if (n >= 3 && multiPartSuffixSet.contains(last2))
      UTF8String.fromString(labels(n - 3) + "." + last2)
    else UTF8String.fromString(last2)
  }

  private lazy val multiPartSuffixSet: Set[String] =
    graft.operators.Url.multiPartSuffixes.toSet

  /** Reference resolution of an href against its page's base URL
    * ([[graft.operators.Url.resolve]] contract; null = not a crawlable
    * outlink or no base identity).
    */
  def urlResolve(base: UTF8String, href: UTF8String): UTF8String = {
    val h = trimSpaces(href.toString)
    val sl = schemePrefixLen(h)
    if (sl >= 0) {
      val hs = h.substring(0, sl).toLowerCase(java.util.Locale.ROOT)
      return if (hs == "http" || hs == "https") UTF8String.fromString(h)
        else null
    }
    val parts = parseUrl(trimSpaces(base.toString))
    if (parts == null) return null
    val scheme = parts(0)
    val hostport = parts(1)
    val path = if (parts(2).isEmpty) "/" else parts(2)
    val query = parts(3)
    val qpart = if (query.isEmpty) "" else "?" + query
    val ls = path.lastIndexOf('/')
    val dir = if (ls >= 0) path.substring(0, ls + 1) else "/"
    val origin = scheme + "://" + hostport
    val out =
      if (h.startsWith("//")) scheme + ":" + h
      else if (h.startsWith("/")) origin + h
      else if (h.startsWith("?")) origin + path + h
      else if (h.startsWith("#")) origin + path + qpart + h
      else if (h.isEmpty) origin + path + qpart
      else origin + dir + h
    UTF8String.fromString(out)
  }

  private def resolveCharset(cs: UTF8String): java.nio.charset.Charset = {
    if (cs == null) return java.nio.charset.StandardCharsets.UTF_8
    val name = cs.toString.trim
    if (name.isEmpty) return java.nio.charset.StandardCharsets.UTF_8
    try {
      if (java.nio.charset.Charset.isSupported(name))
        java.nio.charset.Charset.forName(name)
      else java.nio.charset.StandardCharsets.UTF_8
    } catch {
      case _: Exception => java.nio.charset.StandardCharsets.UTF_8
    }
  }
}

/** bpe_encode(word) → array<string> of BPE tokens under the learned merge
  * table, which rides as expression DATA (not as plan): one tree node, the
  * merges looped at runtime by [[NativeKernels.bpeEncode]] — replacing the
  * |merges|-deep chained `aggregate` form whose plan depth made production
  * vocabularies (32k merges) unplannable. Bit-identical output (spec-pinned).
  */
case class BpeEncodeExpr(child: Expression, merges: Seq[(String, String)],
    byteLevel: Boolean = false)
    extends UnaryExpression with ExpectsInputTypes {
  import org.apache.spark.unsafe.types.UTF8String
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  @transient private lazy val mA: Array[UTF8String] =
    merges.map(m => UTF8String.fromString(m._1)).toArray
  @transient private lazy val mB: Array[UTF8String] =
    merges.map(m => UTF8String.fromString(m._2)).toArray
  @transient private lazy val mAB: Array[UTF8String] =
    merges.map(m => UTF8String.fromString(m._1 + m._2)).toArray
  /** Public for codegen: the generated code calls back through a reference
    * to this expression, so the merge arrays live once per task, not per
    * generated class.
    */
  def encode(w: UTF8String): ArrayData =
    if (byteLevel) NativeKernels.bpeEncodeBytes(w, mA, mB, mAB)
    else NativeKernels.bpeEncode(w, mA, mB, mAB)
  override def nullSafeEval(input: Any): Any =
    encode(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bpeExpr", this, classOf[BpeEncodeExpr].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.encode($c);")
  }
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** pq_encode(array<float>) → array<int> PQ codes; the per-subspace L2
  * codebook is expression data (see [[NativeKernels.pqEncode]]).
  */
case class PqEncodeExpr(child: Expression, cb: Array[Array[Array[Float]]])
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    NativeKernels.pqEncode(input.asInstanceOf[ArrayData], cb)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqCb", cb, "float[][][]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.NativeKernels.pqEncode($c, $ref);")
  }
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** unigram_encode(word) → array<string>: Viterbi segmentation of a word
  * under a unigram-LM piece table (SentencePiece's inference step, Kudo
  * 2018), with the vocabulary riding as expression DATA — one tree node,
  * plan depth constant in |vocab|, the [[BpeEncodeExpr]] pattern.
  *
  * Semantics (replayed verbatim by the DuckDB oracle's list_reduce DP):
  * over Unicode CODE POINTS, best(0) = (score 0, 0 pieces, []); best(i) =
  * the max over piece lengths L = 1..min(maxPieceLen, i) with
  * piece = w[i-L+1..i] scorable — in-vocab at its integer micro-log-prob
  * `score`, or (L = 1 only) the `unkScore` floor so unseen characters
  * segment as themselves instead of failing — of
  * (best(i-L).score + score, best(i-L).pieces + 1, best(i-L).toks :+ piece),
  * ordered by (score DESC, pieces ASC, toks lexicographic ASC by UTF-8
  * bytes). ALL comparisons are on exact integers and byte orders — no
  * float enters the DP, so two engines replaying it cannot diverge.
  */
case class UnigramEncodeExpr(child: Expression, vocab: Seq[(String, Long)],
    maxPieceLen: Int, unkScore: Long)
    extends UnaryExpression with ExpectsInputTypes {
  import org.apache.spark.unsafe.types.UTF8String
  require(maxPieceLen >= 1)
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  @transient private lazy val vmap: java.util.HashMap[String, java.lang.Long] = {
    val m = new java.util.HashMap[String, java.lang.Long](vocab.size * 2)
    vocab.foreach { case (p, s) => m.put(p, java.lang.Long.valueOf(s)) }
    m
  }

  /** UTF-8 byte order over token lists — Spark's own string comparison
    * (UTF8String.compareTo is binary) and DuckDB's default VARCHAR
    * collation, NOT java.lang.String's UTF-16 order (they differ on
    * supplementary-plane characters).
    */
  private def cmpToks(a: java.util.ArrayList[String],
      b: java.util.ArrayList[String]): Int = {
    val n = math.min(a.size, b.size)
    var i = 0
    while (i < n) {
      val c = UTF8String.fromString(a.get(i)).binaryCompare(
        UTF8String.fromString(b.get(i)))
      if (c != 0) return c
      i += 1
    }
    a.size - b.size
  }

  /** Public for codegen (the [[BpeEncodeExpr]] reference-object pattern). */
  def encode(w: UTF8String): ArrayData = {
    val cps = w.toString.codePoints().toArray
    val n = cps.length
    if (n == 0) return new GenericArrayData(Array.empty[Any])
    val bestScore = new Array[Long](n + 1)
    val bestNp = new Array[Long](n + 1)
    val bestToks = new Array[java.util.ArrayList[String]](n + 1)
    bestToks(0) = new java.util.ArrayList[String]()
    var i = 1
    while (i <= n) {
      var curSet = false
      var cs = 0L
      var cn = 0L
      var ct: java.util.ArrayList[String] = null
      val maxL = math.min(maxPieceLen, i)
      var L = 1
      while (L <= maxL) {
        val piece = new String(cps, i - L, L)
        val hit = vmap.get(piece)
        val sc: java.lang.Long =
          if (hit != null) hit
          else if (L == 1) java.lang.Long.valueOf(unkScore)
          else null
        if (sc != null) {
          val ns = bestScore(i - L) + sc.longValue()
          val nnp = bestNp(i - L) + 1
          lazy val nt = {
            val t = new java.util.ArrayList[String](bestToks(i - L))
            t.add(piece)
            t
          }
          val better = !curSet || ns > cs ||
            (ns == cs && (nnp < cn || (nnp == cn && cmpToks(nt, ct) < 0)))
          if (better) { cs = ns; cn = nnp; ct = nt; curSet = true }
        }
        L += 1
      }
      bestScore(i) = cs
      bestNp(i) = cn
      bestToks(i) = ct
      i += 1
    }
    val out = new Array[Any](bestToks(n).size)
    var j = 0
    while (j < out.length) {
      out(j) = UTF8String.fromString(bestToks(n).get(j))
      j += 1
    }
    new GenericArrayData(out)
  }

  override def nullSafeEval(input: Any): Any =
    encode(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("uniExpr", this, classOf[UnigramEncodeExpr].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.encode($c);")
  }
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** wordpiece_encode(word) → array<string>: greedy LONGEST-MATCH-FIRST
  * segmentation against a WordPiece vocabulary (Schuster & Nakajima 2012;
  * BERT's inference rule): at the word start match the longest UNPREFIXED
  * vocabulary piece, after it the longest '##'-continuation piece, and a
  * position with no match makes the WHOLE word `unk` (BERT semantics —
  * partial segmentations are discarded, not patched). The vocabulary rides
  * as expression DATA — one tree node, plan depth constant in |vocab|, the
  * [[BpeEncodeExpr]] pattern. Matching is over Unicode code points, and
  * greedy matching is deterministic (at most one vocabulary entry per
  * (position, length)), so the DuckDB oracle replays it with a
  * precomputed longest-match table + a recursive walk.
  */
case class WordPieceEncodeExpr(child: Expression, vocab: Seq[String],
    unk: String)
    extends UnaryExpression with ExpectsInputTypes {
  import org.apache.spark.unsafe.types.UTF8String
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  // (word-initial pieces, continuation pieces stripped of '##', max code-
  // point length of each) — built once per task via the reference object
  @transient private lazy val sets = {
    val ini = new java.util.HashSet[String]()
    val con = new java.util.HashSet[String]()
    var mi = 1
    var mc = 1
    vocab.foreach { s =>
      if (s.startsWith("##")) {
        val p = s.substring(2)
        con.add(p)
        mc = math.max(mc, p.codePointCount(0, p.length))
      } else {
        ini.add(s)
        mi = math.max(mi, s.codePointCount(0, s.length))
      }
    }
    (ini, con, mi, mc)
  }

  /** Public for codegen (the [[BpeEncodeExpr]] reference-object pattern). */
  def encode(w: UTF8String): ArrayData = {
    val (ini, con, maxIni, maxCon) = sets
    val cps = w.toString.codePoints().toArray
    val n = cps.length
    if (n == 0) return new GenericArrayData(Array.empty[Any])
    val toks = new java.util.ArrayList[String]()
    var pos = 0
    var failed = false
    while (pos < n && !failed) {
      val first = pos == 0
      val set = if (first) ini else con
      var l = math.min(if (first) maxIni else maxCon, n - pos)
      var hit: String = null
      while (l >= 1 && hit == null) {
        val piece = new String(cps, pos, l)
        if (set.contains(piece)) hit = piece else l -= 1
      }
      if (hit == null) failed = true
      else {
        toks.add(if (first) hit else "##" + hit)
        pos += l
      }
    }
    val out: Array[Any] =
      if (failed) Array(UTF8String.fromString(unk))
      else {
        val a = new Array[Any](toks.size())
        var j = 0
        while (j < a.length) { a(j) = UTF8String.fromString(toks.get(j)); j += 1 }
        a
      }
    new GenericArrayData(out)
  }

  override def nullSafeEval(input: Any): Any =
    encode(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("wpExpr", this, classOf[WordPieceEncodeExpr].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.encode($c);")
  }
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
