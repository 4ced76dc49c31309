package graft.functions

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.forAll

import graft.operators.{Dedup, SecondarySort}

/** ScalaCheck properties over the pure kernels (SURVEY §5's adopted
  * strategy: property tests replace the reference's fault-injection focus).
  * These run on the JVM directly — no Spark jobs — so hundreds of cases are
  * cheap.
  */
object KernelProperties extends Properties("NativeKernels") {

  private def arr(xs: Seq[Long]) = new GenericArrayData(xs.toArray)
  private def sarr(xs: Seq[String]) =
    new GenericArrayData(xs.map(UTF8String.fromString).toArray[AnyRef])

  private val word = Gen.nonEmptyListOf(Gen.alphaLowerChar).map(_.mkString)
  private val words = Gen.listOf(word)
  private val bytes = Gen.listOf(Gen.chooseNum(Byte.MinValue, Byte.MaxValue)).map(_.toArray)

  property("md5Hash28 equals the hex-prefix parse (conv path)") = forAll(bytes) { b =>
    val hex = java.security.MessageDigest.getInstance("MD5").digest(b)
      .map("%02x".format(_)).mkString
    NativeKernels.md5Hash28(b) == java.lang.Long.parseLong(hex.substring(0, 7), 16)
  }

  property("md5Hash60 equals the hex-prefix parse") = forAll(bytes) { b =>
    val hex = java.security.MessageDigest.getInstance("MD5").digest(b)
      .map("%02x".format(_)).mkString
    NativeKernels.md5Hash60(b) == java.lang.Long.parseLong(hex.substring(0, 15), 16)
  }

  property("shinglesOf: distinct, count bounded, all n words long") =
    forAll(words, Gen.choose(1, 4)) { (ws, n) =>
      val out = NativeKernels.shinglesOf(sarr(ws), n)
      val ss = (0 until out.numElements()).map(out.getUTF8String(_).toString)
      ss.distinct == ss &&
        ss.size <= math.max(0, ws.size - n + 1) &&
        ss.forall(_.split(" ", -1).length == n)
    }

  property("minhash signature: concatenation = slot-wise min") =
    forAll(Gen.listOf(Gen.choose(0L, (1L << 28) - 1)),
      Gen.listOf(Gen.choose(0L, (1L << 28) - 1))) { (a, b) =>
      val sa = NativeKernels.minhashSig(arr(a), 16)
      val sb = NativeKernels.minhashSig(arr(b), 16)
      val sab = NativeKernels.minhashSig(arr(a ++ b), 16)
      (0 until 16).forall { i =>
        sab.getLong(i) == math.min(sa.getLong(i), sb.getLong(i))
      }
    }

  property("simhash hamming ≤ 3 implies an identical 15-bit chunk (pigeonhole)") =
    forAll(Gen.choose(0L, (1L << 60) - 1), Gen.listOfN(3, Gen.choose(0, 59))) { (fp, flips) =>
      val fp2 = flips.foldLeft(fp)((v, j) => v ^ (1L << j))
      val mask = (1L << 15) - 1
      (0 until 4).exists(c => ((fp >> (c * 15)) & mask) == ((fp2 >> (c * 15)) & mask))
    }

  private val vec = Gen.nonEmptyListOf(Gen.chooseNum(-10f, 10f)).suchThat(_.exists(_ != 0f))

  property("cosine: self-similarity 1, symmetry, negation flips sign") = forAll(vec) { v =>
    val a = new GenericArrayData(v.toArray)
    val neg = new GenericArrayData(v.map(-_).toArray)
    val self = NativeKernels.cosineF(a, a)
    math.abs(self - 1.0) < 1e-9 &&
      NativeKernels.cosineF(a, neg) == -self &&
      NativeKernels.cosineF(a, a) == NativeKernels.cosineF(a, a)
  }

  property("GroupedIterator: concatenating groups reproduces the input") =
    forAll(Gen.listOf(Gen.zip(Gen.choose(0, 5), Gen.choose(0, 100)))) { pairs =>
      val sorted = pairs.sortBy(_._1)
      val rows = sorted.map { case (k, v) => Row(k, v) }
      val gi = new SecondarySort.GroupedIterator(rows.iterator, r => Seq(r.get(0)))
      val rebuilt = gi.flatMap { case (_, g) => g.toList }.toList
      rebuilt == rows
    }

  property("hash family stays in [0, P)") =
    forAll(Gen.choose(0, 63), Gen.choose(0L, (1L << 28) - 1)) { (i, x) =>
      val h = (Dedup.hashA(i) * x + Dedup.hashB(i)) % Dedup.P
      h >= 0 && h < Dedup.P
    }

  property("repetitionSignals equals the explode-count reference") =
    forAll(words, Gen.choose(1, 3)) { (ws, n) =>
      val out = NativeKernels.repetitionSignals(sarr(ws), n)
      if (ws.size < n) out == null
      else {
        val grams = (0 to ws.size - n).map(i => ws.slice(i, i + n).mkString(" "))
        val counts = grams.groupBy(identity).view.mapValues(_.size)
        out.getLong(0) == counts.values.max.toLong &&
          out.getLong(1) == counts.size.toLong
      }
    }

  property("sortedIntersectCount equals set-intersection size") =
    forAll(Gen.listOf(word), Gen.listOf(word)) { (a0, b0) =>
      val a = a0.distinct.sorted
      val b = b0.distinct.sorted
      NativeKernels.sortedIntersectCount(sarr(a), sarr(b)) ==
        (a.toSet & b.toSet).size
    }

  property("TopKHeap matches sort-take-k under (score desc, id asc)") =
    forAll(Gen.listOf(Gen.zip(Gen.chooseNum(-100.0, 100.0), Gen.choose(0L, 20L))),
      Gen.choose(0, 8)) { (xs, k) =>
      val h = new TopKHeap(k)
      xs.foreach { case (s, id) => h.insert(s, id) }
      val expect = xs.sortWith((x, y) => x._1 > y._1 || (x._1 == y._1 && x._2 < y._2)).take(k)
      h.sortedBestFirst.toList == expect
    }

  property("TopKHeap merge order does not change the result") =
    forAll(Gen.listOf(Gen.zip(Gen.chooseNum(-10.0, 10.0), Gen.choose(0L, 50L))),
      Gen.choose(1, 5)) { (xs, k) =>
      val (l, r) = xs.splitAt(xs.size / 2)
      def heapOf(ys: Seq[(Double, Long)]) = {
        val h = new TopKHeap(k); ys.foreach { case (s, i) => h.insert(s, i) }; h
      }
      val merged = heapOf(l)
      val other = heapOf(r)
      (0 until other.size).foreach(i => merged.insert(other.scores(i), other.ids(i)))
      merged.sortedBestFirst.toList == heapOf(xs).sortedBestFirst.toList
    }

  property("md5Windows equals the per-window md5 of the joined words") =
    forAll(words, Gen.choose(1, 4)) { (ws, n) =>
      val out = NativeKernels.md5Grams(sarr(ws), n)
      val got = (0 until out.numElements()).map(out.getUTF8String(_).toString)
      val expect = ws.sliding(n).filter(_.size == n).map { w =>
        java.security.MessageDigest.getInstance("MD5")
          .digest(w.mkString(" ").getBytes("UTF-8"))
          .map("%02x".format(_)).mkString
      }.toSeq
      got == expect && got.size == math.max(0, ws.size - n + 1)
    }

  property("zValue16: deinterleave round-trips both inputs' low 16 bits") =
    forAll(Gen.choose(0L, 0xffffL), Gen.choose(0L, 0xffffL)) { (a, b) =>
      val z = NativeKernels.zValue16(a, b)
      def collapse(v0: Long): Long = {
        var v = v0 & 0x55555555L
        v = (v | (v >> 1)) & 0x33333333L
        v = (v | (v >> 2)) & 0x0f0f0f0fL
        v = (v | (v >> 4)) & 0x00ff00ffL
        v = (v | (v >> 8)) & 0x0000ffffL
        v
      }
      collapse(z) == a && collapse(z >> 1) == b
    }

  property("zValue16 preserves per-dimension order within the other's value") =
    forAll(Gen.choose(0L, 0xffffL), Gen.choose(0L, 0xffffL), Gen.choose(0L, 0xffffL)) {
      (a1, a2, b) =>
        // fixing one dimension, z is monotone in the other — the property
        // that makes z-ranges usable for per-column min/max pruning
        val (lo, hi) = if (a1 <= a2) (a1, a2) else (a2, a1)
        lo == hi ||
          (NativeKernels.zValue16(lo, b) < NativeKernels.zValue16(hi, b) &&
            NativeKernels.zValue16(b, lo) < NativeKernels.zValue16(b, hi))
    }
}
