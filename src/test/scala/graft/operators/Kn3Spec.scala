package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Trigram interpolated Kneser-Ney (q246/q247's operator) against an
  * independent plain-Scala reference implementation of the published
  * recursion — every branch (seen trigram, discounted continuation,
  * missing (w1,w2) context, missing w2 context, OOV) exercised, plus the
  * stored-artifact contract.
  */
class Kn3Spec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val MaxV = 6
  private val MaxT = 8
  private val Thresh = 20.0

  // ref slice (even ids) + scored-only docs with OOV words and unseen
  // contexts; small maxV/maxT force real pruning
  private val docs = Seq(
    (0L, "the cat sat on the mat"),
    (2L, "the cat sat on the hat"),
    (4L, "the dog sat on the mat"),
    (6L, "the cat ran on the mat"),
    (1L, "the cat sat on the mat"),    // all trigrams seen
    (3L, "the zebra sat on purple mat"), // OOV words: full backoff chain
    (5L, "mat the cat"),               // seen words, unseen contexts
    (7L, "xx yy")                      // < 3 tokens: dropped
  ).toDF("id", "text")

  private def reference(): Map[Long, (Long, Double, Double)] = {
    def round4(x: Double): Double =
      BigDecimal.valueOf(x)
        .setScale(4, scala.math.BigDecimal.RoundingMode.HALF_UP).toDouble
    val tok = docs.as[(Long, String)].collect().toSeq
      .map { case (i, t) =>
        (i, t.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq) }
      .filter(_._2.length >= 3)
    val ref = tok.filter(_._1 % 2 == 0)
    val uni = ref.flatMap(_._2).groupBy(identity).map { case (w, l) => (w, l.size) }
    val voc = uni.toSeq.sortBy { case (w, c) => (-c, w) }.take(MaxV).map(_._1).toSet
    val triAll = ref.flatMap(_._2.sliding(3).map(s => (s(0), s(1), s(2))))
      .filter(t => voc(t._1) && voc(t._2) && voc(t._3))
      .groupBy(identity).map { case (k, l) => (k, l.size.toLong) }
    val tri = triAll.toSeq
      .sortBy { case ((a, b, c), n) => (-n, a, b, c) }.take(MaxT).toMap
    val ctx3 = tri.groupBy { case ((a, b, _), _) => (a, b) }
      .map { case (k, m) => (k, (m.values.sum, m.size.toLong)) }
    val mid = tri.keys.toSeq.groupBy(t => (t._2, t._3))
      .map { case (k, l) => (k, l.size.toLong) }
    val ctx2 = mid.groupBy(_._1._1)
      .map { case (w2, m) => (w2, (m.values.sum, m.size.toLong)) }
    val cw = mid.keys.toSeq.groupBy(_._2).map { case (w3, l) => (w3, l.size.toLong) }
    val ntot = mid.size.toLong
    val nv = voc.size.toLong
    tok.map { case (id, ws) =>
      val dn = ws.sliding(3).map(s => (s(0), s(1), s(2))).toSeq
        .groupBy(identity).map { case (k, l) => (k, l.size.toLong) }
      val m = dn.values.sum
      val s = dn.toSeq.sortBy(_._1).map { case (t @ (_, w2, w3), n) =>
        val pc = (cw.getOrElse(w3, 0L) + 1).toDouble / (ntot + nv + 1).toDouble
        val p2m = ctx2.get(w2) match {
          case Some((n2b, nd2)) =>
            math.max(4 * mid.getOrElse((w2, w3), 0L) - 3, 0L).toDouble /
              (4 * n2b).toDouble +
              (3 * nd2).toDouble / (4 * n2b).toDouble * pc
          case None => pc
        }
        val p = ctx3.get((t._1, w2)) match {
          case Some((c12b, n1f12)) =>
            math.max(4 * tri.getOrElse(t, 0L) - 3, 0L).toDouble /
              (4 * c12b).toDouble +
              (3 * n1f12).toDouble / (4 * c12b).toDouble * p2m
          case None => p2m
        }
        n.toDouble * math.log(p)
      }.foldLeft(0.0)(_ + _)
      val h = round4(-s / m)
      val ppl = round4(math.exp(h))
      id -> ((m, h, ppl))
    }.toMap
  }

  test("knPerplexityFilter at order 3 matches the independent recursion on every branch") {
    try {
      val exp = reference()
      val out = TextOps.knPerplexityFilter(docs, $"id", $"text",
          $"id" % 2 === 0, 3, MaxV, MaxT, Thresh)
        .select($"id", $"n_trigrams", $"h", $"ppl", $"keep")
        .as[(Long, Long, Double, Double, Boolean)].collect()
        .map(r => r._1 -> r).toMap
      assert(out.keySet == exp.keySet, "id 7 (< 3 tokens) must drop")
      for ((id, (m, h, ppl)) <- exp) {
        assert(out(id)._2 == m, s"doc $id n_trigrams")
        assert(out(id)._3 == h, s"doc $id h: got ${out(id)._3}, want $h")
        assert(out(id)._4 == ppl, s"doc $id ppl")
        assert(out(id)._5 == (ppl <= Thresh), s"doc $id keep")
      }
      // the branches genuinely differ: the all-seen doc scores far
      // better than the OOV doc
      assert(out(1L)._4 < out(3L)._4)
    } finally graft.CacheScope.drain()
  }

  test("stored trigram artifact serves identically to the fresh build") {
    try {
      val dir = java.nio.file.Files.createTempDirectory("lm3").toString
      val refDocs = docs.filter($"id" % 2 === 0)
      TextOps.writeLmModel(refDocs, $"id", $"text", 3, MaxV, MaxT, dir)
      val fresh = TextOps.knPerplexityFilter(docs, $"id", $"text",
          $"id" % 2 === 0, 3, MaxV, MaxT, Thresh)
        .select($"id", $"h", $"ppl").as[(Long, Double, Double)]
        .collect().toSet
      val stored = TextOps.knScoreAgainstModel(docs, $"id", $"text", dir,
          Thresh)
        .select($"id", $"h", $"ppl").as[(Long, Double, Double)]
        .collect().toSet
      assert(fresh == stored && fresh.nonEmpty)
    } finally graft.CacheScope.drain()
  }
}
