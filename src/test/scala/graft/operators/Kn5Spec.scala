package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** 5-gram interpolated Kneser-Ney (q254/q255's operator) against an
  * independent plain-Scala reference implementation of the published
  * recursion — every backoff level (seen 5-gram, continuation levels
  * 4/3/2, add-one unigram, OOV) exercised, plus the stored-artifact
  * contract. The reference derives each continuation table from the
  * one above it, exactly the published recursive type-count recipe.
  */
class Kn5Spec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val MaxV = 8
  private val MaxT = 10
  private val Thresh = 25.0

  private val docs = Seq(
    (0L, "the cat sat on the mat today fine"),
    (2L, "the cat sat on the hat today fine"),
    (4L, "the dog sat on the mat today fine"),
    (6L, "the cat ran on the mat today fine"),
    (1L, "the cat sat on the mat today fine"),   // all 5-grams seen
    (3L, "a zebra sat on purple mat quietly maybe"), // OOV: full backoff
    (5L, "mat the cat sat on"),                  // seen words, unseen contexts
    (7L, "xx yy zz qq")                          // < 5 tokens: dropped
  ).toDF("id", "text")

  private def reference(): Map[Long, (Long, Double, Double)] = {
    def round4(x: Double): Double =
      BigDecimal.valueOf(x)
        .setScale(4, scala.math.BigDecimal.RoundingMode.HALF_UP).toDouble
    val tok = docs.as[(Long, String)].collect().toSeq
      .map { case (i, t) =>
        (i, t.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq) }
      .filter(_._2.length >= 5)
    val ref = tok.filter(_._1 % 2 == 0)
    val uni = ref.flatMap(_._2).groupBy(identity).map { case (w, l) => (w, l.size) }
    val voc = uni.toSeq.sortBy { case (w, c) => (-c, w) }.take(MaxV).map(_._1).toSet
    val g5All = ref.flatMap(_._2.sliding(5).map(_.toVector))
      .filter(_.forall(voc))
      .groupBy(identity).map { case (k, l) => (k, l.size.toLong) }
    val g5 = g5All.toSeq
      .sortBy { case (g, n) => (-n, g.mkString("\u0000")) }.take(MaxT).toMap
    val cx5 = g5.groupBy(_._1.take(4))
      .map { case (k, m) => (k, (m.values.sum, m.size.toLong)) }
    val m4 = g5.keys.toSeq.groupBy(_.drop(1))
      .map { case (k, l) => (k, l.size.toLong) }
    val cx4 = m4.groupBy(_._1.take(3))
      .map { case (k, m) => (k, (m.values.sum, m.size.toLong)) }
    val m3 = m4.keys.toSeq.groupBy(_.drop(1))
      .map { case (k, l) => (k, l.size.toLong) }
    val cx3 = m3.groupBy(_._1.take(2))
      .map { case (k, m) => (k, (m.values.sum, m.size.toLong)) }
    val m2 = m3.keys.toSeq.groupBy(_.drop(1))
      .map { case (k, l) => (k, l.size.toLong) }
    val cx2 = m2.groupBy(_._1.take(1))
      .map { case (k, m) => (k, (m.values.sum, m.size.toLong)) }
    val cw = m2.keys.toSeq.groupBy(_.drop(1)).map { case (k, l) => (k, l.size.toLong) }
    val ntot = m2.size.toLong
    val nv = voc.size.toLong
    def disc(num: Long, den: Long, types: Long, lower: Double): Double =
      math.max(4 * num - 3, 0L).toDouble / (4 * den).toDouble +
        (3 * types).toDouble / (4 * den).toDouble * lower
    tok.map { case (id, ws) =>
      val dn = ws.sliding(5).map(_.toVector).toSeq
        .groupBy(identity).map { case (k, l) => (k, l.size.toLong) }
      val m = dn.values.sum
      val s = dn.toSeq.sortBy(_._1.mkString("\u0000")).map { case (g, n) =>
        val pc1 = (cw.getOrElse(g.drop(4), 0L) + 1).toDouble /
          (ntot + nv + 1).toDouble
        val pc2 = cx2.get(g.slice(3, 4)) match {
          case Some((nb, nd)) => disc(m2.getOrElse(g.drop(3), 0L), nb, nd, pc1)
          case None => pc1
        }
        val pc3 = cx3.get(g.slice(2, 4)) match {
          case Some((nb, nd)) => disc(m3.getOrElse(g.drop(2), 0L), nb, nd, pc2)
          case None => pc2
        }
        val pc4 = cx4.get(g.slice(1, 4)) match {
          case Some((nb, nd)) => disc(m4.getOrElse(g.drop(1), 0L), nb, nd, pc3)
          case None => pc3
        }
        val p = cx5.get(g.take(4)) match {
          case Some((cb, nf)) => disc(g5.getOrElse(g, 0L), cb, nf, pc4)
          case None => pc4
        }
        n.toDouble * math.log(p)
      }.foldLeft(0.0)(_ + _)
      val h = round4(-s / m)
      val ppl = round4(math.exp(h))
      id -> ((m, h, ppl))
    }.toMap
  }

  test("knPerplexityFilter at order 5 matches the independent recursion at every backoff level") {
    try {
      val exp = reference()
      val out = TextOps.knPerplexityFilter(docs, $"id", $"text",
          $"id" % 2 === 0, 5, MaxV, MaxT, Thresh)
        .select($"id", $"n_grams5", $"h", $"ppl", $"keep")
        .as[(Long, Long, Double, Double, Boolean)].collect()
        .map(r => r._1 -> r).toMap
      assert(out.keySet == exp.keySet, "id 7 (< 5 tokens) must drop")
      for ((id, (m, h, ppl)) <- exp) {
        assert(out(id)._2 == m, s"doc $id n_grams5")
        assert(out(id)._3 == h, s"doc $id h: got ${out(id)._3}, want $h")
        assert(out(id)._4 == ppl, s"doc $id ppl")
        assert(out(id)._5 == (ppl <= Thresh), s"doc $id keep")
      }
      // the ladder genuinely separates: all-seen beats full-backoff OOV
      assert(out(1L)._4 < out(3L)._4)
    } finally graft.CacheScope.drain()
  }

  test("stored 5-gram artifact serves identically to the fresh build") {
    try {
      val dir = java.nio.file.Files.createTempDirectory("lm5").toString
      val refDocs = docs.filter($"id" % 2 === 0)
      TextOps.writeLmModel(refDocs, $"id", $"text", 5, MaxV, MaxT, dir)
      val fresh = TextOps.knPerplexityFilter(docs, $"id", $"text",
          $"id" % 2 === 0, 5, MaxV, MaxT, Thresh)
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
