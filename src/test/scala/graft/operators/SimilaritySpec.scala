package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class SimilaritySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val vecs = Seq(
    (0L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
    (1L, Array(0.9f, 0.1f, 0.0f, 0.0f)),  // close to 0
    (2L, Array(0.0f, 1.0f, 0.0f, 0.0f)),  // orthogonal to 0
    (3L, Array(-1.0f, 0.0f, 0.0f, 0.0f)), // opposite of 0
    (4L, Array(1.0f, 0.0f, 0.0f, 0.0f))   // identical to 0
  ).toDF("vec_id", "embedding")

  test("cosine matches hand computation") {
    val c = vecs.filter($"vec_id" === 0L)
      .crossJoin(vecs.filter($"vec_id" === 1L).select($"embedding".as("b")))
      .select(round(Similarity.cosine($"embedding", $"b"), 6).as("c"))
      .as[Double].head()
    assert(c == math.rint(0.9 / math.sqrt(0.81 + 0.01) * 1e6) / 1e6)
  }

  test("bruteForceTopK ranks identical vector first, opposite last") {
    val queries = vecs.filter($"vec_id" === 0L)
      .select($"vec_id".as("q_id"), $"embedding".as("q_vec"))
    val top = Similarity.bruteForceTopK(queries, vecs, 4)
      .orderBy("rnk").as[(Long, Long, Double, Long)].collect()
    assert(top.map(_._2).toSeq == Seq(4L, 1L, 2L, 3L))
    assert(top.head._3 == 1.0 && top.last._3 == -1.0)
    assert(!top.exists(_._2 == 0L)) // self excluded
  }

  test("lshBucket: identical vectors share a bucket, opposite vectors differ") {
    val b = vecs.select($"vec_id", Similarity.lshBucket($"embedding", 4, 8).as("bucket"))
      .as[(Long, Long)].collect().toMap
    assert(b(0L) == b(4L))
    assert(b(0L) != b(3L)) // all 8 sign bits flip for the negated vector
  }

  test("lshTopK returns only same-bucket neighbours, exactly scored") {
    val queries = vecs.filter($"vec_id" === 0L)
      .select($"vec_id".as("q_id"), $"embedding".as("q_vec"))
    val res = Similarity.lshTopK(queries, vecs, 4, 10, 8)
      .as[(Long, Long, Double, Long)].collect()
    assert(res.exists(_._2 == 4L) && res.forall(_._2 != 3L))
  }

  test("cosineNearDupPairs finds the identical pair with score 1.0") {
    val pairs = Similarity.cosineNearDupPairs(vecs, 4, 0.99, 8)
      .as[(Long, Long, Double)].collect()
    assert(pairs.exists(p => p._1 == 0L && p._2 == 4L && p._3 == 1.0))
  }

  test("semanticDedup drops the higher-id duplicate within a cell, keeps the rest") {
    // vec 4 is identical to vec 0 (cosine 1.0) -> same cell, 4 dropped;
    // 0 survives as the lower id; everything else is unique enough
    val kept = Similarity.semanticDedup(vecs, nCells = 2, threshold = 0.99)
      .as[Long].collect().toSet
    assert(!kept.contains(4L) && kept.contains(0L))
    assert(kept.size == vecs.count() - 1)
  }

  // Adversarially skewed corpus: 1500 copies of ONE vector + 300
  // near-identical-but-distinct vectors in one tight direction + 200
  // spread vectors. A fixed small cell count would put ~1800 rows in one
  // cell (≈1.6M candidate pairs); the capped assignment must keep every
  // cell under the 4×target cap regardless.
  private def skewed = {
    val dim = 8
    def unit(d: Int) = Array.tabulate(dim)(i => if (i == d % dim) 1.0f else 0.0f)
    val copies = (0 until 1500).map(i => (i.toLong, unit(0)))
    val tight = (1500 until 1800).map { i =>
      // distinct but nearly parallel: tiny second component
      (i.toLong, Array.tabulate(dim)(d =>
        if (d == 0) 1.0f else if (d == 1) (i - 1499) * 1e-6f else 0.0f))
    }
    // deterministic pseudo-random signed vectors (seeded per id — JVM
    // LCG is platform-stable): pairwise distinct, cosine centered on 0,
    // far from the 0.999 dedup threshold
    val spread = (1800 until 2000).map { i =>
      val r = new scala.util.Random(i)
      (i.toLong, Array.fill(dim)(r.nextFloat() * 2f - 1f))
    }
    (copies ++ tight ++ spread).toDF("vec_id", "embedding")
  }

  test("cappedCells: no cell exceeds the cap on an adversarially skewed corpus") {
    val target = 50
    val cells = Similarity.cappedCells(skewed, target)
    // exact collapse first: 1500 copies → 1 representative
    assert(cells.count() == (2000 - 1500 + 1))
    val maxSz = cells.groupBy("cell").count()
      .agg(max("count")).as[Long].head()
    assert(maxSz <= 4L * target,
      s"a cell holds $maxSz rows — pair bound broken (cap ${4 * target})")
  }

  test("semanticDedupCapped: keeps min-id of the duplicate mass, bounded cells") {
    val kept = Similarity.semanticDedupCapped(skewed, 50, 0.999)
      .as[Long].collect().toSet
    // the 1500 identical copies collapse to their min id
    assert(kept.contains(0L))
    assert((1L until 1500L).forall(i => !kept.contains(i)))
    // spread vectors survive (allow a handful of chance near-dups among
    // the pseudo-random directions)
    assert((1800L until 2000L).count(kept.contains) >= 190)
    // and it agrees with the uncapped form on the small benign corpus
    val a = Similarity.semanticDedupCapped(vecs, targetCellSize = 3, threshold = 0.99)
      .as[Long].collect().toSet
    assert(!a.contains(4L) && a.contains(0L))
  }

  test("semanticDedupCapped: pinned drop-recall floor and perfect precision on real embeddings") {
    // measured on the REAL harness embeddings (deterministic): brute force
    // finds 188 of 500 vectors with cosine >= 0.35 to a lower-id vector;
    // the capped form at target 30 drops 50 of them (recall 0.266 — the
    // in-cell restriction misses cross-cell pairs by design, the published
    // SemDeDup tradeoff). Pin slightly below the measurement, and pin the
    // exactness property: every capped drop IS a true near-dup (the cosine
    // verify is exact inside cells, so precision is 1.0 by construction).
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val t = 0.35
    val trueDrops = emb.as("x").join(emb.as("y"),
        col("x.vec_id") < col("y.vec_id"))
      .filter(round(Similarity.cosine(col("x.embedding"), col("y.embedding")), 4) >= t)
      .select(col("y.vec_id")).distinct().as[Long].collect().toSet
    val allIds = emb.select("vec_id").as[Long].collect().toSet
    val kept = Similarity.semanticDedupCapped(emb, 30, t).as[Long].collect().toSet
    val cappedDrops = allIds -- kept
    assert(cappedDrops.subsetOf(trueDrops),
      s"capped dropped non-near-dups: ${(cappedDrops -- trueDrops).take(5)}")
    val recall = cappedDrops.size.toDouble / trueDrops.size
    assert(recall >= 0.25, s"drop recall $recall (${cappedDrops.size}/${trueDrops.size})")
  }

  test("semanticDedupMultiCell: catches a seeded boundary-straddling pair single-cell misses") {
    // the exact failure mode the top-2 assignment exists for: vectors 10
    // and 11 are near-identical (cos 0.9945) but sit on opposite sides of
    // the c0/c1 centroid boundary — each one's best cell is the other's
    // runner-up, so single-cell candidate generation never co-locates
    // them; top-2 puts both in both cells and the pair is witnessed.
    val fixture = Seq(
      (0L, Array(1f, 0f, 0f, 0f)),  // centroid c0 (centroidsOf = first 2 ids)
      (1L, Array(0f, 1f, 0f, 0f)),  // centroid c1
      (10L, Array(0.9f, 1f, 0f, 0f)),  // best c1, runner-up c0
      (11L, Array(1f, 0.9f, 0f, 0f))   // best c0, runner-up c1
    ).toDF("vec_id", "embedding")
    try {
      val single = Similarity.semanticDedup(fixture, 2, 0.95)
        .as[Long].collect().toSet
      val multi = Similarity.semanticDedupMultiCell(fixture, 2, 0.95, 2)
        .as[Long].collect().toSet
      assert(single == Set(0L, 1L, 10L, 11L), s"single-cell missed nothing else: $single")
      assert(multi == Set(0L, 1L, 10L), s"top-2 should drop 11 (dup of 10): $multi")
    } finally graft.CacheScope.drain()
  }

  test("semanticDedupMultiCell: pinned recall gain over single-cell on real embeddings") {
    // measured on the REAL harness embeddings (deterministic): of the 188
    // true drops (cosine >= 0.35 to a lower-id vector), single-cell at
    // nCells=16 finds 51 (recall 0.271), top-2 finds 112 (recall 0.596) —
    // boundary-straddling pairs are most of what single-cell misses. Pin
    // slightly below the measurements, pin the 2x improvement, and pin
    // perfect precision (the in-cell cosine verify is exact).
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val t = 0.35
    try {
      val trueDrops = emb.as("x").join(emb.as("y"),
          col("x.vec_id") < col("y.vec_id"))
        .filter(round(Similarity.cosine(col("x.embedding"), col("y.embedding")), 4) >= t)
        .select(col("y.vec_id")).distinct().as[Long].collect().toSet
      val allIds = emb.select("vec_id").as[Long].collect().toSet
      val singleDrops = allIds --
        Similarity.semanticDedup(emb, 16, t).as[Long].collect().toSet
      val multiDrops = allIds --
        Similarity.semanticDedupMultiCell(emb, 16, t, 2).as[Long].collect().toSet
      assert(multiDrops.subsetOf(trueDrops),
        s"multi-cell dropped non-near-dups: ${(multiDrops -- trueDrops).take(5)}")
      val rs = singleDrops.size.toDouble / trueDrops.size
      val rm = multiDrops.size.toDouble / trueDrops.size
      assert(rm >= 0.55, s"multi-cell recall $rm (measured 0.596)")
      assert(rm >= 2 * rs, s"multi $rm vs single $rs — the reason the knob exists")
    } finally graft.CacheScope.drain()
  }

  test("semanticDedupCapped nAssign=2: recall gain over top-1, caps still hold, precision exact") {
    // the q151 knob composed onto the CAPPED (production-scale) form:
    // top-2 assignment must recover boundary-straddling drops that capped
    // top-1 misses, while the per-cell cap — the whole point of the capped
    // form — still bounds every cell, and every drop stays a true near-dup.
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val t = 0.35
    try {
      val trueDrops = emb.as("x").join(emb.as("y"),
          col("x.vec_id") < col("y.vec_id"))
        .filter(round(Similarity.cosine(col("x.embedding"), col("y.embedding")), 4) >= t)
        .select(col("y.vec_id")).distinct().as[Long].collect().toSet
      val allIds = emb.select("vec_id").as[Long].collect().toSet
      val d1 = allIds --
        Similarity.semanticDedupCapped(emb, 30, t).as[Long].collect().toSet
      val d2 = allIds --
        Similarity.semanticDedupCapped(emb, 30, t, nAssign = 2)
          .as[Long].collect().toSet
      assert(d2.subsetOf(trueDrops),
        s"capped top-2 dropped non-near-dups: ${(d2 -- trueDrops).take(5)}")
      assert(d2.size > d1.size,
        s"top-2 must witness strictly more boundary pairs: ${d2.size} vs ${d1.size}")
      val r2 = d2.size.toDouble / trueDrops.size
      assert(r2 >= 0.40, s"capped top-2 drop recall $r2 (top-1 measured 0.266)")
      // the cap invariant survives multi-assignment
      val maxSz = Similarity.cappedCells(emb, 30, nAssign = 2)
        .groupBy("cell").count().agg(max("count")).as[Long].head()
      assert(maxSz <= 4L * 30, s"a cell holds $maxSz rows with nAssign=2")
    } finally graft.CacheScope.drain()
  }

  test("stored IVF index probe equals the from-scratch ivfTopK, and rebuild is idempotent") {
    // the index-integrity contract: persisting centroids + cell lists and
    // probing them must reproduce ivfTopK exactly (same deterministic
    // quantizer, same rounding) — float embeddings round-trip parquet
    // bit-identically
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.filter($"vec_id" % 50 === 0)
      .select($"vec_id".as("q_id"), $"embedding".as("q_vec"))
    val dir = java.nio.file.Files.createTempDirectory("ivfidx").toString
    try {
      Similarity.writeIvfIndexVersioned(emb, dir, 16)
      def sorted(df: org.apache.spark.sql.DataFrame) =
        df.as[(Long, Long, Double, Long)].collect().sortBy(r => (r._1, r._4))
      val stored = sorted(Similarity.ivfTopKAgainstIndex(queries, dir, 2, 10))
      val fresh = sorted(Similarity.ivfTopK(queries, emb, 16, 2, 10))
      assert(stored.nonEmpty && stored.toSeq == fresh.toSeq)
      // overwrite-idempotent rebuild
      Similarity.writeIvfIndexVersioned(emb, dir, 16)
      assert(sorted(Similarity.ivfTopKAgainstIndex(queries, dir, 2, 10))
        .toSeq == fresh.toSeq)
      // incremental ingestion: build on a slice that contains the whole
      // centroid id range, ingest the rest — probing build+ingest must
      // equal probing the from-scratch full build (frozen quantizer ==
      // full-corpus quantizer by construction)
      val dir2 = java.nio.file.Files.createTempDirectory("ivfidx2").toString
      Similarity.writeIvfIndexVersioned(
        emb.filter($"vec_id" < 16 || $"vec_id" % 3 =!= 1), dir2, 16)
      Similarity.ingestIntoIvfIndex(
        emb.filter($"vec_id" >= 16 && $"vec_id" % 3 === 1), dir2, 1L)
      assert(sorted(Similarity.ivfTopKAgainstIndex(queries, dir2, 2, 10))
        .toSeq == fresh.toSeq)
    } finally graft.CacheScope.drain()
  }

  test("PQ-compressed IVF: pinned recall@10 floor vs exact; codes far smaller than raw lists") {
    // IVFADC + refine on the REAL sf0.01 embeddings (deterministic
    // codebooks, fixed Lloyd iterations): measured recall@10 at nCells=16
    // nProbe=2, M=8, nCodes=16, shortlist=50 — the PQ probe matches the
    // raw-list probe (the shortlist + exact re-rank recovers everything
    // ADC misranks within the probed cells), both ~0.305. Pin the PQ
    // floor slightly below, pin PQ ≥ raw − ε (re-rank must not lose
    // candidates), and pin the storage ratio the layout exists for.
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
      .select($"vec_id", $"embedding")
    val queries = emb.filter(col("vec_id") % 25 === 0)
      .select($"vec_id".as("q_id"), $"embedding".as("q_vec"))
    val dir = java.nio.file.Files.createTempDirectory("ivf-pq").toString
    val dirRaw = java.nio.file.Files.createTempDirectory("ivf-raw").toString
    try {
      def topSet(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
        df.select("q_id", "vec_id").as[(Long, Long)].collect()
          .groupBy(_._1).map { case (q, a) => q -> a.map(_._2).toSet }
      val exact = topSet(Similarity.bruteForceTopK(queries, emb, 10))
      def recall(approx: Map[Long, Set[Long]]): Double =
        exact.map { case (q, e) =>
          approx.getOrElse(q, Set.empty).count(e).toDouble / e.size
        }.sum / exact.size
      Similarity.writeIvfIndexVersioned(emb, dir, 16,
        codec = Similarity.IvfCodec.Pq(mSub = 8, nCodes = 16))
      Similarity.writeIvfIndexVersioned(emb, dirRaw, 16)
      val pq = recall(topSet(Similarity.ivfTopKAgainstIndex(queries, dir, 2, 10)))
      val raw = recall(topSet(Similarity.ivfTopKAgainstIndex(queries, dirRaw, 2, 10)))
      assert(pq >= 0.28, s"PQ recall $pq (raw-list probe measured ~0.305)")
      assert(pq >= raw - 0.02,
        s"shortlist+re-rank must not lose the raw probe's candidates: pq $pq vs raw $raw")
      // the scanned index is the point: codes bytes ≪ raw list bytes
      val codesBytes = Compaction.dataBytes(spark, s"$dir/codes")
      val rawBytes = Compaction.dataBytes(spark, s"$dirRaw/lists")
      assert(codesBytes * 4 < rawBytes,
        s"codes $codesBytes !≪ raw $rawBytes")
      // re-ranked scores are the EXACT rounded cosine (not ADC estimates)
      val out = Similarity.ivfTopKAgainstIndex(queries, dir, 2, 10)
        .select("q_id", "vec_id", "score").as[(Long, Long, Double)].collect()
      val byId = emb.as[(Long, Array[Float])].collect().toMap
      def cosD(a: Array[Float], b: Array[Float]): Double = {
        var d = 0.0; var na = 0.0; var nb = 0.0
        for (i <- a.indices) {
          d += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i)
        }
        d / (math.sqrt(na) * math.sqrt(nb))
      }
      out.foreach { case (q, v, s) =>
        val e = BigDecimal(cosD(byId(q), byId(v)))
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
        assert(math.abs(s - e) < 2e-4, s"($q,$v): stored $s vs exact $e")
      }
    } finally graft.CacheScope.drain()
  }

  test("residual PQ (IVFADC proper): ADC shortlist recall beats raw-vector PQ at equal bytes") {
    // the residual encoding's whole point: with the shortlist squeezed to
    // k (so the exact re-rank CANNOT rescue ADC misranking), the residual
    // codes rank candidates better than raw-vector codes at the same
    // (M, nCodes) byte budget. Measured on the real sf0.01 embeddings at
    // nCells=16 nProbe=2 M=8 nCodes=16 shortlist=10.
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
      .select($"vec_id", $"embedding")
    val queries = emb.filter(col("vec_id") % 25 === 0)
      .select($"vec_id".as("q_id"), $"embedding".as("q_vec"))
    val dir = java.nio.file.Files.createTempDirectory("ivf-pq-rawcmp").toString
    try {
      def topSet(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
        df.select("q_id", "vec_id").as[(Long, Long)].collect()
          .groupBy(_._1).map { case (q, a) => q -> a.map(_._2).toSet }
      val exact = topSet(Similarity.bruteForceTopK(queries, emb, 10))
      def recall(approx: Map[Long, Set[Long]]): Double =
        exact.map { case (q, e) =>
          approx.getOrElse(q, Set.empty).count(e).toDouble / e.size
        }.sum / exact.size
      Similarity.writeIvfIndexVersioned(emb, dir, 16,
        codec = Similarity.IvfCodec.Pq(mSub = 8, nCodes = 16, trainIters = 3))
      val raw = recall(topSet(
        Similarity.ivfTopKAgainstIndex(queries, dir, 2, 10, shortlist = 10)))
      val res = recall(topSet(
        Similarity.pqResidualTopK(queries, emb, 16, 8, 16, 2, 10,
          shortlist = 10, trainIters = 3)))
      // measured: raw 0.18, residual 0.195 (the probed-cells ceiling at
      // nProbe=2 is ~0.305 — ADC ranking quality is the only difference)
      info(s"ADC-limited recall@10 (3 Lloyd iters): raw-PQ $raw, residual-PQ $res")
      assert(res >= raw,
        s"residual codes must rank at least as well as raw codes: $res vs $raw")
      assert(res >= 0.18, s"residual ADC recall floor: $res (measured 0.195)")
    } finally graft.CacheScope.drain()
  }

  test("annEvalReport: recall/rr equal an independent recomputation; macro recall = the pinned probe ceiling") {
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
      .select($"vec_id", $"embedding")
    val queries = emb.filter(col("vec_id") % 25 === 0)
      .select($"vec_id".as("q_id"), $"embedding".as("q_vec"))
    try {
      val rep = Similarity.annEvalReport(queries, emb, 16, 2, 10)
        .as[(Long, Long, Double, Double)].collect().map(r => r._1 -> r).toMap
      val truth = Similarity.bruteForceTopK(queries, emb, 10)
        .select("q_id", "vec_id").as[(Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      val sys = Similarity.ivfTopK(queries, emb, 16, 2, 10)
        .select("q_id", "vec_id", "rnk").as[(Long, Long, Long)].collect()
        .groupBy(_._1)
      def r4(x: Double) = BigDecimal(x)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      val qids = queries.select($"q_id").as[Long].collect()
      assert(rep.keySet == qids.toSet)
      for (q <- qids) {
        val hits = sys.getOrElse(q, Array.empty)
          .filter(s => truth.getOrElse(q, Set.empty)(s._2))
        val expHits = hits.length.toLong
        val expRr = if (hits.isEmpty) 0.0 else r4(1.0 / hits.map(_._3).min)
        assert(rep(q) == ((q, expHits, r4(expHits.toDouble / 10), expRr)), s"q $q")
      }
      // macro recall = the probed-cells ceiling every index spec pins
      val macroR = rep.values.map(_._3).sum / rep.size
      assert(math.abs(macroR - 0.305) < 1e-9, s"macro recall $macroR")
    } finally graft.CacheScope.drain()
  }

  test("annEvalReport: recall reaches 1.0 on corpora smaller than k+1 (denominator = per-query truth count, not k)") {
    // 6 vectors, k=10 → only 5 truth rows per query; a full probe
    // (nProbe = nCells) retrieves everything, so recall must be exactly
    // 1.0 — dividing by the constant k would cap it at 0.5
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
      .select($"vec_id", $"embedding").filter($"vec_id" < 6)
    val queries = emb.filter($"vec_id" === 0)
      .select($"vec_id".as("q_id"), $"embedding".as("q_vec"))
    try {
      val rep = Similarity.annEvalReport(queries, emb, 2, 2, 10)
        .as[(Long, Long, Double, Double)].collect()
      assert(rep.length == 1)
      assert(rep(0)._2 == 5L, s"n_hits ${rep(0)._2}")
      assert(rep(0)._3 == 1.0, s"recall ${rep(0)._3}")
      assert(rep(0)._4 == 1.0, s"rr ${rep(0)._4}")
    } finally graft.CacheScope.drain()
  }

  test("SQ8: per-dim quantization error bounded by step/2; ADC-limited recall ~ raw-probe ceiling") {
    // scalar quantization at 1 byte/dim (64 bytes/vector here) carries
    // far more precision than the 8-byte PQ codes — with the shortlist
    // squeezed to k (no re-rank rescue) its approx-cosine ranking should
    // sit at the probed-cells ceiling itself (raw-list probe ~0.305 at
    // nCells=16 nProbe=2 on the real sf0.01 embeddings)
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
      .select($"vec_id", $"embedding")
    val queries = emb.filter(col("vec_id") % 25 === 0)
      .select($"vec_id".as("q_id"), $"embedding".as("q_vec"))
    try {
      def topSet(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
        df.select("q_id", "vec_id").as[(Long, Long)].collect()
          .groupBy(_._1).map { case (q, a) => q -> a.map(_._2).toSet }
      val exact = topSet(Similarity.bruteForceTopK(queries, emb, 10))
      def recall(approx: Map[Long, Set[Long]]): Double =
        exact.map { case (q, e) =>
          approx.getOrElse(q, Set.empty).count(e).toDouble / e.size
        }.sum / exact.size
      val sq = recall(topSet(
        Similarity.sq8TopK(queries, emb, 16, 2, 10, shortlist = 10)))
      info(s"SQ8 ADC-limited recall@10: $sq")
      assert(sq >= 0.28, s"SQ8 shortlist=k recall floor: $sq (raw ceiling ~0.305)")
      // quantization guarantee: |reconstruction − x| ≤ step_d/2 per dim
      // (+1 ulp slack), with step derived exactly as the operator does
      val vecs = emb.as[(Long, Array[Float])].collect()
      val dim = vecs.head._2.length
      val mn = Array.tabulate(dim)(d => vecs.map(_._2(d).toDouble).min)
      val mx = Array.tabulate(dim)(d => vecs.map(_._2(d).toDouble).max)
      for ((_, v) <- vecs.take(50); d <- 0 until dim) {
        val step = (mx(d) - mn(d)) / 255.0
        if (step > 0) {
          val code = math.min(255, math.max(0,
            math.floor((v(d) - mn(d)) / step + 0.5).toInt))
          val rec = mn(d) + code * step
          assert(math.abs(rec - v(d)) <= step / 2 + 1e-12,
            s"dim $d: |${rec} - ${v(d)}| > step/2 = ${step / 2}")
        }
      }
    } finally graft.CacheScope.drain()
  }

  test("SQ8 index lifecycle: stored ≡ direct; frozen-quantizer ingest, replay convergence, compaction probe-identical, deletion erases") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select($"vec_id", $"embedding")
    val queries = emb.filter(col("vec_id") % 50 === 0)
      .select($"vec_id".as("q_id"), $"embedding".as("q_vec"))
    val dir = java.nio.file.Files.createTempDirectory("ivf-sq-lc").toString
    val dirFull = java.nio.file.Files.createTempDirectory("ivf-sq-full").toString
    try {
      def probe(d: String = dir) =
        Similarity.ivfTopKAgainstIndex(queries, d, 2, 10)
          .select("q_id", "vec_id", "score", "rnk")
          .as[(Long, Long, Double, Long)].collect().toSet
      // stored ≡ direct over the same corpus (the gate contract, locally)
      Similarity.writeIvfIndexVersioned(emb, dirFull, 16,
        codec = Similarity.IvfCodec.Sq8)
      val direct = Similarity.sq8TopK(queries, emb, 16, 2, 10)
        .select("q_id", "vec_id", "score", "rnk")
        .as[(Long, Long, Double, Long)].collect().toSet
      assert(probe(dirFull) == direct && direct.nonEmpty)
      // lifecycle: build half, ingest the other half against the FROZEN
      // quantizer (stats stay the build's — the rebuild-and-swap contract)
      Similarity.writeIvfIndexVersioned(emb.filter($"vec_id" % 2 === 0), dir, 16,
        codec = Similarity.IvfCodec.Sq8)
      val statsBefore = spark.read.parquet(s"$dir/sqstats")
        .as[(Int, Double, Double)].collect().toSet
      val buildOnly = probe()
      Similarity.ingestIntoIvfIndex(emb.filter($"vec_id" % 2 === 1), dir, 1L)
      assert(spark.read.parquet(s"$dir/sqstats")
        .as[(Int, Double, Double)].collect().toSet == statsBefore,
        "ingest must not move the frozen quantizer stats")
      val afterIngest = probe()
      assert(afterIngest.exists(_._2 % 2 == 1), "ingested vectors invisible")
      assert(afterIngest != buildOnly)
      // replayed ingest converges to the identical index
      Similarity.ingestIntoIvfIndex(emb.filter($"vec_id" % 2 === 1), dir, 1L)
      assert(probe() == afterIngest)
      // compaction (the PQ layout's shared op) is probe-identical
      Similarity.compactIvfIndex(spark, dir)
      assert(probe() == afterIngest)
      // deletion erases: deleted ids never appear again, bytes gone
      val victims = emb.filter($"vec_id" % 10 === 3).select($"vec_id")
      Similarity.deleteFromIvfIndex(spark, dir, victims)
      val afterDelete = probe()
      assert(!afterDelete.exists(_._2 % 10 == 3), "deleted ids still probed")
      assert(afterDelete.nonEmpty)
    } finally graft.CacheScope.drain()
  }

  test("residual-PQ index lifecycle: frozen-quantizer ingest, replay convergence, compaction probe-identical, deletion erases") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select($"vec_id", $"embedding")
    val queries = emb.filter(col("vec_id") % 50 === 0)
      .select($"vec_id".as("q_id"), $"embedding".as("q_vec"))
    val dir = java.nio.file.Files.createTempDirectory("ivf-pqr-lc").toString
    try {
      def probe() = Similarity.ivfTopKAgainstIndex(queries, dir, 2, 10)
        .select("q_id", "vec_id", "score", "rnk")
        .as[(Long, Long, Double, Long)].collect().toSet
      Similarity.writeIvfIndexVersioned(emb.filter($"vec_id" % 2 === 0), dir, 16,
        codec = Similarity.IvfCodec.Pqr(8, 16))
      val buildOnly = probe()
      Similarity.ingestIntoIvfIndex(emb.filter($"vec_id" % 2 === 1), dir, 1L)
      val afterIngest = probe()
      // the ingested half is visible (odd ids can now be retrieved)
      assert(afterIngest.exists(_._2 % 2 == 1), "ingested vectors invisible")
      assert(afterIngest != buildOnly)
      // replayed ingest converges to the identical index
      Similarity.ingestIntoIvfIndex(emb.filter($"vec_id" % 2 === 1), dir, 1L)
      assert(probe() == afterIngest)
      // compaction is probe-identical (n2x must survive the fold)
      Similarity.compactIvfIndex(spark, dir)
      assert(probe() == afterIngest)
      // deletion erases: deleted ids never appear again
      val victims = emb.filter($"vec_id" % 10 === 3).select($"vec_id")
      Similarity.deleteFromIvfIndex(spark, dir, victims)
      val afterDelete = probe()
      assert(!afterDelete.exists(_._2 % 10 == 3), "deleted ids still probed")
      assert(afterDelete.nonEmpty)
    } finally graft.CacheScope.drain()
  }

  test("PQ index: replay-safe versioned ingest with frozen codebooks; compaction probe-identical") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select($"vec_id", $"embedding")
    val queries = emb.filter(col("vec_id") % 50 === 0)
      .select($"vec_id".as("q_id"), $"embedding".as("q_vec"))
    val dir = java.nio.file.Files.createTempDirectory("ivf-pq-inc").toString
    val dirFull = java.nio.file.Files.createTempDirectory("ivf-pq-full").toString
    def probe(d: String) = Similarity.ivfTopKAgainstIndex(queries, d, 2, 10)
      .as[(Long, Long, Double, Long)].collect().sortBy(r => (r._1, r._4)).toSeq
    try {
      // build on the initial slice (centroid + codebook id ranges included,
      // so the frozen quantizer/codebooks equal the full-corpus ones),
      // ingest the rest; training-free codebooks so build+ingest must
      // EQUAL a from-scratch build over the union
      val initial = emb.filter($"vec_id" < 16 || $"vec_id" % 3 =!= 1)
      val batch = emb.filter($"vec_id" >= 16 && $"vec_id" % 3 === 1)
      Similarity.writeIvfIndexVersioned(initial, dir, 16,
        codec = Similarity.IvfCodec.Pq(8, 16, trainIters = 0))
      Similarity.ingestIntoIvfIndex(batch, dir, 1L)
      Similarity.writeIvfIndexVersioned(emb, dirFull, 16,
        codec = Similarity.IvfCodec.Pq(8, 16, trainIters = 0))
      val p1 = probe(dir)
      assert(p1 == probe(dirFull), "build+ingest must equal the from-scratch union build")
      // crash-replay of batch 1: identical contents, identical probe
      Similarity.ingestIntoIvfIndex(batch, dir, 1L)
      assert(probe(dir) == p1)
      assert(spark.read.parquet(s"$dir/codes").count() == emb.count())
      // compaction: epoch swap, probe-identical, consolidated batches
      assert(Similarity.compactIvfIndex(spark, dir) == 1)
      assert(probe(dir) == p1, "probe must be identical across PQ compaction")
      assert(!new java.io.File(s"$dir/codes").exists())
      assert(spark.read.parquet(s"$dir/codes_e1")
        .select("batch").distinct().count() == 1)
      assert(spark.read.parquet(s"$dir/vectors_e1").count() == emb.count())
      // post-compaction ingest lands in the new epoch and is probed
      val extraId = emb.agg(max($"vec_id")).as[Long].head() + 1
      Similarity.ingestIntoIvfIndex(
        emb.filter($"vec_id" === 0).select(lit(extraId).as("vec_id"), $"embedding"),
        dir, 2L)
      assert(probe(dir).exists(_._2 == extraId))
    } finally graft.CacheScope.drain()
  }

  test("compactIvfIndex: probe-identical, fewer files, ingest continues in the new epoch") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select($"vec_id", $"embedding")
    val queries = emb.filter($"vec_id" % 50 === 0)
      .select($"vec_id".as("q_id"), $"embedding".as("q_vec"))
    val dir = java.nio.file.Files.createTempDirectory("ivf-compact").toString
    def probe = Similarity.ivfTopKAgainstIndex(queries, dir, 2, 10)
      .as[(Long, Long, Double, Long)].collect().sortBy(r => (r._1, r._4)).toSeq
    try {
      // build (batch 0, centroid id range included) + two ingests
      Similarity.writeIvfIndexVersioned(
        emb.filter($"vec_id" < 16 || $"vec_id" % 3 === 0), dir, 16)
      Similarity.ingestIntoIvfIndex(
        emb.filter($"vec_id" >= 16 && $"vec_id" % 3 === 1), dir, 1L)
      Similarity.ingestIntoIvfIndex(
        emb.filter($"vec_id" >= 16 && $"vec_id" % 3 === 2), dir, 2L)
      val before = probe
      val filesBefore = Compaction.dataFileCount(spark, s"$dir/lists")
      assert(Similarity.compactIvfIndex(spark, dir) == 1)
      assert(probe == before, "probe must be identical across compaction")
      val filesAfter = Compaction.dataFileCount(spark, s"$dir/lists_e1")
      assert(filesAfter < filesBefore, s"$filesAfter !< $filesBefore")
      assert(!new java.io.File(s"$dir/lists").exists()) // old epoch dropped
      // no row lost or duplicated by the rewrite
      assert(spark.read.parquet(s"$dir/lists_e1").count() == emb.count())
      assert(spark.read.parquet(s"$dir/lists_e1")
        .select("batch").distinct().count() == 1)
      // post-compaction ingest lands in the new epoch and probes see it;
      // a second compaction (of a marked epoch) is stable too
      val extraId = emb.agg(max($"vec_id")).as[Long].head() + 1
      Similarity.ingestIntoIvfIndex(
        emb.filter($"vec_id" === 0).select(lit(extraId).as("vec_id"), $"embedding"),
        dir, 3L)
      val p3 = probe
      assert(p3.exists(_._2 == extraId), "post-compaction ingest must be probed")
      assert(Similarity.compactIvfIndex(spark, dir) == 2)
      assert(probe == p3)
    } finally graft.CacheScope.drain()
  }

  test("deleteFromIvfIndex: bytes erased, probe == survivors-built index, idempotent") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select($"vec_id", $"embedding")
    val queries = emb.filter($"vec_id" % 50 === 0)
      .select($"vec_id".as("q_id"), $"embedding".as("q_vec"))
    // victims avoid the centroid id range, so the index's FROZEN quantizer
    // equals the survivors' own training-free quantizer — probe equality
    // against a survivors-only build is then exact, not approximate
    val del = emb.filter($"vec_id" >= 16 && $"vec_id" % 7 === 3)
      .select($"vec_id")
    val survivors = emb.join(del, Seq("vec_id"), "left_anti")
    val dir = java.nio.file.Files.createTempDirectory("ivf-del").toString
    val dir2 = java.nio.file.Files.createTempDirectory("ivf-del2").toString
    def probe(d: String) = Similarity.ivfTopKAgainstIndex(queries, d, 2, 10)
      .as[(Long, Long, Double, Long)].collect().sortBy(r => (r._1, r._4)).toSeq
    try {
      Similarity.writeIvfIndexVersioned(
        emb.filter($"vec_id" < 16 || $"vec_id" % 3 =!= 1), dir, 16)
      Similarity.ingestIntoIvfIndex(
        emb.filter($"vec_id" >= 16 && $"vec_id" % 3 === 1), dir, 1L)
      val delSet = del.as[Long].collect().toSet
      val pre = probe(dir)
      assert(pre.exists(r => delSet(r._2))) // victims score pre-delete
      assert(Similarity.deleteFromIvfIndex(spark, dir, del) == 1)
      val post = probe(dir)
      assert(post.forall(r => !delSet(r._2)) && post != pre)
      Similarity.writeIvfIndexVersioned(survivors, dir2, 16)
      assert(post == probe(dir2), "delete must equal a survivors-only build")
      // the deleted vectors' bytes are GONE from the stored lists
      val stored = spark.read.parquet(s"$dir/lists_e1")
      assert(stored.filter($"vec_id".isin(delSet.toSeq: _*)).count() == 0)
      assert(stored.count() == survivors.count())
      // idempotent: re-running the same delete is a no-op rewrite
      assert(Similarity.deleteFromIvfIndex(spark, dir, del) == 2)
      assert(probe(dir) == post)
    } finally graft.CacheScope.drain()
  }

  test("deleteFromIvfIndexPQ: codes AND raw vectors erased, probe == survivors-built index") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select($"vec_id", $"embedding")
    val queries = emb.filter($"vec_id" % 50 === 0)
      .select($"vec_id".as("q_id"), $"embedding".as("q_vec"))
    // victims avoid the centroid AND codebook seed range (both derive from
    // the 16 smallest ids at trainIters=0), so survivors-built quantizer
    // and codebooks are identical — exact probe equality applies
    val del = emb.filter($"vec_id" >= 16 && $"vec_id" % 7 === 3)
      .select($"vec_id")
    val survivors = emb.join(del, Seq("vec_id"), "left_anti")
    val dir = java.nio.file.Files.createTempDirectory("pq-del").toString
    val dir2 = java.nio.file.Files.createTempDirectory("pq-del2").toString
    def probe(d: String) =
      Similarity.ivfTopKAgainstIndex(queries, d, 2, 10, 50)
        .as[(Long, Long, Double, Long)].collect().sortBy(r => (r._1, r._4)).toSeq
    try {
      Similarity.writeIvfIndexVersioned(emb, dir, 16,
        codec = Similarity.IvfCodec.Pq(8, 16, trainIters = 0))
      val delSet = del.as[Long].collect().toSet
      val pre = probe(dir)
      assert(pre.exists(r => delSet(r._2)))
      assert(Similarity.deleteFromIvfIndex(spark, dir, del) == 1)
      val post = probe(dir)
      assert(post.forall(r => !delSet(r._2)) && post != pre)
      Similarity.writeIvfIndexVersioned(survivors, dir2, 16,
        codec = Similarity.IvfCodec.Pq(8, 16, trainIters = 0))
      assert(post == probe(dir2), "delete must equal a survivors-only build")
      // BOTH stores erased — the refine store holds the actual embeddings,
      // so a codes-only delete would leave the data recoverable
      val codes = spark.read.parquet(s"$dir/codes_e1")
      val vecs = spark.read.parquet(s"$dir/vectors_e1")
      assert(codes.filter($"vec_id".isin(delSet.toSeq: _*)).count() == 0)
      assert(vecs.filter($"vec_id".isin(delSet.toSeq: _*)).count() == 0)
      assert(codes.count() == survivors.count() && vecs.count() == survivors.count())
    } finally graft.CacheScope.drain()
  }

  test("PQ dim permutation (OPQ-grade knob): stored in meta, recall floor holds, ingest replays it") {
    val emb01 = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
      .select($"vec_id", $"embedding")
    val queries01 = emb01.filter(col("vec_id") % 25 === 0)
      .select($"vec_id".as("q_id"), $"embedding".as("q_vec"))
    val dir = java.nio.file.Files.createTempDirectory("pq-perm").toString
    try {
      // the permutation itself: a total reorder of 0..dim-1
      val p = Similarity.pqDimPermutation(64)
      assert(p.sorted.toSeq == (0 until 64) && p.toSeq != (0 until 64),
        "must be a non-identity permutation")
      Similarity.writeIvfIndexVersioned(emb01, dir, 16,
        codec = Similarity.IvfCodec.Pq(8, 16, permuteDims = true))
      assert(spark.read.parquet(s"$dir/meta").head()
        .getAs[scala.collection.Seq[Int]]("perm").nonEmpty)
      // recall@10 must hold the existing PQ pin (measured ~0.305 both
      // with and without the permutation on these embeddings — synthetic
      // dims are uncorrelated, so the knob must at least not hurt)
      def topSet(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
        df.select("q_id", "vec_id").as[(Long, Long)].collect()
          .groupBy(_._1).map { case (q, a) => q -> a.map(_._2).toSet }
      val exact = topSet(Similarity.bruteForceTopK(queries01, emb01, 10))
      val approx = topSet(Similarity.ivfTopKAgainstIndex(queries01, dir, 2, 10))
      val recall = exact.map { case (q, e) =>
        approx.getOrElse(q, Set.empty).count(e).toDouble / e.size
      }.sum / exact.size
      assert(recall >= 0.28, s"permuted-layout recall $recall below the PQ pin")
    } finally graft.CacheScope.drain()
  }

  test("PQ dim permutation round-trips through ingest: build+ingest == from-scratch permuted build") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select($"vec_id", $"embedding")
    val queries = emb.filter($"vec_id" % 50 === 0)
      .select($"vec_id".as("q_id"), $"embedding".as("q_vec"))
    val dir = java.nio.file.Files.createTempDirectory("pq-perm-inc").toString
    val dirFull = java.nio.file.Files.createTempDirectory("pq-perm-full").toString
    def probe(d: String) = Similarity.ivfTopKAgainstIndex(queries, d, 2, 10)
      .as[(Long, Long, Double, Long)].collect().sortBy(r => (r._1, r._4)).toSeq
    try {
      val initial = emb.filter($"vec_id" < 16 || $"vec_id" % 3 =!= 1)
      val batch = emb.filter($"vec_id" >= 16 && $"vec_id" % 3 === 1)
      Similarity.writeIvfIndexVersioned(initial, dir, 16,
        codec = Similarity.IvfCodec.Pq(8, 16, trainIters = 0, permuteDims = true))
      Similarity.ingestIntoIvfIndex(batch, dir, 1L) // must read the perm
      Similarity.writeIvfIndexVersioned(emb, dirFull, 16,
        codec = Similarity.IvfCodec.Pq(8, 16, trainIters = 0, permuteDims = true))
      assert(probe(dir) == probe(dirFull),
        "ingest must encode with the STORED permutation")
    } finally graft.CacheScope.drain()
  }

  test("PQ probe: semi-join fallback equals the In-pushdown path") {
    // inListMax = 0 forces the distributed-fallback fetch (offline-rerank
    // path); it must return exactly the serving path's rows — only the
    // fetch PLAN differs (semi-join instead of a pushed-down In filter)
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select($"vec_id", $"embedding")
    val queries = emb.filter($"vec_id" % 50 === 0)
      .select($"vec_id".as("q_id"), $"embedding".as("q_vec"))
    val dir = java.nio.file.Files.createTempDirectory("pq-fallback").toString
    try {
      Similarity.writeIvfIndexVersioned(emb, dir, 16,
        codec = Similarity.IvfCodec.Pq(8, 16, trainIters = 0))
      def probe(cap: Int) =
        Similarity.ivfTopKAgainstIndex(queries, dir, 2, 10, 50, inListMax = cap)
          .as[(Long, Long, Double, Long)].collect().sortBy(r => (r._1, r._4)).toSeq
      val inPath = probe(Similarity.DefaultInListMax)
      val joinPath = probe(0)
      assert(inPath.nonEmpty && inPath == joinPath,
        "fallback fetch must be result-identical to the In-pushdown fetch")
    } finally graft.CacheScope.drain()
  }

  test("pqCodebooks refuses a corpus smaller than nCodes (LUT stride guard)") {
    val tiny = (0L until 5L).map(i =>
      (i, Array.fill(8)(i.toFloat + 1))).toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      Similarity.pqCodebooks(tiny, mSub = 2, nCodes = 16, iters = 0, dim = 8)
    }
    assert(e.getMessage.contains("nCodes"))
  }

  test("deleteFromIvfIndex: deleting EVERY vector leaves a readable, empty-probing index") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select($"vec_id", $"embedding")
    val queries = emb.limit(3)
      .select($"vec_id".as("q_id"), $"embedding".as("q_vec"))
    val dir = java.nio.file.Files.createTempDirectory("ivf-del-all").toString
    try {
      Similarity.writeIvfIndexVersioned(emb, dir, 8)
      assert(Similarity.deleteFromIvfIndex(spark, dir, emb.select($"vec_id")) == 1)
      // the rewritten epoch must still READ (zero rows, schema intact) —
      // a fileless partitioned dir would throw "unable to infer schema"
      assert(spark.read.parquet(s"$dir/lists_e1").count() == 0)
      assert(Similarity.ivfTopKAgainstIndex(queries, dir, 2, 5).count() == 0)
      // and still INGEST: the empty marker is partition-shaped (cell=0),
      // so batch=1/cell=N lands beside it at a consistent discovery
      // depth — a bare flat file would break every later probe with
      // "Conflicting directory structures"
      Similarity.ingestIntoIvfIndex(emb.limit(5), dir, 1L)
      assert(Similarity.ivfTopKAgainstIndex(queries, dir, 8, 5).count() > 0)
    } finally graft.CacheScope.drain()
  }

  test("k-means-trained IVF quantizer beats training-free recall, pinned floor") {
    // measured on the REAL sf0.01 embeddings (deterministic data +
    // deterministic k-means init/iterations): recall@10 at nCells=16,
    // nProbe=2 is 0.305 training-free vs 0.450 trained (5 Lloyd
    // iterations); at nProbe=4 it's 0.450 vs 0.580. Pin slightly below
    // the measurement (float partial-sum order can nudge centroids) and
    // pin the improvement — the reason the trained variant exists. The
    // stored-index path accepts either quantizer: both sides here go
    // through writeIvfIndexVersioned + ivfTopKAgainstIndex.
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val queries = emb.filter(col("vec_id") % 25 === 0)
      .select($"vec_id".as("q_id"), $"embedding".as("q_vec"))
    val corpus = emb.select($"vec_id", $"embedding")
    try {
      def topSet(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
        df.select("q_id", "vec_id").as[(Long, Long)].collect()
          .groupBy(_._1).map { case (q, a) => q -> a.map(_._2).toSet }
      val exact = topSet(Similarity.bruteForceTopK(queries, corpus, 10))
      def recall(approx: Map[Long, Set[Long]]): Double =
        exact.map { case (q, e) =>
          approx.getOrElse(q, Set.empty).count(e).toDouble / e.size
        }.sum / exact.size
      val d0 = java.nio.file.Files.createTempDirectory("ivf-untrained").toString
      val d1 = java.nio.file.Files.createTempDirectory("ivf-trained").toString
      Similarity.writeIvfIndexVersioned(corpus, d0, 16)
      Similarity.writeIvfIndexVersioned(corpus, d1, 16, trainIters = 5)
      val untrained = recall(topSet(Similarity.ivfTopKAgainstIndex(queries, d0, 2, 10)))
      val trained = recall(topSet(Similarity.ivfTopKAgainstIndex(queries, d1, 2, 10)))
      assert(trained >= 0.40, s"trained recall $trained (measured 0.45)")
      assert(trained > untrained,
        s"training should not hurt recall: trained $trained vs untrained $untrained")
      // SAMPLE-trained quantizer (the 100 TB path: Lloyd iterations on the
      // deterministic hash-mod half, full-corpus index assignment) keeps
      // most of the training gain — measured 0.395 at mod=2 on this tiny
      // corpus (the half-sample is ~1250 points for 16 cells, so sample
      // noise shows; at production scale the sample is still millions of
      // points per cell and the gap vanishes). Pin slightly below.
      val d2 = java.nio.file.Files.createTempDirectory("ivf-sampled").toString
      Similarity.writeIvfIndexVersioned(corpus, d2, 16, trainIters = 5, trainSampleMod = 2)
      val sampled = recall(topSet(Similarity.ivfTopKAgainstIndex(queries, d2, 2, 10)))
      assert(sampled >= 0.37, s"sample-trained recall $sampled (measured 0.395)")
      assert(sampled > untrained,
        s"sample training must still beat training-free: $sampled vs $untrained")
    } finally graft.CacheScope.drain()
  }

  test("multi-probe LSH recalls far more true neighbours than single-bucket") {
    // measured on the REAL harness embeddings (deterministic data +
    // deterministic planes → exact repeatable numbers): at 4 planes,
    // recall@10 = 0.475 multi-probe vs 0.175 single-bucket. Pin slightly
    // below the measurement so a legit plan change can't flake it, and
    // pin the ratio — the reason the operator exists.
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.filter(col("vec_id") % 25 === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val corpus = emb.select(col("vec_id"), col("embedding"))
    def topSet(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.select("q_id", "vec_id").as[(Long, Long)].collect()
        .groupBy(_._1).map { case (q, a) => q -> a.map(_._2).toSet }
    val exact = topSet(Similarity.bruteForceTopK(queries, corpus, 10))
    def recall(approx: Map[Long, Set[Long]]): Double =
      exact.map { case (q, e) =>
        approx.getOrElse(q, Set.empty).count(e).toDouble / e.size
      }.sum / exact.size
    val single = recall(topSet(Similarity.lshTopK(queries, corpus, 64, 10, planes = 4)))
    val multi = recall(topSet(Similarity.lshTopKMultiProbe(queries, corpus, 64, 10, planes = 4)))
    assert(multi >= 0.45, s"multi-probe recall $multi")
    assert(multi >= 2 * single, s"multi $multi vs single $single")
  }

  test("groupCentroidCosine: hand-checked centroids, diagonal 1, partition-count independent") {
    import org.apache.spark.sql.functions.col
    // two groups with known means: g0 = {(1,0),(0,1)} -> (0.5, 0.5);
    // g1 = {(1,1)} -> (1,1): cos(g0,g0)=1, cos(g0,g1)=1, plus g2=(1,0)
    // orthogonal-ish: cos((0.5,0.5),(1,0)) = 0.7071
    val rows = Seq(
      (0L, Array(1f, 0f)), (0L, Array(0f, 1f)),
      (1L, Array(1f, 1f)),
      (2L, Array(1f, 0f)))
    try {
      for (parts <- Seq(1, 4)) {
        val df = spark.createDataFrame(rows.map(r => (r._1, r._2)))
          .toDF("g", "v").repartition(parts)
        val got = Similarity.groupCentroidCosine(df, col("g"), col("v"))
          .as[(String, String, Long, Long, Double)].collect()
          .map(r => (r._1, r._2) -> (r._3, r._4, r._5)).toMap
        assert(got(("0", "0")) == ((2L, 2L, 1.0)))
        assert(got(("1", "1")) == ((1L, 1L, 1.0)))
        assert(got(("0", "1")) == ((2L, 1L, 1.0)))
        assert(got(("0", "2"))._3 == 0.7071)
        assert(got(("1", "2"))._3 == 0.7071)
        assert(got.keySet.forall { case (a, b) => a <= b })
        assert(got.size == 6)
      }
    } finally graft.CacheScope.drain()
  }
}