package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class CurationSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def docs = spark.read
    .parquet("/root/testdata/sf0.001/documents.parquet")

  test("domainCap returns exactly the rank-window rows (score desc, id asc)") {
    val k = 3
    val agg = Curation.domainCap(docs, col("source"), col("doc_id"),
      col("n_chars").cast("double"), k)
      .select(col("domain"), col("rank"), col("id"))
      .as[(String, Int, Long)].collect().toSet
    val win = docs.select(col("source"), col("doc_id"), col("n_chars"),
      row_number().over(org.apache.spark.sql.expressions.Window
        .partitionBy(col("source"))
        .orderBy(col("n_chars").desc, col("doc_id"))).as("rnk"))
      .filter(col("rnk") <= k)
      .select(col("source"), col("rnk"), col("doc_id"))
      .as[(String, Int, Long)].collect().toSet
    assert(agg == win && agg.nonEmpty)
  }

  test("domainCap caps each domain at k") {
    val perDomain = Curation.domainCap(docs, col("source"), col("doc_id"),
      col("n_chars").cast("double"), 2)
      .groupBy("domain").count().as[(String, Long)].collect()
    assert(perDomain.nonEmpty && perDomain.forall(_._2 <= 2))
  }

  test("decontaminate flags exactly the docs sharing an n-gram with bench") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon"), // bench
      (2L, "zeta eta theta iota kappa"), // bench
      (3L, "x alpha beta gamma delta y"), // shares 4-gram "alpha beta gamma delta"
      (4L, "alpha beta zeta eta theta"), // no shared 4-gram
      (5L, "zeta eta theta iota zz") // shares "zeta eta theta iota"
    ).toDF("id", "text")
    val hits = Curation.decontaminate(
      corpus.filter(col("id") > 2), corpus.filter(col("id") <= 2), 4)
      .as[(Long, Long)].collect().toMap
    assert(hits == Map(3L -> 1L, 5L -> 1L))
  }

  test("packBins: sequential prefix-sum binning, totals preserved") {
    val d = Seq(
      ("a", 1L, 400L), ("a", 2L, 400L), ("a", 3L, 400L), // bins 0,0,0 (cum 0,400,800)
      ("a", 4L, 400L), // cum 1200 -> bin 1
      ("b", 5L, 2500L), // bin 0
      ("b", 6L, 100L) // cum 2500 -> bin 2
    ).toDF("src", "id", "tok")
    val bins = Curation.packBins(d, col("src"), col("id"), col("tok"), 1000L)
      .as[(String, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    assert(bins == Map(
      ("a", 0L) -> (3L, 1200L), ("a", 1L) -> (1L, 400L),
      ("b", 0L) -> (1L, 2500L), ("b", 2L) -> (1L, 100L)))
  }

  test("packBinsScalable is identical to the window form for any partition count") {
    val d = docs.select(col("source"), col("doc_id"),
      (col("n_chars") % 700).as("tok"))
    val win = Curation.packBins(d, col("source"), col("doc_id"), col("tok"), 1000L)
      .as[(String, Long, Long, Long)].collect().toSet
    for (parts <- Seq(1, 3, 16)) {
      val dist = Curation.packBinsScalable(
        d, col("source"), col("doc_id"), col("tok"), 1000L, parts)
        .as[(String, Long, Long, Long)].collect().toSet
      assert(dist == win, s"parts=$parts")
    }
    assert(win.nonEmpty)
  }

  test("packManifest: straddle spans exact by hand; full bins exactly budget; doc spans reassemble") {
    val d = Seq(
      ("a", 1L, 400L), ("a", 2L, 400L), ("a", 3L, 400L), // 3 straddles bin 0→1
      ("a", 4L, 400L), // cum 1200, fits in bin 1
      ("b", 5L, 2500L), // spans bins 0,1,2
      ("b", 6L, 100L), // cum 2500 → bin 2
      ("c", 7L, 0L) // zero tokens → no span
    ).toDF("src", "id", "tok")
    val m = Curation.packManifest(d, col("src"), col("id"), col("tok"),
        1000L, partitions = 4)
      .as[(String, Long, Long, Long, Long)].collect()
      .map(r => (r._1, r._2, r._3) -> (r._4, r._5)).toMap
    assert(m == Map(
      ("a", 1L, 0L) -> (0L, 400L), ("a", 2L, 0L) -> (0L, 400L),
      ("a", 3L, 0L) -> (0L, 200L), ("a", 3L, 1L) -> (200L, 200L),
      ("a", 4L, 1L) -> (0L, 400L),
      ("b", 5L, 0L) -> (0L, 1000L), ("b", 5L, 1L) -> (1000L, 1000L),
      ("b", 5L, 2L) -> (2000L, 500L),
      ("b", 6L, 2L) -> (0L, 100L)))
    // invariants: per-doc spans sum to its tokens; every non-final bin
    // of a domain is exactly budget-full
    val byDoc = m.groupBy { case ((s, i, _), _) => (s, i) }
      .view.mapValues(_.values.map(_._2).sum).toMap
    assert(byDoc == Map(("a", 1L) -> 400L, ("a", 2L) -> 400L,
      ("a", 3L) -> 400L, ("a", 4L) -> 400L, ("b", 5L) -> 2500L,
      ("b", 6L) -> 100L))
    val byBin = m.groupBy { case ((s, _, b), _) => (s, b) }
      .view.mapValues(_.values.map(_._2).sum).toMap
    assert(byBin(("a", 0L)) == 1000L && byBin(("b", 0L)) == 1000L
      && byBin(("b", 1L)) == 1000L)
  }

  test("packShards: streams assemble straddles in id order; full bins exactly budget; md5 by hand") {
    def md5(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    // doc 1: t1..t3; doc 2: t4..t7 straddles bin 0→1 (budget 5);
    // doc 3: t8..t9 lands in bin 1 after the straddle tail
    val d = Seq(
      ("a", 1L, Seq("t1", "t2", "t3")),
      ("a", 2L, Seq("t4", "t5", "t6", "t7")),
      ("a", 3L, Seq("t8", "t9")),
      ("b", 9L, Seq("x1"))
    ).toDF("src", "id", "toks")
    val out = Curation.packShards(d, col("src"), col("id"), col("toks"),
        budget = 5L, partitions = 4)
      .as[(String, Long, Long, String)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    assert(out == Map(
      ("a", 0L) -> (5L, md5("t1 t2 t3 t4 t5")),   // exactly budget-full
      ("a", 1L) -> (4L, md5("t6 t7 t8 t9")),       // straddle tail + doc 3
      ("b", 0L) -> (1L, md5("x1"))))               // b packs independently
  }

  test("packShardIds: id arrays assemble like packShards mapped through the vocab; OOV piece fails loudly") {
    def md5(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val d = Seq(
      ("a", 1L, Seq("t1", "t2", "t3")),
      ("a", 2L, Seq("t4", "t5", "t6", "t7")),
      ("a", 3L, Seq("t8", "t9")),
      ("b", 9L, Seq("x1"))
    ).toDF("src", "id", "toks")
    val vocab = (1 to 9).map(i => s"t$i" -> (100L + i)).toMap + ("x1" -> 7L)
    try {
      val out = Curation.packShardIds(d, col("src"), col("id"), col("toks"),
          vocab, budget = 5L, partitions = 4)
        .as[(String, Long, Long, Seq[Long], String)].collect()
        .map(r => (r._1, r._2) -> ((r._3, r._4, r._5))).toMap
      assert(out == Map(
        ("a", 0L) -> ((5L, Seq(101L, 102L, 103L, 104L, 105L),
          md5("101 102 103 104 105"))),
        ("a", 1L) -> ((4L, Seq(106L, 107L, 108L, 109L),
          md5("106 107 108 109"))),
        ("b", 0L) -> ((1L, Seq(7L), md5("7")))))
      graft.CacheScope.drain()
      // a piece outside the frozen vocab raises, never a silent null
      val missing = vocab - "t9"
      val e = intercept[Throwable] {
        Curation.packShardIds(d, col("src"), col("id"), col("toks"),
          missing, budget = 5L, partitions = 4).collect()
      }
      val msgs = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
        .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
      assert(msgs.contains("piece not in the frozen vocab"), msgs)
    } finally graft.CacheScope.drain()
  }

  test("packShardIdsSep: one EOS after each doc, counted against the budget; collision raises") {
    def md5(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val d = Seq(
      ("a", 1L, Seq("t1", "t2", "t3")),
      ("a", 2L, Seq("t4", "t5")),
      ("b", 9L, Seq("x1"))
    ).toDF("src", "id", "toks")
    val vocab = (1 to 5).map(i => s"t$i" -> (100L + i)).toMap + ("x1" -> 7L)
    try {
      // streams: a = 101 102 103 EOS 104 105 EOS (7 ids), b = 7 EOS —
      // with budget 5 the separator SHIFTS the bin boundary (doc 2's
      // 104 straddles into bin 0 where packShardIds would not straddle)
      val out = Curation.packShardIdsSep(d, col("src"), col("id"),
          col("toks"), vocab, eosId = 999L, budget = 5L, partitions = 4)
        .as[(String, Long, Long, Seq[Long], String)].collect()
        .map(r => (r._1, r._2) -> ((r._3, r._4, r._5))).toMap
      assert(out == Map(
        ("a", 0L) -> ((5L, Seq(101L, 102L, 103L, 999L, 104L),
          md5("101 102 103 999 104"))),
        ("a", 1L) -> ((2L, Seq(105L, 999L), md5("105 999"))),
        ("b", 0L) -> ((2L, Seq(7L, 999L), md5("7 999")))))
      graft.CacheScope.drain()
      // an EOS id already claimed by the vocabulary is a contract bug
      val e = intercept[IllegalArgumentException] {
        Curation.packShardIdsSep(d, col("src"), col("id"), col("toks"),
          vocab, eosId = 103L, budget = 5L, partitions = 4)
      }
      assert(e.getMessage.contains("collides"))
    } finally graft.CacheScope.drain()
  }

  test("packShardIds interleave: pack order is (hash28(id), id); default stays id order; bin invariants hold") {
    def md5(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val d = Seq(
      ("a", 1L, Seq("t1")),
      ("a", 2L, Seq("t2")),
      ("a", 3L, Seq("t3")),
      ("a", 4L, Seq("t4"))
    ).toDF("src", "id", "toks")
    val vocab = (1 to 4).map(i => s"t$i" -> (100L + i)).toMap
    try {
      // the documented permutation, derived through the same SharedHash
      // the operator uses
      val order = d.select(col("id"),
          Dedup.SharedHash.hash28(col("id").cast("string")).as("h"))
        .as[(Long, Long)].collect().sortBy { case (i, h) => (h, i) }
        .map(_._1).toSeq
      assert(order.toSet == Set(1L, 2L, 3L, 4L))
      assert(order != Seq(1L, 2L, 3L, 4L),
        "fixture must actually permute (pick other ids if not)")
      val inter = Curation.packShardIds(d, col("src"), col("id"),
          col("toks"), vocab, budget = 100L, partitions = 4,
          interleave = true)
        .as[(String, Long, Long, Seq[Long], String)].collect()
      assert(inter.length == 1 && inter(0)._3 == 4L)
      val expected = order.map(i => 100L + i)
      assert(inter(0)._4 == expected)
      assert(inter(0)._5 == md5(expected.mkString(" ")))
      graft.CacheScope.drain()
      // default export unchanged: strict id order
      val plain = Curation.packShardIds(d, col("src"), col("id"),
          col("toks"), vocab, budget = 100L, partitions = 4)
        .as[(String, Long, Long, Seq[Long], String)].collect()
      assert(plain(0)._4 == Seq(101L, 102L, 103L, 104L))
    } finally graft.CacheScope.drain()
  }

  test("packManifest survives a narrow single-partition sink (the coalesce(1) stage-collapse regression)") {
    // the exact failure the gate caught: binsOf's __pid comes from
    // TaskContext, and a downstream NARROW coalesce(1) used to collapse
    // the scan stage — one task stamped pid 0 on every row while the
    // offsets side-job saw real pids, and the inner join silently kept
    // only partition-0 docs. The eager localCheckpoint pins the stage;
    // this replays the sink shape Verify actually uses (coalesce(1)).
    val d = docs.select(col("source"), col("doc_id"),
      (col("n_chars") % 700).as("tok"))
    val full = Curation.packManifest(d, col("source"), col("doc_id"),
      col("tok"), 1000L, partitions = 16)
    val narrow = full.coalesce(1)
      .as[(String, Long, Long, Long, Long)].collect().toSet
    val wide = Curation.packManifest(d, col("source"), col("doc_id"),
        col("tok"), 1000L, partitions = 16)
      .as[(String, Long, Long, Long, Long)].collect().toSet
    assert(narrow == wide && narrow.size >= d.filter(col("tok") > 0).count())
  }

  test("packBinsScalable handles a hot domain spanning many partitions") {
    // 9k rows in one domain vs 50 each in two others: the window form puts
    // the hot domain on one task; the distributed form must still match it
    val rows = (1 to 9000).map(i => ("hot", i.toLong, (i % 7 + 1).toLong)) ++
      (1 to 50).map(i => ("a", 10000L + i, 3L)) ++
      (1 to 50).map(i => ("b", 20000L + i, 5L))
    val d = rows.toDF("src", "id", "tok")
    val win = Curation.packBins(d, col("src"), col("id"), col("tok"), 100L)
      .as[(String, Long, Long, Long)].collect().toSet
    val dist = Curation.packBinsScalable(d, col("src"), col("id"), col("tok"),
      100L, partitions = 16)
      .as[(String, Long, Long, Long)].collect().toSet
    assert(dist == win)
    // the hot domain really spans bins: ~9000*4 tokens / 100 per bin
    assert(win.count(_._1 == "hot") > 100)
  }

  test("mixtureSample applies per-source rates deterministically") {
    val d = docs.select(col("doc_id"), col("source"))
    val rates = Seq("src0" -> 100, "src1" -> 0)
    val s1 = Sampling.mixtureSample(d, col("doc_id"), col("source"), rates, 50)
      .as[(Long, String)].collect().toSet
    val s2 = Sampling.mixtureSample(d, col("doc_id"), col("source"), rates, 50)
      .as[(Long, String)].collect().toSet
    assert(s1 == s2) // deterministic
    val bySrc = d.as[(Long, String)].collect().groupBy(_._2)
    val kept = s1.groupBy(_._2).view.mapValues(_.size).toMap
    assert(kept.getOrElse("src0", 0) == bySrc("src0").length) // 100%
    assert(!kept.contains("src1") || kept("src1") == 0) // 0%
    // default-rate sources keep a strict, nonempty subset
    val others = bySrc.keySet -- Set("src0", "src1")
    val keptOthers = others.toSeq.map(s => kept.getOrElse(s, 0)).sum
    val allOthers = others.toSeq.map(s => bySrc(s).length).sum
    assert(keptOthers > 0 && keptOthers < allOthers)
  }

  test("dedupAgainstIndex over a stored corpus index matches the direct form") {
    val d = docs.select(col("doc_id").as("id"), col("text"))
    val existing = d.filter(col("id") % 3 =!= 0)
    val batch = d.filter(col("id") % 3 === 0)
    val dir = java.nio.file.Files.createTempDirectory("graft_dedup_idx").toString
    Dedup.writeCorpusIndexVersioned(existing, dir, 3, 64, 16)
    val direct = Dedup.dedupAgainst(batch, existing, 3, 64, 16, 0.8)
      .select("id").as[Long].collect().toSet
    val indexed = Dedup.dedupAgainstIndex(batch, dir, 3, 64, 16, 0.8)
      .select("id").as[Long].collect().toSet
    assert(indexed == direct && direct.nonEmpty)
  }

  test("dedupAgainst drops exact and near dups of the existing corpus only") {
    val existing = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again today"),
      (2L, "completely different content about distributed query engines at scale")
    ).toDF("id", "text")
    val batch = Seq(
      (11L, "the quick brown fox jumps over the lazy dog again and again today"), // exact dup of 1
      (12L, "the quick brown fox jumps over the lazy dog again and again tonight"), // near dup of 1
      (13L, "entirely novel text mentioning sorting shuffling joining and sampling"),
      (14L, "entirely novel text mentioning sorting shuffling joining and sampling") // within-batch dup: kept (out of scope)
    ).toDF("id", "text")
    val kept = Dedup.dedupAgainst(batch, existing, 3, 64, 16, 0.7)
      .select("id").as[Long].collect().toSet
    assert(kept == Set(13L, 14L))
  }

  test("temperatureMixtureAlloc: Hamilton apportionment by hand; greedy fill in hash order; straddle allowed") {
    // two sources, T_a = 100, T_b = 400: w = (10, 20), shares of B=90 are
    // (30, 60) exactly — no remainder to distribute (R = 0)
    val d = Seq(
      (1L, "a", 40L), (2L, "a", 40L), (3L, "a", 20L),
      (11L, "b", 30L), (12L, "b", 30L), (13L, "b", 340L)
    ).toDF("id", "src", "tok")
    val out = Curation.temperatureMixtureAlloc(
        d, col("id"), col("src"), col("tok"), budget = 90L)
      .select($"id", $"source", $"n_tokens", $"alloc_tokens",
        $"cum_before", $"keep")
      .as[(Long, String, Long, Long, Long, Boolean)].collect()
      .map(r => r._1 -> r).toMap
    assert(out.values.filter(_._2 == "a").map(_._4).toSet == Set(30L))
    assert(out.values.filter(_._2 == "b").map(_._4).toSet == Set(60L))
    // selection follows the md5-hash order, taking docs while the tokens
    // BEFORE them are under the allocation (the last may straddle)
    def h(i: Long) = java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5")
        .digest(i.toString.getBytes("UTF-8"))
        .take(4).map(b => f"$b%02x").mkString.take(7), 16)
    for (src <- Seq("a", "b")) {
      val rows = out.values.filter(_._2 == src).toSeq
        .sortBy(r => (h(r._1), r._1))
      var cum = 0L
      rows.foreach { r =>
        assert(r._5 == cum, s"cum_before of ${r._1}")
        assert(r._6 == (cum < r._4), s"keep of ${r._1}")
        cum += r._3
      }
    }
    // kept tokens can straddle past the allocation only via the last doc
    val keptA = out.values.filter(r => r._2 == "a" && r._6).map(_._3).sum
    assert(keptA >= 30L || out.values.filter(_._2 == "a").map(_._3).sum < 30L)
    // a budget with remainders: B=91 leaves R=1 → exactly one source gets
    // the extra token, total allocation is exactly the budget
    val out91 = Curation.temperatureMixtureAlloc(
        d, col("id"), col("src"), col("tok"), budget = 91L)
      .select($"source", $"alloc_tokens").distinct()
      .as[(String, Long)].collect().toMap
    assert(out91.values.sum == 91L)
    assert(Set(out91("a"), out91("b")).subsetOf(Set(30L, 31L, 60L, 61L)))
  }

  test("temperatureMixtureAlloc: distributed scan form identical to the window form") {
    val d = docs.select(col("doc_id"), col("source"),
      (col("n_chars") % 97 + 1).cast("long").as("tok"))
    val win = Curation.temperatureMixtureAlloc(
        d, col("doc_id"), col("source"), col("tok"), 9000L)
      .as[(Long, String, Long, Long, Long, Boolean)].collect().toSet
    for (parts <- Seq(1, 3, 16)) {
      val dist = Curation.temperatureMixtureAlloc(
          d, col("doc_id"), col("source"), col("tok"), 9000L,
          scanParts = Some(parts))
        .as[(Long, String, Long, Long, Long, Boolean)].collect().toSet
      assert(dist == win, s"parts=$parts")
    }
    assert(win.nonEmpty && win.exists(_._6) && win.exists(!_._6))
  }
}
