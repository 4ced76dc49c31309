package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class DedupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val corpus = Seq(
    (1L, "the quick brown fox jumps over the lazy dog again and again today"),
    (2L, "the quick brown fox jumps over the lazy dog again and again tonight"), // near-dup of 1
    (3L, "completely different content about distributed query engines at scale"),
    (4L, "the quick brown fox jumps over the lazy dog again and again today"), // exact dup of 1
    (5L, "yet another unrelated document mentioning sorting shuffling joining")
  ).toDF("doc_id", "text")

  private def shingled =
    TextOps.withShingles(corpus.select(col("doc_id").as("id"), col("text")),
      col("text"), 3, "shingles").select("id", "shingles")

  test("exactGroups: identical texts share a group, survivor is min id") {
    val g = Dedup.exactGroups(corpus, col("text"), col("doc_id"))
      .as[(String, Long, Long)].collect()
    assert(g.length == 4) // 5 docs, one exact pair
    val dupGroup = g.find(_._2 == 2L).get
    assert(dupGroup._3 == 1L) // keep_id = min(1, 4)
  }

  test("minhashLshPairs finds near and exact dup pairs with correct jaccard") {
    val pairs = Dedup.minhashLshPairs(
      corpus.select(col("doc_id").as("id"), col("text")), 3, 64, 16, 0.5)
      .as[(Long, Long, Double)].collect().map(p => (p._1, p._2) -> p._3).toMap
    assert(pairs.contains((1L, 4L)) && pairs((1L, 4L)) == 1.0) // exact dup
    assert(pairs.contains((1L, 2L)) && pairs((1L, 2L)) >= 0.5) // near dup
    assert(!pairs.keySet.exists { case (a, b) => Set(a, b).contains(3L) })
  }

  test("ngramJaccardPairs is exact: hand-checked jaccard for the near pair") {
    val pairs = Dedup.ngramJaccardPairs(shingled, 0.5)
      .as[(Long, Long, Double)].collect().map(p => (p._1, p._2) -> p._3).toMap
    // docs 1/2: 13 words -> 11 distinct 3-gram shingles each; the differing
    // last word appears only in the final shingle, so 10 are shared:
    // J = 10 / (11 + 11 - 10) = 0.8333
    assert(pairs((1L, 2L)) == 0.8333)
    assert(pairs((1L, 4L)) == 1.0)
  }

  test("prefix-filtered Jaccard returns IDENTICAL pairs to the naive join") {
    // the prefix filter is provably lossless; check the identity on the
    // hand corpus across thresholds and on real documents (sf0.001)
    for (t <- Seq(0.3, 0.5, 0.7, 0.9)) {
      val naive = Dedup.ngramJaccardPairs(shingled, t)
        .as[(Long, Long, Double)].collect().toSet
      val pref = Dedup.ngramJaccardPairsPrefix(shingled, t)
        .as[(Long, Long, Double)].collect().toSet
      assert(pref == naive, s"threshold $t")
    }
    val docs = graft.Tables(spark, "/root/testdata/sf0.001").documents
      .select(col("doc_id").as("id"), col("text"))
    val sh = TextOps.withShingles(docs, col("text"), 3, "shingles")
      .select("id", "shingles")
    val naive = Dedup.ngramJaccardPairs(sh, 0.7).as[(Long, Long, Double)].collect().toSet
    val pref = Dedup.ngramJaccardPairsPrefix(sh, 0.7).as[(Long, Long, Double)].collect().toSet
    assert(pref == naive && naive.nonEmpty)
  }

  test("containmentPairs finds a quote inside a larger page that Jaccard misses") {
    val quote = "the quick brown fox jumps over the lazy dog"
    val page = ("breaking news report " * 8) + quote + (" closing analysis section" * 8)
    val docs = Seq((1L, quote), (2L, page), (3L, "entirely unrelated text here"))
      .toDF("id", "text")
    val sh = TextOps.withShingles(docs, col("text"), 3, "shingles")
      .select("id", "shingles")
    // every 3-gram of the quote appears in the page → containment 1.0
    val cont = Dedup.containmentPairs(sh, 0.9)
      .as[(Long, Long, Double)].collect().toSet
    assert(cont.contains((1L, 2L, 1.0)))
    assert(!cont.exists { case (a, b, _) => a == 3L || b == 3L })
    // the symmetric direction does NOT hold (the page is not inside the quote)
    assert(!cont.exists { case (a, b, _) => a == 2L && b == 1L })
    // and Jaccard at any useful threshold misses the pair (union is huge)
    val jac = Dedup.ngramJaccardPairsPrefix(sh, 0.5)
      .as[(Long, Long, Double)].collect().toSet
    assert(!jac.exists { case (a, b, _) => Set(a, b) == Set(1L, 2L) })
  }

  test("containmentAgainst finds the eval item inside a train page, cross-corpus only") {
    val evalItem = "the quick brown fox jumps over the lazy dog"
    val trainPage = ("background filler text " * 6) + evalItem + (" more filler" * 6)
    val probe = Seq((100L, evalItem)).toDF("id", "text")
    val corpus = Seq((1L, trainPage), (2L, "totally unrelated content here"))
      .toDF("id", "text")
    def sh(df: org.apache.spark.sql.DataFrame) =
      TextOps.withShingles(df, col("text"), 3, "shingles").select("id", "shingles")
    val hits = Dedup.containmentAgainst(sh(probe), sh(corpus), 0.9)
      .as[(Long, Long, Double)].collect().toSet
    assert(hits == Set((100L, 1L, 1.0)))
    // and it is lossless vs the naive cross-corpus inverted join on real docs
    val docs = graft.Tables(spark, "/root/testdata/sf0.001").documents
      .select(col("doc_id").as("id"), col("text"))
    val all = sh(docs).withColumn("n_sh", size(col("shingles")))
      .filter(col("n_sh") > 0)
    val p = all.filter(col("id") % 10 === 0)
    val c = all.filter(col("id") % 10 =!= 0)
    val t = 0.5
    def inv(df: org.apache.spark.sql.DataFrame) =
      df.select(col("id"), col("n_sh"), explode(col("shingles")).as("s"))
    val naive = inv(p).as("x").join(inv(c).as("y"), col("x.s") === col("y.s"))
      .groupBy(col("x.id").as("id_a"), col("y.id").as("id_b"), col("x.n_sh").as("na"))
      .count()
      .withColumn("containment", round(col("count").cast("double") / col("na"), 4))
      .filter(col("containment") >= t)
      .select("id_a", "id_b", "containment")
      .as[(Long, Long, Double)].collect().toSet
    val pref = Dedup.containmentAgainst(
        p.select("id", "shingles"), c.select("id", "shingles"), t)
      .as[(Long, Long, Double)].collect().toSet
    assert(pref == naive)
  }

  test("containmentPairs probe-prefix filter is lossless vs the naive form") {
    // naive = inverted-index join without the prefix restriction; the
    // probe-prefix + |B| ≥ t|A| filters must not lose a qualifying pair
    val docs = graft.Tables(spark, "/root/testdata/sf0.001").documents
      .select(col("doc_id").as("id"), col("text"))
    val sh = TextOps.withShingles(docs, col("text"), 3, "shingles")
      .select("id", "shingles")
      .withColumn("n_sh", size(col("shingles"))).filter(col("n_sh") > 0)
    val t = 0.6
    val inv = sh.select(col("id"), col("n_sh"), explode(col("shingles")).as("s"))
    val naive = inv.as("x").join(inv.as("y"),
        col("x.s") === col("y.s") && col("x.id") =!= col("y.id"))
      .groupBy(col("x.id").as("id_a"), col("y.id").as("id_b"), col("x.n_sh").as("na"))
      .count()
      .withColumn("containment", round(col("count").cast("double") / col("na"), 4))
      .filter(col("containment") >= t)
      .select("id_a", "id_b", "containment")
      .as[(Long, Long, Double)].collect().toSet
    val pref = Dedup.containmentPairs(sh.select("id", "shingles"), t)
      .as[(Long, Long, Double)].collect().toSet
    assert(pref == naive && naive.nonEmpty)
  }

  test("maxDf cap drops only candidate generation via common shingles") {
    // with a df cap of 1 no shingle is shared by < =1 docs... cap 1 removes
    // every shingle appearing in 2+ docs, so no candidates survive
    val none = Dedup.ngramJaccardPairs(shingled, 0.5, maxDf = 1L)
    assert(none.count() == 0)
  }

  test("dedupCorpus drops exact and near dups, keeping the lowest id") {
    val clean = Dedup.dedupCorpus(
      corpus.select(col("doc_id").as("id"), col("text")), threshold = 0.8)
      .select("id").as[Long].collect().toSet
    // 4 is an exact dup of 1; 2 is a near-dup of 1 (J=0.8333 >= 0.8)
    assert(clean == Set(1L, 3L, 5L))
  }

  test("incremental CC labels: merges via remap chain ≡ from-scratch; compaction folds; delete re-canonicalizes") {
    val dir = java.nio.file.Files.createTempDirectory("cc-inc").toString
    try {
      def resolved() = Dedup.ccLabelsResolved(spark, dir)
        .as[(Long, Long)].collect().toMap
      // initial: comps {1,2}, {5,6}, {8,9}; 11 isolated
      Dedup.writeCcLabels(
        Seq(1L, 2L, 5L, 6L, 8L, 9L, 11L).toDF("id"),
        Seq((1L, 2L), (5L, 6L), (8L, 9L)).toDF("id_a", "id_b"), dir)
      assert(resolved() == Map(1L -> 1L, 2L -> 1L, 5L -> 5L, 6L -> 5L,
        8L -> 8L, 9L -> 8L, 11L -> 11L))
      // batch 1: doc 10 bridges comps 5 and 8 → merged label min(5,8,10)=5,
      // remap 8→5 recorded as a merge event, existing rows untouched
      Dedup.ingestIntoCcLabels(Seq(10L).toDF("id"),
        Seq((10L, 5L), (10L, 8L)).toDF("id_a", "id_b"), dir, 1L)
      val r1 = resolved()
      assert(r1 == Map(1L -> 1L, 2L -> 1L, 5L -> 5L, 6L -> 5L,
        8L -> 5L, 9L -> 5L, 10L -> 5L, 11L -> 11L))
      // replayed batch converges to identical store contents
      Dedup.ingestIntoCcLabels(Seq(10L).toDF("id"),
        Seq((10L, 5L), (10L, 8L)).toDF("id_a", "id_b"), dir, 1L)
      assert(resolved() == r1)
      // batch 2: doc 20 bridges comp 1 and (merged) comp 5 → remap 5→1;
      // id 9's resolution now CHAINS: base 8 → (b1) 5 → (b2) 1
      Dedup.ingestIntoCcLabels(Seq(20L).toDF("id"),
        Seq((20L, 2L), (20L, 6L)).toDF("id_a", "id_b"), dir, 2L)
      val all = Map(1L -> 1L, 2L -> 1L, 5L -> 1L, 6L -> 1L, 8L -> 1L,
        9L -> 1L, 10L -> 1L, 11L -> 11L, 20L -> 1L)
      assert(resolved() == all)
      // ≡ from-scratch over the union edge set (the gate contract)
      val scratch = Dedup.connectedComponents(
        Seq((1L, 2L), (5L, 6L), (8L, 9L), (10L, 5L), (10L, 8L),
          (20L, 2L), (20L, 6L)).toDF("id_a", "id_b"))
        .as[(Long, Long)].collect().toMap
      assert(all.filter(_._1 != 11L) == scratch)
      // compaction folds the remap chain; resolution identical; store empty
      Dedup.compactCcLabels(spark, dir)
      assert(resolved() == all)
      assert(spark.read.parquet(s"${Compaction.epochPath(dir, "remap", 1)}")
        .count() == 0)
      // delete the LABEL id: component re-canonicalizes to surviving min
      Dedup.deleteFromCcLabels(spark, dir, Seq(1L).toDF("id"))
      val afterDel = resolved()
      assert(!afterDel.contains(1L) && afterDel(2L) == 2L && afterDel(9L) == 2L)
      // documented limit: deleting a BRIDGE doc does not split the
      // component (the store holds labels, not edges)
      Dedup.deleteFromCcLabels(spark, dir, Seq(10L, 20L).toDF("id"))
      val afterBridge = resolved()
      assert(afterBridge(6L) == 2L && afterBridge(9L) == 2L,
        "label store keeps merged components after a bridge delete by design")
    } finally graft.CacheScope.drain()
  }

  test("connectedComponents: min-label propagation across multi-hop chains") {
    // components: {1,2,3,4} via chain 1-2, 2-3, 3-4 (diameter 3 → needs
    // multiple rounds); {10,11}; {20,21,22} via star at 20
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (20L, 21L), (20L, 22L))
      .toDF("id_a", "id_b")
    val labels = Dedup.connectedComponents(edges)
      .as[(Long, Long)].collect().toMap
    assert(labels == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L, 22L -> 20L))
    // a long chain still converges (maxIter bound respected)
    val chain = (1L to 15L).sliding(2).map(s => (s.head, s.last)).toSeq
      .toDF("id_a", "id_b")
    val chainLabels = Dedup.connectedComponents(chain).as[(Long, Long)].collect().toMap
    assert(chainLabels.values.toSet == Set(1L) && chainLabels.size == 15)
  }

  test("alternating-star converges in O(log diameter) rounds on a path graph") {
    // 1000-node path = diameter 999, the adversarial shape for plain
    // min-label propagation (1 hop/round → ~999 rounds, far past its
    // maxIter=20 bound). Star rounds contract paths multiplicatively:
    // ⌈log₂ 999⌉ = 10, allow +5 slack.
    val path = (1L to 1000L).sliding(2).map(s => (s.head, s.last)).toSeq
      .toDF("id_a", "id_b")
    val (labels, rounds) = Dedup.connectedComponentsAltStarRounds(path, 50)
    val got = labels.as[(Long, Long)].collect().toMap
    assert(got.size == 1000 && got.values.toSet == Set(1L))
    assert(rounds <= 15, s"alternating-star took $rounds rounds")
    // the plain min-label form needs ~diameter rounds on the same graph —
    // pin the gap (capped at 30 to keep the test fast; it must NOT have
    // converged by then)
    val (_, mlRounds) = Dedup.connectedComponentsMinLabelRounds(path, 30)
    assert(mlRounds == 30, s"min-label unexpectedly converged in $mlRounds rounds")
    // the hybrid default (dense min-label phase → quotient alt-star) must
    // land the same labels on the deep graph
    val hybrid = Dedup.connectedComponents(path).as[(Long, Long)].collect().toMap
    assert(hybrid == got)
  }

  test("alternating-star and min-label agree on random graphs") {
    val rnd = new scala.util.Random(7)
    val edges = (1 to 300).map(_ =>
      (rnd.nextInt(120).toLong, rnd.nextInt(120).toLong))
      .filter(e => e._1 != e._2).toDF("id_a", "id_b")
    val a = Dedup.connectedComponents(edges).as[(Long, Long)].collect().toMap
    val b = Dedup.connectedComponentsMinLabel(edges).as[(Long, Long)].collect().toMap
    assert(a == b)
  }

  test("simhash: exact dups have identical fingerprints; pairs found at hamming 0") {
    val fps = Dedup.simhashFingerprints(
      corpus.select(col("doc_id").as("id"), split(lower(col("text")), """\s+""").as("tokens")))
    val m = fps.as[(Long, Long)].collect().toMap
    assert(m(1L) == m(4L))
    val pairs = Dedup.simhashPairs(fps, 3).as[(Long, Long, Int)].collect()
    assert(pairs.exists(p => p._1 == 1L && p._2 == 4L && p._3 == 0))
  }

  test("simhash banding is lossless: banded pairs == brute force at the cutoff") {
    val fps = Dedup.simhashFingerprints(
      corpus.select(col("doc_id").as("id"), split(lower(col("text")), """\s+""").as("tokens")))
    val banded = Dedup.simhashPairs(fps, 3).as[(Long, Long, Int)].collect().toSet
    val all = fps.as[(Long, Long)].collect()
    val brute = (for {
      (ia, fa) <- all; (ib, fb) <- all if ia < ib
      h = java.lang.Long.bitCount(fa ^ fb) if h <= 3
    } yield (ia, ib, h)).toSet
    assert(banded == brute)
  }

  test("ahashPairs banding is lossless over hi/lo halves; nulls dropped; bad width rejected") {
    // hand-built 64-bit fingerprints as (hi, lo): a≡b (ham 0), c at ham 3
    // from a spread across BOTH halves (2 bits in lo, 1 in hi — a band
    // straddle would lose it), d at ham 4 (excluded), e undecodable
    val rows = Seq(
      (1L, java.lang.Long.valueOf(0x0000AAAAL), java.lang.Long.valueOf(0x55550000L)),
      (2L, java.lang.Long.valueOf(0x0000AAAAL), java.lang.Long.valueOf(0x55550000L)),
      (3L, java.lang.Long.valueOf(0x0000AAABL), java.lang.Long.valueOf(0x55550003L)),
      (4L, java.lang.Long.valueOf(0x0000AAAAL), java.lang.Long.valueOf(0x5555000FL)),
      (5L, null.asInstanceOf[java.lang.Long], null.asInstanceOf[java.lang.Long])
    ).toDF("id", "ah_hi", "ah_lo")
    val banded = Dedup.ahashPairs(rows, 3).as[(Long, Long, Int)].collect().toSet
    val all = rows.filter(col("ah_hi").isNotNull)
      .as[(Long, Long, Long)].collect()
    val brute = (for {
      (ia, ha, la) <- all; (ib, hb, lb) <- all if ia < ib
      h = java.lang.Long.bitCount(ha ^ hb) + java.lang.Long.bitCount(la ^ lb)
      if h <= 3
    } yield (ia, ib, h)).toSet
    assert(banded == brute)
    assert(banded.contains((1L, 2L, 0)) && banded.contains((1L, 3L, 3)))
    assert(!banded.exists(p => p._1 == 5L || p._2 == 5L))
    // chunk widths that straddle the hi/lo boundary are rejected loudly
    val e = intercept[IllegalArgumentException](Dedup.ahashPairs(rows, 2))
    assert(e.getMessage.contains("divide 32"))
  }

  test("aHash index lifecycle: build+ingest ≡ brute force; replay/compact/delete invariants; beforeBatch") {
    val ids = spark.range(0, 60).select($"id".as("doc_id"))
    val fps = Multimodal.decodeImageAHash(
      Multimodal.withImageColumn(ids, "doc_id", groups = 8), "media")
      .select($"doc_id".as("id"), $"ah_hi", $"ah_lo")
    val all = fps.as[(Long, Long, Long)].collect()
    def brute(store: Set[Long], probes: Set[Long]) = (for {
      (ip, hp, lp) <- all if probes(ip)
      (is, hs, ls) <- all if store(is) && is != ip
      h = java.lang.Long.bitCount(hp ^ hs) + java.lang.Long.bitCount(lp ^ ls)
      if h <= 3
    } yield (ip, is, h)).toSet
    val dir = java.nio.file.Files.createTempDirectory("ahash-idx").toString
    def probe = Dedup.ahashAgainstIndex(fps, dir)
      .as[(Long, Long, Int)].collect().toSet
    val everyone = (0L until 60L).toSet
    try {
      Dedup.writeAHashIndex(fps.filter($"id" % 10 =!= 5), dir)
      Dedup.ingestIntoAHashIndex(fps.filter($"id" % 10 === 5), dir, 1L)
      val p1 = probe
      assert(p1 == brute(everyone, everyone),
        "build+ingest probe must equal the directed brute-force scan")
      assert(p1.nonEmpty)
      // crash replay of batch 1 → identical store, identical probe
      Dedup.ingestIntoAHashIndex(fps.filter($"id" % 10 === 5), dir, 1L)
      assert(probe == p1)
      // the pre-batch-state contract: beforeBatch=1 sees only the build
      assert(Dedup.ahashAgainstIndex(fps, dir, beforeBatch = Some(1L))
        .as[(Long, Long, Int)].collect().toSet ==
        brute(everyone.filter(_ % 10 != 5), everyone))
      // compaction: epoch swap, probe-identical, superseded epoch gone
      assert(Dedup.compactAHashIndex(spark, dir) == 1)
      assert(probe == p1)
      assert(!new java.io.File(s"$dir/hashes").exists())
      // IfNeeded trigger: one consolidated batch → under threshold
      assert(Dedup.compactAHashIndexIfNeeded(spark, dir, maxBatches = 1).isEmpty)
      // physical deletion ≡ survivors-only store; bytes gone; idempotent
      val victims = ids.filter($"doc_id" % 10 === 3).select($"doc_id".as("id"))
      assert(Dedup.deleteFromAHashIndex(spark, dir, victims) == 2)
      val post = probe
      assert(post == brute(everyone.filter(_ % 10 != 3), everyone))
      assert(spark.read.parquet(s"$dir/hashes_e2")
        .filter($"id" % 10 === 3).count() == 0)
      assert(spark.read.parquet(s"$dir/bands_e2")
        .filter($"id" % 10 === 3).count() == 0)
      assert(Dedup.deleteFromAHashIndex(spark, dir, victims) == 3)
      assert(probe == post)
    } finally graft.CacheScope.drain()
  }

  test("segmentDedup keeps each segment at its first owner and reassembles in order") {
    // segLen=4: doc 1 = [A B C D] [E F G H]; doc 2 shares segment [A B C D]
    // and owns [X Y Z W]; doc 3 is entirely a copy of doc 1's segments.
    val docs = Seq(
      (1L, "a b c d e f g h"),
      (2L, "a b c d x y z w"),
      (3L, "e f g h a b c d")
    ).toDF("id", "text")
    val out = Dedup.segmentDedup(docs, 4)
      .as[(Long, Long, String)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(out(1L) == (2L, "a b c d e f g h")) // owns both its segments
    assert(out(2L) == (1L, "x y z w"))         // shared prefix dropped
    assert(!out.contains(3L))                  // nothing left to keep
  }

  test("segmentDedup drops a within-doc repeated segment after its first position") {
    val docs = Seq((7L, "p q r s p q r s t u v w")).toDF("id", "text")
    val out = Dedup.segmentDedup(docs, 4)
      .as[(Long, Long, String)].collect()
    assert(out.toSeq == Seq((7L, 2L, "p q r s t u v w")))
  }

  test("dedupCorpus handles a pathological hot duplicate (50k copies, one group)") {
    // the scenario the window-free exact stage exists for: one text
    // repeated massively must flow through partial-min combiner state,
    // not a single task's window sort. 50k copies + 100 distinct docs →
    // exactly 101 survivors, lowest id kept for the hot group.
    val hot = spark.range(0, 50000).selectExpr("id", "'the same boilerplate line' AS text")
    val distinct = spark.range(100000, 100100)
      .selectExpr("id", "concat('unique text number ', id, ' with words') AS text")
    val out = Dedup.dedupCorpus(hot.unionAll(distinct))
    assert(out.count() == 101L)
    assert(out.agg(min("id")).head().getLong(0) == 0L) // hot group's survivor
  }

  test("duplicatePassages finds every cross-doc window at every alignment") {
    // docs 1 and 2 share the run "c d e f" (one 3-token window at stride 1
    // with passLen 3 would be 2 windows; with passLen 4 exactly one);
    // doc 3 repeats it again, so n_docs=3. The run "x y z" is within-doc
    // repeated in doc 4 only → n_docs=1, must NOT appear.
    val docs = Seq(
      (1L, "a b c d e f g"),
      (2L, "c d e f q r s"),
      (3L, "t c d e f u v"),
      (4L, "x y z m x y z")
    ).toDF("id", "text")
    val out = Dedup.duplicatePassages(docs, 4)
      .as[(String, Long, Long, Long)].collect()
      .map(r => (r._2, r._3, r._4)).toSeq
    // exactly one shared window ("c d e f"), in 3 docs, 3 occurrences,
    // first owner doc 1
    assert(out == Seq((3L, 3L, 1L)))
  }

  test("duplicateSpans merges overlapping duplicated windows into maximal islands") {
    // docs 1/2 share the 6-token run "a b c d e f" (duplicated 3-gram
    // windows at pos 0..3 in both) and the tail "k l m" (doc1 pos 10,
    // doc2 pos 11). The run windows overlap → ONE island per doc spanning
    // tokens 0..5; the tail is > passLen away → its own island.
    val docs = Seq(
      (1L, "a b c d e f x y z u k l m"),
      (2L, "a b c d e f p q r s t k l m"),
      (3L, "totally unrelated words only here")
    ).toDF("id", "text")
    val out = Dedup.duplicateSpans(docs, 3)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(out == Set(
      (1L, 0L, 5L, 4L), (1L, 10L, 12L, 1L),
      (2L, 0L, 5L, 4L), (2L, 11L, 13L, 1L)))
  }

  test("duplicateSpans: touching windows (gap == passLen) coalesce; gap+1 splits") {
    // "g h i g h i" duplicates "g h i" at pos 0 and 3 — covered token
    // ranges [0,2] and [3,5] touch, so one island [0,5]. Doc 20 has the
    // same gram at pos 0 and 4 — token 3 is uncovered → two islands.
    val docs = Seq(
      (10L, "g h i g h i"),
      (20L, "g h i Q g h i"),
      (30L, "g h i")
    ).toDF("id", "text")
    val out = Dedup.duplicateSpans(docs, 3)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(out == Set(
      (10L, 0L, 5L, 2L),
      (20L, 0L, 2L, 1L), (20L, 4L, 6L, 1L),
      (30L, 0L, 2L, 1L)))
  }

  test("editDistancePairs matches brute force on 60 seeded-random strings") {
    // randomized-but-deterministic sweep over a 3-letter alphabet (high
    // collision density — far more ed<=2 pairs than natural text) to
    // exercise every segment-boundary case the hand-picked set can miss
    val rnd = new scala.util.Random(42)
    val strs = (1 to 60).map { i =>
      val len = 1 + rnd.nextInt(10)
      (i.toLong, (1 to len).map(_ => ('a' + rnd.nextInt(3)).toChar).mkString)
    }.distinct.groupBy(_._2).map(_._2.head).toSeq // distinct strings (op contract)
    def lev(a: String, b: String): Int = {
      val dp = Array.tabulate(a.length + 1, b.length + 1)((i, j) => i + j)
      for (i <- 1 to a.length; j <- 1 to b.length)
        dp(i)(j) = math.min(math.min(dp(i - 1)(j) + 1, dp(i)(j - 1) + 1),
          dp(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      dp(a.length)(b.length)
    }
    val expected = (for {
      (ia, sa) <- strs; (ib, sb) <- strs if ia < ib
      d = lev(sa, sb) if d <= 2
    } yield (ia, ib, d.toLong)).toSet
    try {
      val got = Dedup.editDistancePairs(strs.toDF("id", "s"), maxDist = 2)
        .as[(Long, Long, Long)].collect().toSet
      assert(got == expected,
        s"missing=${expected -- got} extra=${got -- expected}")
      assert(expected.size > 20, s"weak fixture: only ${expected.size} pairs")
    } finally graft.CacheScope.drain()
  }

  test("editDistancePairs is lossless against brute force (PassJoin pigeonhole)") {
    // adversarial shapes: substitution / insertion / deletion at segment
    // boundaries, length-mismatched pairs, a k+1-edit pair that must NOT
    // match, and short strings below k+1 chars
    val strings = Seq(
      (1L, "spark engine"), (2L, "spork engine"), // 1 substitution
      (3L, "sparkk engine"), // insertion at a segment edge vs 1
      (4L, "park engine"), // deletion of the first char vs 1
      (5L, "spark enginX"), // substitution in the LAST segment vs 1
      (6L, "scala engine"), // 3 edits vs 1 — excluded
      (7L, "ab"), (8L, "ba"), (9L, "a"), // short strings
      (10L, "totally different text")
    ).toDF("id", "s")
    def lev(a: String, b: String): Int = {
      val dp = Array.tabulate(a.length + 1, b.length + 1)((i, j) => i + j)
      for (i <- 1 to a.length; j <- 1 to b.length)
        dp(i)(j) = math.min(math.min(dp(i - 1)(j) + 1, dp(i)(j - 1) + 1),
          dp(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      dp(a.length)(b.length)
    }
    val data = Seq("spark engine", "spork engine", "sparkk engine",
      "park engine", "spark enginX", "scala engine", "ab", "ba", "a",
      "totally different text").zipWithIndex.map { case (s, i) => (i + 1L, s) }
    val expected = (for {
      (ia, sa) <- data; (ib, sb) <- data if ia < ib
      d = lev(sa, sb) if d <= 2
    } yield (ia, ib, d.toLong)).toSet
    try {
      val got = Dedup.editDistancePairs(strings, maxDist = 2)
        .as[(Long, Long, Long)].collect().toSet
      assert(got == expected, s"got $got expected $expected")
      assert(expected.exists(_._3 == 1) && expected.exists(_._3 == 2))
      assert(!got.exists(p => Set(p._1, p._2) == Set(1L, 6L))) // 3 edits out
    } finally graft.CacheScope.drain()
  }

  test("sortedNeighborhoodPairs: exact and adjacent near-dups, with exact jaccard") {
    try {
      val pairs = Dedup.sortedNeighborhoodPairs(
        corpus.select(col("doc_id").as("id"), col("text")), 3, 8, 0.5, 4)
        .as[(Long, Long, Double)].collect().map(p => (p._1, p._2) -> p._3).toMap
      assert(pairs((1L, 4L)) == 1.0)    // exact dup, identical sort keys
      assert(pairs((1L, 2L)) == 0.8333) // near dup, shared prefix
      assert(pairs((2L, 4L)) == 0.8333)
      assert(!pairs.keySet.exists { case (a, b) => Set(a, b).intersect(Set(3L, 5L)).nonEmpty })
    } finally graft.CacheScope.drain()
  }

  test("SNM candidates are exactly the rank-window pairs, any partition count") {
    // threshold 0 keeps every verified candidate, exposing the window:
    // expected = union over both passes of pairs whose global ranks in
    // (key, id) order differ by < window, computed by a local model
    val w = 4
    val texts = (0L until 40L).map { i =>
      val lead = s"w${(i * 7919) % 23}"
      (i, s"$lead alpha${i % 5} beta${i % 7} gamma${i % 3} delta epsilon")
    }
    val docs = texts.toDF("id", "text")
    def pairsOf(key: String => String): Set[(Long, Long)] = {
      val ranked = texts.map { case (i, t) => (key(t), i) }.sorted.map(_._2)
      (for {
        a <- ranked.indices; b <- a + 1 until math.min(a + w, ranked.length)
      } yield (math.min(ranked(a), ranked(b)), math.max(ranked(a), ranked(b)))).toSet
    }
    val expected = pairsOf(_.toLowerCase) ++
      pairsOf(t => t.toLowerCase.split("\\s+").filter(_.nonEmpty).sorted.mkString(" "))
    try {
      val results = Seq(1, 3, 8).map { parts =>
        Dedup.sortedNeighborhoodPairs(docs, 3, w, 0.0, parts)
          .as[(Long, Long, Double)].collect().toSet
      }
      assert(results(0).map(p => (p._1, p._2)) == expected)
      // rank (hence the candidate set) is partition-boundary invariant
      assert(results(1) == results(0) && results(2) == results(0))
    } finally graft.CacheScope.drain()
  }

  test("SNM mass-duplicate boundary: window-local pairs only — the documented trade") {
    // 100 identical docs: every pair is a true dup (4950), but SNM by
    // design pairs each doc only with its window−1 rank successors —
    // Σ min(W−1, n−1−i) = 93·7 + 21 = 672 pairs at W=8 (both passes sort
    // identically here, so the union adds nothing). This is the stated
    // SNM candidate bound doing exactly what it promises on the input
    // that blows LSH band keys up; MASS duplicates belong to exactGroups
    // (O(1) combiner state per text hash), which this corpus' pipeline
    // (dedupCorpus) runs FIRST — SNM is the near-dup stage after it.
    val docs = (0L until 100L)
      .map(i => (i, "the very same document body repeated many times over"))
      .toDF("id", "text")
    try {
      val pairs = Dedup.sortedNeighborhoodPairs(docs, 3, 8, 0.9, 4)
        .as[(Long, Long, Double)].collect()
      assert(pairs.length == 672, s"got ${pairs.length}")
      assert(pairs.forall(_._3 == 1.0))
      val exact = Dedup.exactGroups(docs, col("text"), col("id")).collect()
      assert(exact.length == 1 && exact.head.getLong(1) == 100L) // one group of 100
    } finally graft.CacheScope.drain()
  }

  test("SNM on real documents: exact precision, pinned full recall vs the lossless join") {
    // characterize the order-locality trade on the harness corpus, the
    // semanticDedup discipline: ground truth = the LOSSLESS prefix-filter
    // exact-Jaccard join; SNM precision is exact by construction (every
    // candidate is exact-verified), and on this corpus the two sort keys
    // cover every true pair — recall 1.0 at window 8 (28/28 pairs,
    // measured; dups here share prefixes or word multisets). A corpus
    // whose near-dups diverge early under BOTH keys would lower recall —
    // that published trade is the reason the LSH family stays the
    // recall-first option.
    val docs = graft.Tables(spark, "/root/testdata/sf0.001").documents
      .select(col("doc_id").as("id"), col("text"))
    val sh = TextOps.withShingles(docs, col("text"), 3, "shingles")
      .select("id", "shingles")
    try {
      val truth = Dedup.ngramJaccardPairsPrefix(sh, 0.7)
        .as[(Long, Long, Double)].collect().toSet
      val snm = Dedup.sortedNeighborhoodPairs(docs, 3, 8, 0.7, 8)
        .as[(Long, Long, Double)].collect().toSet
      assert(truth.nonEmpty)
      assert(snm == truth) // identical pairs AND identical jaccards
    } finally graft.CacheScope.drain()
  }

  test("corpus-index lifecycle: replay-safe ingest, probe-identical compaction, delete == survivors-built") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id".as("id"), $"text")
    val existing = d.filter($"id" % 10 =!= 7)
    val batch = d.filter($"id" % 10 === 7)
    val lateSlice = existing.filter($"id" % 10 === 5)
    val dir = java.nio.file.Files.createTempDirectory("dedup-idx").toString
    def probe = Dedup.dedupAgainstIndex(batch, dir, 3, 16, 8, 0.8)
      .select("id").as[Long].collect().sorted.toSeq
    def direct(corpus: org.apache.spark.sql.DataFrame) =
      Dedup.dedupAgainst(batch, corpus, 3, 16, 8, 0.8)
        .select("id").as[Long].collect().sorted.toSeq
    try {
      // build on the initial slice, ingest the rest: probe must equal the
      // direct cross-corpus dedup over the union
      Dedup.writeCorpusIndexVersioned(
        existing.filter($"id" % 10 =!= 5), dir, 3, 16, 8)
      Dedup.ingestIntoCorpusIndex(lateSlice, dir, 1L, 3, 16, 8)
      val p1 = probe
      assert(p1 == direct(existing), "build+ingest must equal direct dedupAgainst")
      // crash-replay of batch 1: identical contents, identical probe
      Dedup.ingestIntoCorpusIndex(lateSlice, dir, 1L, 3, 16, 8)
      assert(probe == p1)
      // compaction: epoch swap, probe-identical, superseded epoch gone
      assert(Dedup.compactCorpusIndex(spark, dir) == 1)
      assert(probe == p1, "probe must be identical across compaction")
      assert(!new java.io.File(s"$dir/hashes").exists())
      assert(spark.read.parquet(s"$dir/bands_e1")
        .select("batch").distinct().count() == 1)
      // physical deletion: post-delete probe == probing an index of the
      // SURVIVORS (band keys and shingles are per-doc — exact equality)
      val victims = existing.filter($"id" % 10 === 3).select($"id")
      assert(Dedup.deleteFromCorpusIndex(spark, dir, victims) == 2)
      val post = probe
      assert(post == direct(existing.filter($"id" % 10 =!= 3)),
        "delete must equal a survivors-only corpus")
      // the victims' bytes are GONE from all three views
      val vset = victims.as[Long].collect().toSet
      assert(spark.read.parquet(s"$dir/hashes_e2")
        .filter($"id".isin(vset.toSeq: _*)).count() == 0)
      assert(spark.read.parquet(s"$dir/bands_e2")
        .filter($"id".isin(vset.toSeq: _*)).count() == 0)
      assert(spark.read.parquet(s"$dir/shingles_e2")
        .filter($"id".isin(vset.toSeq: _*)).count() == 0)
      // idempotent: re-running the same delete is a no-op rewrite
      assert(Dedup.deleteFromCorpusIndex(spark, dir, victims) == 3)
      assert(probe == post)
    } finally graft.CacheScope.drain()
  }

  test("SNM second pass catches a near-dup the text-order pass sorts apart") {
    // P and Q share 5 of P's 6 shingles (J = 5/6) but P leads with 'zzz'
    // and Q with 'alpha' — in raw text order 10 filler docs sit between
    // them, far beyond window 4. Their sorted-word keys are adjacent
    // (Q's key is a prefix of P's; fillers sort after both), so the
    // word-order-insensitive pass recovers the pair.
    val fillers = (100L until 110L).map(i =>
      (i, s"mmm${i} nnn${i} ooo${i} ppp${i} qqq${i}"))
    val docs = (Seq(
      (1L, "zzz alpha beta gamma delta epsilon zeta eta"),
      (2L, "alpha beta gamma delta epsilon zeta eta")) ++ fillers)
      .toDF("id", "text")
    try {
      val pairs = Dedup.sortedNeighborhoodPairs(docs, 3, 4, 0.5, 3)
        .as[(Long, Long, Double)].collect().toSet
      assert(pairs.contains((1L, 2L, 0.8333)), pairs.toString)
      assert(!pairs.exists { case (a, b, _) => a >= 100L || b >= 100L })
    } finally graft.CacheScope.drain()
  }

  test("cdcChunks: boundaries re-synchronize after an insertion — the property fixed segments lack") {
    import org.apache.spark.sql.functions.col
    // one deterministic 60-word body; doc 2 = doc 1 with ONE word
    // prepended. Fixed-length segments all shift; CDC boundaries are
    // content-anchored, so chunks after the first boundary match again.
    val rnd = new scala.util.Random(7)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon",
      "zeta", "eta", "theta", "iota", "kappa")
    val body = (1 to 60).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val docs = Seq((1L, body), (2L, "inserted " + body)).toDF("id", "text")
    try {
      val ch = Dedup.cdcChunks(docs, col("id"), col("text"), 3, 8)
        .as[(Long, Long, Long, String)].collect()
      val byDoc = ch.groupBy(_._1).view.mapValues(_.map(_._4).toSet).toMap
      val shared = byDoc(1L) intersect byDoc(2L)
      assert(shared.nonEmpty,
        "CDC must re-synchronize after the insertion and share chunks")
      // everything after the first boundary of doc 2 matches doc 1
      assert(shared.size >= byDoc(2L).size - 2,
        s"only ${shared.size} of ${byDoc(2L).size} chunks re-synced")
      // fixed segments at the same granularity share (nearly) nothing:
      // the insertion shifts every fixed-grid window (local replay of
      // the q81 segmentation — independent of any operator code)
      def fixedSegs(t: String) =
        t.split(" ").toSeq.grouped(8).map(_.mkString(" ")).toSet
      val fixedShared = fixedSegs(body) intersect fixedSegs("inserted " + body)
      assert(fixedShared.size < shared.size,
        s"fixed segments shared ${fixedShared.size} — CDC must beat them here")
      // per-doc invariants: chunk words sum back to the doc's word count
      val words = ch.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
      assert(words(1L) == 60L && words(2L) == 61L)
      // chunk indexes are dense from 0
      ch.groupBy(_._1).foreach { case (_, rows) =>
        assert(rows.map(_._2).sorted.toSeq == (0L until rows.length).toSeq)
      }
    } finally graft.CacheScope.drain()
  }

  test("removeDuplicateSpans: owner copy survives, non-owner spans cut, reassembly exact") {
    import org.apache.spark.sql.functions.col
    // a shared 4-gram passage "p q r s" inside otherwise-distinct docs;
    // doc 1 is the first owner (lowest (id, pos)), so ONLY doc 2's copy
    // is cut; doc 3 shares nothing and passes through verbatim
    val docs = Seq(
      (1L, "a b p q r s c d"),
      (2L, "x y z p q r s w v u"),
      (3L, "m n o k l t u v")
    ).toDF("id", "text")
    try {
      val out = Dedup.removeDuplicateSpans(docs, 4)
        .as[(Long, Long, Long, String)].collect()
        .map(t => t._1 -> ((t._2, t._3, t._4))).toMap
      assert(out(1L) == ((8L, 0L, "a b p q r s c d")))
      assert(out(2L) == ((10L, 4L, "x y z w v u")))
      assert(out(3L) == ((8L, 0L, "m n o k l t u v")))
      // overlapping dup grams merge to one island: doc 5 repeats doc 4's
      // 5-token run, producing two overlapping 4-gram windows -> one
      // contiguous 5-token cut
      val docs2 = Seq(
        (4L, "p q r s t a b c"),
        (5L, "z z p q r s t y y")
      ).toDF("id", "text")
      val out2 = Dedup.removeDuplicateSpans(docs2, 4)
        .as[(Long, Long, Long, String)].collect()
        .map(t => t._1 -> ((t._2, t._3, t._4))).toMap
      assert(out2(4L) == ((8L, 0L, "p q r s t a b c")))
      assert(out2(5L) == ((9L, 5L, "z z y y")))
      // a doc shorter than the gram length is untouchable by construction
      val out3 = Dedup.removeDuplicateSpans(
        Seq((6L, "p q r"), (7L, "p q r")).toDF("id", "text"), 4)
        .as[(Long, Long, Long, String)].collect().map(_._3).sum
      assert(out3 == 0L)
    } finally graft.CacheScope.drain()
  }

  test("cdc chunk view: stored lifecycle — ingest dedups against prior batches; compact and delete preserve the report") {
    import org.apache.spark.sql.functions.col
    val rnd = new scala.util.Random(13)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon",
      "zeta", "eta", "theta", "iota", "kappa")
    val body = (1 to 60).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val other = (1 to 40).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" ")
    // doc 11 (ingested later) = doc 1 with one word inserted — the
    // cross-batch near-copy the chunk view exists to catch
    val base = Seq((1L, body), (2L, other)).toDF("id", "text")
    val batch = Seq((11L, "inserted " + body)).toDF("id", "text")
    val dir = java.nio.file.Files.createTempDirectory("cdc_idx").toString
    def report() = Dedup.cdcReportFromIndex(spark, dir)
      .as[(Long, Long, Long, Double)].collect().sortBy(_._1).toSeq
    try {
      Dedup.writeCorpusIndexVersioned(base, dir, 3, 16, 4, 3, 8)
      Dedup.ingestIntoCorpusIndex(batch, dir, 1L, 3, 16, 4, 3, 8)
      val r1 = report()
      val m = r1.map(t => t._1 -> t).toMap
      // the ingested near-copy shares most chunks with batch-0's doc 1
      assert(m(11L)._3 >= m(11L)._2 - 2,
        s"ingested near-copy only ${m(11L)._3}/${m(11L)._2} dup chunks")
      assert(m(1L)._3 == 0L, "the earlier doc must stay the owner")
      // replayed ingest converges (overwrite-own-partition contract)
      Dedup.ingestIntoCorpusIndex(batch, dir, 1L, 3, 16, 4, 3, 8)
      assert(report() == r1)
      // compaction preserves the report
      Dedup.compactCorpusIndex(spark, dir)
      assert(report() == r1)
      // deletion: post-delete report equals an index built from survivors
      Dedup.deleteFromCorpusIndex(spark, dir, Seq(1L).toDF("id"))
      val afterDel = report()
      val dir2 = java.nio.file.Files.createTempDirectory("cdc_idx2").toString
      Dedup.writeCorpusIndexVersioned(
        base.filter(col("id") =!= 1L).unionAll(batch), dir2, 3, 16, 4, 3, 8)
      val fresh = Dedup.cdcReportFromIndex(spark, dir2)
        .as[(Long, Long, Long, Double)].collect().sortBy(_._1).toSeq
      assert(afterDel == fresh,
        "post-delete chunk report must equal the survivors-only index")
    } finally graft.CacheScope.drain()
  }

  test("cdcChunks: native md5_windows kernel reproduces the interpreted boundaries exactly") {
    import org.apache.spark.sql.functions.col
    val rnd = new scala.util.Random(11)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon",
      "zeta", "eta", "theta", "iota", "kappa")
    val docs = (1L to 20L).map { i =>
      val n = 1 + rnd.nextInt(80) // includes words-shorter-than-window docs
      (i, (1 to n).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }.toDF("id", "text")
    try {
      for ((w, m) <- Seq((3, 8), (1, 4), (4, 16))) {
        val native = Dedup.cdcChunks(docs, col("id"), col("text"), w, m)
          .as[(Long, Long, Long, String)].collect().toSet
        val interp = Dedup.cdcChunks(docs, col("id"), col("text"), w, m,
          nativeKernel = false)
          .as[(Long, Long, Long, String)].collect().toSet
        assert(native == interp, s"kernel/interpreted diverged at w=$w m=$m")
      }
    } finally graft.CacheScope.drain()
  }

  test("election key overflow fails loudly: hash-derived ids >= 2^43 cannot silently corrupt first-owner election") {
    def messages(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(e => Option(e.getMessage).getOrElse("")).mkString(" | ")
    // segmentDedup: out-of-range id
    val bigId = Seq((1L << 43, "p q r s t u"), (7L, "p q r s t u"))
      .toDF("id", "text")
    val e1 = intercept[Throwable] { Dedup.segmentDedup(bigId, 3).collect() }
    assert(messages(e1).contains("election key overflow"), messages(e1))
    // removeDuplicateSpans: same guard on the owner-election aggregate
    val e2 = intercept[Throwable] {
      Dedup.removeDuplicateSpans(bigId, 3).collect()
    }
    assert(messages(e2).contains("election key overflow"), messages(e2))
    graft.CacheScope.drain()
    // in-range ids are untouched (the q81/q207 surface)
    val ok = Seq(((1L << 43) - 1, "p q r s t u"), (7L, "x y z w v u"))
      .toDF("id", "text")
    assert(Dedup.segmentDedup(ok, 3).count() == 2)
    graft.CacheScope.drain()
  }

  test("compactCcLabelsIfNeeded thresholds on the remap batch count; resolution unchanged") {
    val dir = java.nio.file.Files.createTempDirectory("cc-ifneeded").toString
    try {
      def resolved() = Dedup.ccLabelsResolved(spark, dir)
        .as[(Long, Long)].collect().toMap
      Dedup.writeCcLabels(Seq(1L, 2L, 5L, 6L).toDF("id"),
        Seq((1L, 2L), (5L, 6L)).toDF("id_a", "id_b"), dir)
      Dedup.ingestIntoCcLabels(Seq(10L).toDF("id"),
        Seq((10L, 1L), (10L, 5L)).toDF("id_a", "id_b"), dir, 1L)
      val before = resolved()
      assert(before == Map(1L -> 1L, 2L -> 1L, 5L -> 1L, 6L -> 1L, 10L -> 1L))
      // under threshold (2 remap batches): no-op
      assert(Dedup.compactCcLabelsIfNeeded(spark, dir, maxBatches = 3).isEmpty)
      assert(Compaction.currentEpoch(spark, dir) == 0)
      // over threshold: epoch swap, remap chain folded, resolution unchanged
      assert(Dedup.compactCcLabelsIfNeeded(spark, dir, maxBatches = 1)
        .contains(1))
      assert(Compaction.currentEpoch(spark, dir) == 1)
      assert(Compaction.batchCount(spark, dir, "remap") == 1)
      assert(resolved() == before)
    } finally graft.CacheScope.drain()
  }

  test("writeCcLabels rejects edges with endpoints outside the id set (mirror of the ingest's dangling check)") {
    val dir = java.nio.file.Files.createTempDirectory("cc-dangling").toString
    val e = intercept[IllegalArgumentException] {
      Dedup.writeCcLabels(Seq(1L, 2L).toDF("id"),
        Seq((1L, 3L)).toDF("id_a", "id_b"), dir)
    }
    assert(e.getMessage.contains("edge endpoint"))
  }
}