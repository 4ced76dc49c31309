package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class RetrievalSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // (id, term, tf, dl): d1 = {a:2, b:1}, d2 = {a:1}, d3 = {b:2, c:1}
  private def terms = Seq(
    (1L, "a", 2L, 3L), (1L, "b", 1L, 3L),
    (2L, "a", 1L, 1L),
    (3L, "b", 2L, 3L), (3L, "c", 1L, 3L)
  ).toDF("id", "term", "tf", "dl")

  private val k1 = 1.2
  private val b = 0.75

  /** Independent reference BM25: explicit arithmetic, no shared code. */
  private def bm25(tf: Long, df: Long, dl: Long, n: Long, totDl: Long): Double = {
    val idf = math.log(1.0 + (n.toDouble - df + 0.5) / (df.toDouble + 0.5))
    val avg = totDl.toDouble / n.toDouble
    idf * (tf.toDouble * (k1 + 1.0)) /
      (tf.toDouble + k1 * ((1.0 - b) + b * dl.toDouble / avg))
  }

  test("bm25TopK matches an explicit hand computation") {
    val queries = Seq((10L, "a"), (10L, "c"), (11L, "b")).toDF("q_id", "term")
    try {
      val got = Retrieval.bm25TopK(terms, queries, 10)
        .as[(Long, Long, Double, Long)].collect()
        .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
      // corpus stats: N=3, tot_dl=7; df: a=2, b=2, c=1
      def r4(x: Double) = BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      val q10 = Map( // query {a, c}
        1L -> r4(bm25(2, 2, 3, 3, 7)),              // d1 matches a only
        2L -> r4(bm25(1, 2, 1, 3, 7)),              // d2 matches a only
        3L -> r4(bm25(1, 1, 3, 3, 7)))              // d3 matches c only
      assert(got((10L, 1L))._1 == q10(1L))
      assert(got((10L, 2L))._1 == q10(2L))
      assert(got((10L, 3L))._1 == q10(3L))
      // ranks follow (score desc, id asc)
      val order10 = Seq(1L, 2L, 3L).sortBy(d => (-q10(d), d))
      assert(order10.zipWithIndex.forall { case (d, i) =>
        got((10L, d))._2 == i + 1L })
      // query {b}: only d1 and d3 score
      assert(got.keySet.filter(_._1 == 11L).map(_._2) == Set(1L, 3L))
      assert(got((11L, 3L))._1 == r4(bm25(2, 2, 3, 3, 7)))
    } finally graft.CacheScope.drain()
  }

  test("k bounds results and excludeSelf drops the query's own document") {
    val queries = Seq((1L, "a"), (1L, "b")).toDF("q_id", "term")
    try {
      val mlt = Retrieval.bm25TopK(terms, queries, 10, excludeSelf = true)
        .as[(Long, Long, Double, Long)].collect()
      assert(!mlt.exists(_._2 == 1L)) // the seed never retrieves itself
      assert(mlt.map(_._2).toSet == Set(2L, 3L))
      val k1only = Retrieval.bm25TopK(terms, queries, 1)
        .as[(Long, Long, Double, Long)].collect()
      assert(k1only.length == 1 && k1only.head._4 == 1L)
    } finally graft.CacheScope.drain()
  }

  test("scores are partition-count invariant (sorted contribution fold)") {
    val queries = Seq((10L, "a"), (10L, "b"), (10L, "c")).toDF("q_id", "term")
    try {
      val one = Retrieval.bm25TopK(terms.repartition(1), queries, 10)
        .as[(Long, Long, Double, Long)].collect().toSet
      val many = Retrieval.bm25TopK(terms.repartition(7), queries, 10)
        .as[(Long, Long, Double, Long)].collect().toSet
      assert(one == many && one.nonEmpty)
    } finally graft.CacheScope.drain()
  }

  test("stored-index probe equals the direct bm25TopK, and rebuild is idempotent") {
    val docs = graft.Tables(spark, "/root/testdata/sf0.001").documents
    val tf = docs
      .select(col("doc_id").as("id"),
        expr("filter(split(lower(text), '\\\\s+'), x -> length(x) > 0)").as("ws"))
      .filter(size(col("ws")) >= 2)
      .select(col("id"), (size(col("ws")) - 1).cast("long").as("dl"),
        explode(col("ws")).as("term"))
      .groupBy(col("id"), col("dl"), col("term")).agg(count(lit(1)).as("tf"))
    val queries = Seq((0L, "the"), (0L, "data"), (1L, "table")).toDF("q_id", "term")
    val dir = java.nio.file.Files.createTempDirectory("bm25-idx").toString
    try {
      val direct = Retrieval.bm25TopK(tf, queries, 5, excludeSelf = true)
        .as[(Long, Long, Double, Long)].collect().toSet
      Retrieval.writeBm25IndexVersioned(tf, dir, 16)
      val probed = Retrieval.bm25AgainstIndex(queries, dir, 5, excludeSelf = true)
        .as[(Long, Long, Double, Long)].collect().toSet
      assert(probed == direct && direct.nonEmpty)
      Retrieval.writeBm25IndexVersioned(tf, dir, 16) // overwrite-mode rebuild
      val again = Retrieval.bm25AgainstIndex(queries, dir, 5, excludeSelf = true)
        .as[(Long, Long, Double, Long)].collect().toSet
      assert(again == direct)
    } finally graft.CacheScope.drain()
  }

  test("append extends the index EXACTLY to the from-scratch union build") {
    // no frozen quantizer on the lexical side: df counts postings and
    // stats rows sum, so build+ingest must be indistinguishable from one
    // build over the union — including df and avgdl shifts the batch causes
    val batch = Seq((4L, "a", 1L, 2L), (4L, "c", 1L, 2L)).toDF("id", "term", "tf", "dl")
    val union = terms.unionByName(batch)
    val queries = Seq((10L, "a"), (10L, "c"), (11L, "b")).toDF("q_id", "term")
    val dir = java.nio.file.Files.createTempDirectory("bm25-inc").toString
    try {
      Retrieval.writeBm25IndexVersioned(terms, dir, 8)
      Retrieval.ingestIntoBm25Index(batch, dir, 1L)
      val probed = Retrieval.bm25AgainstIndex(queries, dir, 10)
        .as[(Long, Long, Double, Long)].collect().toSet
      val fromScratch = Retrieval.bm25TopK(union, queries, 10)
        .as[(Long, Long, Double, Long)].collect().toSet
      assert(probed == fromScratch && probed.exists(_._2 == 4L))
    } finally graft.CacheScope.drain()
  }

  test("versioned ingest: a replayed batch leaves the index contents identical") {
    val batch = Seq((4L, "a", 1L, 2L), (4L, "c", 1L, 2L)).toDF("id", "term", "tf", "dl")
    val queries = Seq((10L, "a"), (10L, "c")).toDF("q_id", "term")
    val dir = java.nio.file.Files.createTempDirectory("bm25-vers").toString
    try {
      Retrieval.writeBm25IndexVersioned(terms, dir, 8)
      Retrieval.ingestIntoBm25Index(batch, dir, 1L)
      val once = Retrieval.bm25AgainstIndex(queries, dir, 10)
        .as[(Long, Long, Double, Long)].collect().toSet
      Retrieval.ingestIntoBm25Index(batch, dir, 1L) // crash-replay of batch 1
      val replayed = Retrieval.bm25AgainstIndex(queries, dir, 10)
        .as[(Long, Long, Double, Long)].collect().toSet
      assert(replayed == once && once.exists(_._2 == 4L))
      // and the raw stored frames carry no duplicates
      val n = spark.read.parquet(s"$dir/lists").count()
      assert(n == terms.count() + batch.count())
    } finally graft.CacheScope.drain()
  }

  test("compactBm25Index: probe-identical, fewer files, ingest continues in the new epoch") {
    val b1 = Seq((4L, "a", 1L, 2L), (4L, "c", 1L, 2L)).toDF("id", "term", "tf", "dl")
    val b2 = Seq((5L, "b", 2L, 2L)).toDF("id", "term", "tf", "dl")
    val b3 = Seq((6L, "c", 1L, 1L)).toDF("id", "term", "tf", "dl")
    val queries = Seq((10L, "a"), (10L, "c"), (11L, "b")).toDF("q_id", "term")
    val dir = java.nio.file.Files.createTempDirectory("bm25-compact").toString
    def probe = Retrieval.bm25AgainstIndex(queries, dir, 10)
      .as[(Long, Long, Double, Long)].collect().toSet
    try {
      Retrieval.writeBm25IndexVersioned(terms, dir, 8)
      Retrieval.ingestIntoBm25Index(b1, dir, 1L)
      Retrieval.ingestIntoBm25Index(b2, dir, 2L)
      val before = probe
      val filesBefore = Compaction.dataFileCount(spark, s"$dir/lists") +
        Compaction.dataFileCount(spark, s"$dir/stats")
      assert(Retrieval.compactBm25Index(spark, dir) == 1)
      assert(probe == before, "probe must be identical across compaction")
      val filesAfter = Compaction.dataFileCount(spark, s"${dir}/lists_e1") +
        Compaction.dataFileCount(spark, s"${dir}/stats_e1")
      assert(filesAfter < filesBefore, s"$filesAfter !< $filesBefore")
      // batch dirs folded into one consolidated batch, old epoch dropped
      assert(!new java.io.File(s"$dir/lists").exists())
      assert(spark.read.parquet(s"$dir/lists_e1")
        .select("batch").distinct().count() == 1)
      // post-compaction ingest lands in the NEW epoch; probes see it, and
      // the whole index equals a from-scratch build over everything
      Retrieval.ingestIntoBm25Index(b3, dir, 3L)
      val union = terms.unionByName(b1).unionByName(b2).unionByName(b3)
      val fromScratch = Retrieval.bm25TopK(union, queries, 10)
        .as[(Long, Long, Double, Long)].collect().toSet
      val p3 = probe
      assert(p3 == fromScratch && p3.exists(_._2 == 6L))
      // a second compaction (of an already-marked epoch) is stable too
      assert(Retrieval.compactBm25Index(spark, dir) == 2)
      assert(probe == p3)
    } finally graft.CacheScope.drain()
  }

  test("deleteFromBm25Index: bytes erased, stats recounted, probe == survivors-only index") {
    val b1 = Seq((4L, "a", 1L, 2L), (4L, "c", 1L, 2L)).toDF("id", "term", "tf", "dl")
    val queries = Seq((10L, "a"), (10L, "c"), (11L, "b")).toDF("q_id", "term")
    val dir = java.nio.file.Files.createTempDirectory("bm25-del").toString
    def probe = Retrieval.bm25AgainstIndex(queries, dir, 10)
      .as[(Long, Long, Double, Long)].collect().toSet
    try {
      Retrieval.writeBm25IndexVersioned(terms, dir, 8)
      Retrieval.ingestIntoBm25Index(b1, dir, 1L)
      val before = probe
      assert(before.exists(_._2 == 1L)) // the victim scores pre-delete
      // delete d1 (+ an id the index never held — must be ignored)
      val del = Seq(1L, 99L).toDF("id")
      assert(Retrieval.deleteFromBm25Index(spark, dir, del) == 1)
      val after = probe
      assert(after != before && after.forall(_._2 != 1L))
      // deletion shifts df/idf/avgdl for everyone: the probe must equal
      // the direct path over the SURVIVING corpus exactly
      val survivors = terms.unionByName(b1).filter($"id" =!= 1L)
      assert(after == Retrieval.bm25TopK(survivors, queries, 10)
        .as[(Long, Long, Double, Long)].collect().toSet)
      // the postings bytes are GONE, and the stats row is an exact recount
      val lists = spark.read.parquet(s"$dir/lists_e1")
      assert(lists.filter($"id" === 1L).count() == 0)
      assert(lists.count() == survivors.count())
      val st = spark.read.parquet(s"$dir/stats_e1").head()
      assert(st.getAs[Long]("n_docs") == 3L && st.getAs[Long]("tot_dl") == 6L)
      // idempotent: re-running the same delete is a no-op rewrite
      assert(Retrieval.deleteFromBm25Index(spark, dir, del) == 2)
      assert(probe == after)
    } finally graft.CacheScope.drain()
  }

  test("deleteFromBm25Index: deleting EVERY document leaves a readable, empty-probing index") {
    val dir = java.nio.file.Files.createTempDirectory("bm25-del-all").toString
    val queries = Seq((10L, "a"), (11L, "b")).toDF("q_id", "term")
    try {
      Retrieval.writeBm25IndexVersioned(terms, dir, 8)
      assert(Retrieval.deleteFromBm25Index(spark, dir,
        terms.select($"id").distinct()) == 1)
      // the rewritten epoch must still READ (zero rows, schema intact —
      // the stats recount runs on the surviving FRAME, never a read-back
      // of the possibly-fileless just-written directory)
      assert(spark.read.parquet(s"$dir/lists_e1").count() == 0)
      val st = spark.read.parquet(s"$dir/stats_e1").head()
      assert(st.getAs[Long]("n_docs") == 0L && st.getAs[Long]("tot_dl") == 0L)
      assert(Retrieval.bm25AgainstIndex(queries, dir, 10).count() == 0)
      // the epoch must also still INGEST: the empty marker is written
      // partition-shaped (bucket=0), so a later batch=1/bucket=N write
      // beside it keeps partition-discovery depth consistent — a bare
      // flat file here would fail every subsequent probe with
      // "Conflicting directory structures"
      Retrieval.ingestIntoBm25Index(terms.filter($"id" === 1L), dir, 1L)
      val after = Retrieval.bm25AgainstIndex(queries, dir, 10)
      assert(after.select($"doc_id").distinct().collect()
        .map(_.getLong(0)).toSet == Set(1L))
    } finally graft.CacheScope.drain()
  }

  test("plan: the query side broadcasts — no corpus-wide shuffle join") {
    val queries = Seq((10L, "a")).toDF("q_id", "term")
    try {
      val df = Retrieval.bm25TopK(terms, queries, 10)
      df.count()
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("BroadcastHashJoin"), p)
      assert(!p.contains("SortMergeJoin"), p)
    } finally graft.CacheScope.drain()
  }

  test("hardNegatives: near-copy excluded, lexical non-dup kept, empty-shingle doc scores jaccard 0") {
    // seed 1; doc 2 is a near-copy (shingle J = 2/3 ≥ 0.3) that plain
    // BM25 retrieves — hardNegatives must drop it as a false negative;
    // doc 3 shares the query TERMS but no shingles (a true hard
    // negative); doc 5 is a one-word doc (empty shingle array)
    val tf = Seq(
      (1L, "alpha", 1L, 4L), (1L, "beta", 1L, 4L), (1L, "gamma", 1L, 4L),
      (1L, "delta", 1L, 4L),
      (2L, "alpha", 1L, 5L), (2L, "beta", 1L, 5L), (2L, "gamma", 1L, 5L),
      (2L, "delta", 1L, 5L), (2L, "epsilon", 1L, 5L),
      (3L, "beta", 1L, 4L), (3L, "alpha", 1L, 4L), (3L, "zeta", 1L, 4L),
      (3L, "eta", 1L, 4L),
      (4L, "qqq", 1L, 3L), (4L, "www", 1L, 3L), (4L, "zzz", 1L, 3L),
      (5L, "alpha", 1L, 1L)
    ).toDF("id", "term", "tf", "dl")
    val queries = Seq((1L, "alpha"), (1L, "beta")).toDF("q_id", "term")
    val shingled = Seq(
      (1L, Seq("alpha beta gamma", "beta gamma delta")),
      (2L, Seq("alpha beta gamma", "beta gamma delta", "gamma delta epsilon")),
      (3L, Seq("beta alpha zeta", "alpha zeta eta")),
      (4L, Seq("qqq www zzz")),
      (5L, Seq.empty[String])
    ).toDF("id", "ss")
    try {
      // plain BM25 WOULD hand the near-copy back as the top "negative"
      val plain = Retrieval.bm25TopK(tf, queries, 10, excludeSelf = true)
        .as[(Long, Long, Double, Long)].collect()
      assert(plain.exists(_._2 == 2L), "fixture: doc 2 must be retrieved")
      graft.CacheScope.drain()
      val hn = Retrieval.hardNegatives(tf, queries, shingled,
          k = 10, slack = 5, jaccardT = 0.3)
        .select($"q_id", $"doc_id", $"jaccard", $"rnk")
        .as[(Long, Long, Double, Long)].collect()
      val ids = hn.map(_._2).toSet
      assert(!ids.contains(2L), "near-copy must be excluded")
      assert(!ids.contains(1L), "self never appears")
      assert(!ids.contains(4L), "no shared query term, never a candidate")
      assert(ids == Set(3L, 5L))
      val byId = hn.map(h => h._2 -> h).toMap
      assert(byId(3L)._3 == 0.0 && byId(5L)._3 == 0.0)
      // re-rank is dense over the survivors: ranks are 1..n
      assert(hn.map(_._4).sorted.toSeq == (1L to hn.length).toSeq)

      // the shuffle-join fallback (offline-scale |Q| past the broadcast
      // cap) is result-identical to the broadcast path
      graft.CacheScope.drain()
      val shuffled = Retrieval.hardNegatives(tf, queries, shingled,
          k = 10, slack = 5, jaccardT = 0.3, broadcastMax = 1)
        .select($"q_id", $"doc_id", $"jaccard", $"rnk")
        .as[(Long, Long, Double, Long)].collect()
      assert(shuffled.sorted.toSeq == hn.sorted.toSeq)

      // a doc MISSING from the shingle table fails safe as jaccard 0
      // (kept as a negative), never silently dropped
      graft.CacheScope.drain()
      val partial = Retrieval.hardNegatives(tf, queries,
          shingled.filter($"id" =!= 3L), k = 10, slack = 5, jaccardT = 0.3)
        .select($"q_id", $"doc_id", $"jaccard")
        .as[(Long, Long, Double)].collect()
      assert(partial.exists(r => r._2 == 3L && r._3 == 0.0),
        "doc absent from shingled must survive with jaccard 0")
    } finally graft.CacheScope.drain()
  }

  test("trainingPairs: one positive per seed at rank 0; negatives are the mined set; no collision") {
    val tf = Seq(
      (1L, "alpha", 1L, 4L), (1L, "beta", 1L, 4L), (1L, "gamma", 1L, 4L),
      (1L, "delta", 1L, 4L),
      (3L, "beta", 1L, 4L), (3L, "alpha", 1L, 4L), (3L, "zeta", 1L, 4L),
      (3L, "eta", 1L, 4L),
      (4L, "qqq", 1L, 3L), (4L, "www", 1L, 3L), (4L, "zzz", 1L, 3L),
      (5L, "alpha", 1L, 1L)
    ).toDF("id", "term", "tf", "dl")
    val queries = Seq((1L, "alpha"), (1L, "beta")).toDF("q_id", "term")
    val shingled = Seq(
      (1L, Seq("alpha beta gamma", "beta gamma delta")),
      (3L, Seq("beta alpha zeta", "alpha zeta eta")),
      (4L, Seq("qqq www zzz")),
      (5L, Seq.empty[String])
    ).toDF("id", "ss")
    try {
      val got = Retrieval.trainingPairs(tf, queries, shingled,
          k = 10, slack = 5, jaccardT = 0.3)
        .as[(Long, Long, Long, Long)].collect()
      val pos = got.filter(_._3 == 1L)
      assert(pos.toSeq == Seq((1L, 1L, 1L, 0L)), "exactly one positive, self, rank 0")
      val neg = got.filter(_._3 == 0L)
      val mined = Retrieval.hardNegatives(tf, queries, shingled,
          k = 10, slack = 5, jaccardT = 0.3)
        .select($"q_id", $"doc_id", $"rnk")
        .as[(Long, Long, Long)].collect().toSet
      assert(neg.map(r => (r._1, r._2, r._4)).toSet == mined)
      assert(!neg.exists(r => r._1 == r._2), "a positive can never be a negative")
    } finally graft.CacheScope.drain()
  }
}