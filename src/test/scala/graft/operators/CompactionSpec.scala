package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class CompactionSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def parquetFiles(dir: String): Seq[java.io.File] =
    new java.io.File(dir).listFiles().toSeq
      .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_"))

  test("compactParquet merges a small-files mess into the computed file count") {
    val base = Files.createTempDirectory("graft_compact").toString
    val in = s"$base/in"; val out = s"$base/out"
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .repartition(64) // the mess: 64 tiny files
      .write.parquet(in)
    assert(parquetFiles(in).size == 64)
    val total = Compaction.dataBytes(spark, in)
    val n = Compaction.compactParquet(spark, in, out, targetBytes = total / 4)
    assert(parquetFiles(out).size == n && n >= 4 && n <= 6)
    // content identity
    val a = spark.read.parquet(in).orderBy("doc_id").collect()
    val b = spark.read.parquet(out).orderBy("doc_id").collect()
    assert(a.sameElements(b))
  }

  test("sorted compaction yields non-overlapping per-file ranges (data skipping)") {
    val base = Files.createTempDirectory("graft_compact_sorted").toString
    val in = s"$base/in"; val out = s"$base/out"
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .repartition(16).write.parquet(in)
    val total = Compaction.dataBytes(spark, in)
    Compaction.compactParquet(spark, in, out, targetBytes = total / 4,
      sortCols = Seq(col("doc_id")))
    // each output file's [min,max] doc_id interval must not overlap another's
    val ranges = parquetFiles(out).map { f =>
      val r = spark.read.parquet(f.getAbsolutePath)
        .agg(min("doc_id"), max("doc_id")).head()
      (r.getLong(0), r.getLong(1))
    }.sortBy(_._1)
    assert(ranges.sliding(2).forall {
      case Seq((_, hi), (lo2, _)) => hi < lo2
      case _ => true
    })
    // a point predicate could therefore skip all but one file
    assert(ranges.size >= 4)
  }

  test("auto-compaction trigger: no-op under threshold, compacts past it, probe unchanged") {
    import spark.implicits._
    val terms = Seq(
      (1L, "a", 2L, 3L), (1L, "b", 1L, 3L), (2L, "a", 1L, 1L),
      (3L, "b", 2L, 3L), (3L, "c", 1L, 3L)
    ).toDF("id", "term", "tf", "dl")
    val queries = Seq((10L, "a"), (11L, "b")).toDF("q_id", "term")
    val dir = Files.createTempDirectory("bm25-auto").toString
    def probe = Retrieval.bm25AgainstIndex(queries, dir, 10)
      .as[(Long, Long, Double, Long)].collect().toSet
    try {
      Retrieval.writeBm25IndexVersioned(terms, dir, 4) // batch 0
      Retrieval.ingestIntoBm25Index(
        Seq((4L, "a", 1L, 1L)).toDF("id", "term", "tf", "dl"), dir, 1L)
      Retrieval.ingestIntoBm25Index(
        Seq((5L, "c", 2L, 2L)).toDF("id", "term", "tf", "dl"), dir, 2L)
      val before = probe
      assert(Compaction.batchCount(spark, dir, "lists") == 3)
      // 3 sealed batches, threshold 3: NOT exceeded — must be a no-op
      assert(Retrieval.compactBm25IndexIfNeeded(spark, dir, 3).isEmpty)
      assert(Compaction.currentEpoch(spark, dir) == 0)
      // threshold 2: exceeded — compacts, epoch advances, probe unchanged
      assert(Retrieval.compactBm25IndexIfNeeded(spark, dir, 2).contains(1))
      assert(Compaction.batchCount(spark, dir, "lists") == 1)
      assert(probe == before, "probe must be identical across auto-compaction")
      // immediately after: back under any threshold — idempotent no-op
      assert(Retrieval.compactBm25IndexIfNeeded(spark, dir, 2).isEmpty)
    } finally graft.CacheScope.drain()
  }

  test("auto-compaction trigger: IVF sibling consults the lists batch count") {
    import spark.implicits._
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select($"vec_id", $"embedding")
    val queries = emb.filter($"vec_id" % 50 === 0)
      .select($"vec_id".as("q_id"), $"embedding".as("q_vec"))
    val dir = Files.createTempDirectory("ivf-auto").toString
    def probe = Similarity.ivfTopKAgainstIndex(queries, dir, 2, 5)
      .as[(Long, Long, Double, Long)].collect().toSet
    try {
      Similarity.writeIvfIndexVersioned(emb.filter($"vec_id" % 3 =!= 1), dir, 8)
      Similarity.ingestIntoIvfIndex(emb.filter($"vec_id" % 3 === 1), dir, 1L)
      val before = probe
      assert(Similarity.compactIvfIndexIfNeeded(spark, dir, 2).isEmpty)
      assert(Similarity.compactIvfIndexIfNeeded(spark, dir, 1).contains(1))
      assert(Compaction.batchCount(spark, dir, "lists") == 1)
      assert(probe == before)
    } finally graft.CacheScope.drain()
  }

  test("a store emptied by deletion stays readable through compaction and ingests again") {
    // every family with a delete: deleting every id, then compacting the
    // emptied store, must leave it probe-able (0 rows) and ingestible
    import spark.implicits._
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select($"vec_id", $"embedding")
    val back = emb.filter($"vec_id" < 5) // re-ingested after the emptying
    val queries = back.select(($"vec_id" + 1000000L).as("q_id"), $"embedding".as("q_vec"))
    val terms = Seq((1L, "a", 2L, 3L), (1L, "b", 1L, 3L), (2L, "a", 1L, 1L))
      .toDF("id", "term", "tf", "dl")
    val docs = Seq((1L, "alpha beta gamma delta"), (2L, "one two three four"))
      .toDF("id", "text")
    val copy = Seq((100L, "alpha beta gamma delta")).toDF("id", "text")
    val fps = Seq((1L, 5L, 7L), (2L, 11L, 13L)).toDF("id", "ah_hi", "ah_lo")
    final case class Family(name: String, build: String => Unit,
        ids: DataFrame, delete: (String, DataFrame) => Int,
        compact: String => Int, ingest: String => Unit, probe: String => Long)
    val families = Seq(
      Family("ivf", Similarity.writeIvfIndexVersioned(emb, _, 4), emb,
        Similarity.deleteFromIvfIndex(spark, _, _),
        Similarity.compactIvfIndex(spark, _),
        Similarity.ingestIntoIvfIndex(back, _, 1L),
        Similarity.ivfTopKAgainstIndex(queries, _, 2, 3).count()),
      Family("pq", Similarity.writeIvfIndexVersioned(emb, _, 4,
        codec = Similarity.IvfCodec.Pq(8, 16)), emb,
        Similarity.deleteFromIvfIndex(spark, _, _),
        Similarity.compactIvfIndex(spark, _),
        Similarity.ingestIntoIvfIndex(back, _, 1L),
        Similarity.ivfTopKAgainstIndex(queries, _, 2, 3).count()),
      Family("sq8", Similarity.writeIvfIndexVersioned(emb, _, 4,
        codec = Similarity.IvfCodec.Sq8), emb,
        Similarity.deleteFromIvfIndex(spark, _, _),
        Similarity.compactIvfIndex(spark, _),
        Similarity.ingestIntoIvfIndex(back, _, 1L),
        Similarity.ivfTopKAgainstIndex(queries, _, 2, 3).count()),
      Family("pqr", Similarity.writeIvfIndexVersioned(emb, _, 4,
        codec = Similarity.IvfCodec.Pqr(8, 16)), emb,
        Similarity.deleteFromIvfIndex(spark, _, _),
        Similarity.compactIvfIndex(spark, _),
        Similarity.ingestIntoIvfIndex(back, _, 1L),
        Similarity.ivfTopKAgainstIndex(queries, _, 2, 3).count()),
      Family("bm25", Retrieval.writeBm25IndexVersioned(terms, _, 4), terms,
        Retrieval.deleteFromBm25Index(spark, _, _),
        Retrieval.compactBm25Index(spark, _),
        Retrieval.ingestIntoBm25Index(terms.filter($"id" === 1L), _, 1L),
        Retrieval.bm25AgainstIndex(Seq((10L, "a")).toDF("q_id", "term"), _, 5).count()),
      Family("corpus", Dedup.writeCorpusIndexVersioned(docs, _, 3, 16, 8), docs,
        Dedup.deleteFromCorpusIndex(spark, _, _),
        Dedup.compactCorpusIndex(spark, _),
        Dedup.ingestIntoCorpusIndex(docs.filter($"id" === 1L), _, 1L, 3, 16, 8),
        dir => 1L - Dedup.dedupAgainstIndex(copy, dir, 3, 16, 8).count()),
      Family("ahash", Dedup.writeAHashIndex(fps, _), fps,
        Dedup.deleteFromAHashIndex(spark, _, _),
        Dedup.compactAHashIndex(spark, _),
        Dedup.ingestIntoAHashIndex(fps.filter($"id" === 1L), _, 1L),
        Dedup.ahashAgainstIndex(Seq((100L, 5L, 7L)).toDF("id", "ah_hi", "ah_lo"), _)
          .count()))
    for (f <- families) {
      val dir = Files.createTempDirectory(s"emptied-${f.name}").toString
      try {
        f.build(dir)
        assert(f.probe(dir) > 0, f.name)
        assert(f.delete(dir, f.ids) == 1, f.name)
        assert(f.probe(dir) == 0, f.name)
        assert(f.compact(dir) == 2, f.name)
        assert(f.probe(dir) == 0, f.name)
        f.ingest(dir)
        assert(f.probe(dir) > 0, f.name)
      } finally graft.CacheScope.drain()
    }
  }

  test("z_value16 interleaves bits exactly (a even, b odd)") {
    import graft.functions.NativeKernels.zValue16
    assert(zValue16(0L, 0L) == 0L)
    assert(zValue16(5L, 3L) == 27L)          // 101 ⨯ 011 → 011011
    assert(zValue16(0xffffL, 0L) == 0x55555555L)
    assert(zValue16(0L, 0xffffL) == 0xaaaaaaaaL)
    assert(zValue16(0x10000L, 0L) == 0L)     // only low 16 bits participate
  }

  test("zOrderParquet files skip on BOTH dimensions; a-sorted layout on one") {
    val base = Files.createTempDirectory("graft_zorder").toString
    val in = s"$base/in"; val za = s"$base/z"; val sa = s"$base/s"
    import spark.implicits._
    // full 64×64 grid, shuffled on disk
    val grid = for { a <- 0 until 64; b <- 0 until 64 } yield (a.toLong, b.toLong)
    grid.toDF("a", "b").repartition(8).write.parquet(in)
    val total = Compaction.dataBytes(spark, in)
    Compaction.zOrderParquet(spark, in, za, total / 8, "a", "b")
    Compaction.compactParquet(spark, in, sa, total / 8, Seq(col("a")))

    def ranges(dir: String, c: String): Seq[(Long, Long)] =
      parquetFiles(dir).map { f =>
        val r = spark.read.parquet(f.getAbsolutePath).agg(min(c), max(c)).head()
        (r.getLong(0), r.getLong(1))
      }
    // fraction of files a point predicate must read, averaged over probes
    // (single-probe counts are sensitive to range-boundary luck)
    val probes = Seq(7L, 23L, 40L, 57L)
    def matchedFrac(dir: String, c: String): Double = {
      val rs = ranges(dir, c)
      probes.map(v => rs.count { case (lo, hi) => lo <= v && v <= hi }).sum
        .toDouble / (probes.size * rs.size)
    }
    // a-sorted layout: perfect on a, useless on b (every file spans all b)
    assert(matchedFrac(sa, "a") <= 0.30, s"a-sorted a-frac ${matchedFrac(sa, "a")}")
    assert(matchedFrac(sa, "b") == 1.0)
    // z-order: real skipping on BOTH dimensions
    assert(matchedFrac(za, "a") <= 0.70, s"z a-frac ${matchedFrac(za, "a")}")
    assert(matchedFrac(za, "b") <= 0.70, s"z b-frac ${matchedFrac(za, "b")}")
    // layout change must not change content
    assert(spark.read.parquet(za).count() == 4096 &&
      spark.read.parquet(za).distinct().count() == 4096)
  }
}
