package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.operators.{Compaction, Retrieval, Similarity}
import graft.streaming.EventStreams

/** Writes beside reads on two stored indexes. One pass builds an IVF index
  * and a BM25 index from the initial corpus slice, streams the rest in
  * through `readStream` + foreachBatch ingest twins (one file per
  * micro-batch), compacts both, then serves small probe batches from them.
  *
  * The inputs come split (perfbench/datagen.py): the seed fixes which ids
  * arrive late, how they split into batches, and the probe sample. Checks
  * follow the stored-index contract: probes of the
  * built+ingested+compacted IVF index equal probes of a from-scratch build
  * over the whole corpus (the initial slice holds every centroid id, so
  * the frozen quantizer is the full one), and BM25 probes equal
  * `Retrieval.bm25TopK` over the whole corpus.
  */
final class IndexStoreWorkload(spark: SparkSession, a: Main.Args, tr: Trace)
    extends Workload(spark, a, tr) {
  import IndexStoreWorkload._

  private val in = s"${a.data}/index_store"
  private val work = Paths.get(a.out, "store")
  private def path(p: String): String = work.resolve(p).toString

  private val vecs = spark.read.parquet(s"${a.data}/embeddings.parquet")
    .select(col("vec_id"), col("embedding"))
  private val tfAll = spark.read.parquet(s"$in/tf_all.parquet")
  private val nVecs = vecs.count()
  private val nDocs = tfAll.select("id").distinct().count()
  private val batches = Files.list(Paths.get(s"$in/ivf_stream")).count()
  private val vecSchema = vecs.schema
  private val tfSchema = tfAll.schema

  private def probeBatches(file: String, cols: String*): Seq[DataFrame] = {
    val df = spark.read.parquet(s"$in/$file")
    val rows = df.collect().groupBy(_.getInt(0)).toSeq.sortBy(_._1)
    val schema = df.select(cols.map(col): _*).schema
    rows.map { case (_, rs) =>
      spark.createDataFrame(rs.map(r => Row.fromSeq(r.toSeq.tail)).toList.asJava, schema)
        .localCheckpoint()
    }
  }
  private val ivfProbes = probeBatches("probes_ivf.parquet", "q_id", "q_vec")
  private val bm25Probes = probeBatches("probes_bm25.parquet", "q_id", "term")

  private val progress = scala.collection.mutable.Map[String, Seq[Map[String, Any]]]()
  private val extrasByOp = scala.collection.mutable.Map[Int, Map[String, Any]]()
  private var lastProbe: DataFrame = _

  /** Streams `<name>_stream/` into the index one file per micro-batch and
    * returns the number of micro-batches that carried rows.
    */
  private def ingest(name: String, sink: (org.apache.spark.sql.Dataset[Row], Long) => Unit,
      schema: org.apache.spark.sql.types.StructType, ckpt: String): Integer = {
    val q = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
      .parquet(s"$in/${name}_stream")
      .writeStream.foreachBatch(sink).option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    try q.awaitTermination() finally q.stop()
    val ps = q.recentProgress.filter(_.numInputRows > 0).toSeq
    val batchTimes = ps.map { p =>
      Map("batch_s" -> p.batchDuration / 1e3, "rows" -> p.numInputRows,
        "add_batch_s" -> Option(p.durationMs.get("addBatch")).map(_.longValue / 1e3).getOrElse(0.0))
    }
    progress.synchronized { progress(name) = progress.getOrElse(name, Nil) ++ batchTimes }
    ps.size
  }

  private def done(x: AnyRef): String = "done"
  private def ingested(x: AnyRef): String = s"batches=$x"
  private def current(dir: AnyRef, name: String): DataFrame = {
    val d = dir.asInstanceOf[String]
    spark.read.parquet(Compaction.epochPath(d, name, Compaction.currentEpoch(spark, d)))
  }
  private def ivfRows(dir: AnyRef): String = s"rows=${current(dir, "lists").count()}"
  private def bm25Docs(dir: AnyRef): String =
    s"docs=${current(dir, "stats").agg(sum(col("n_docs"))).head().getLong(0)}"
  private def probeDigest(x: AnyRef): String = Loop.digestRows(x.asInstanceOf[Array[Row]])

  def pass(n: Int): Seq[Op] = {
    val ivf = path(s"pass$n/ivf"); val bm = path(s"pass$n/bm25")
    val writes = Seq(
      Op("build", "build_ivf", () => { Similarity.writeIvfIndexVersioned(
        spark.read.parquet(s"$in/ivf_init.parquet"), ivf, a.cells); ivf }, done),
      Op("build", "build_bm25", () => { Retrieval.writeBm25IndexVersioned(
        spark.read.parquet(s"$in/bm25_init.parquet"), bm, Buckets); bm }, done),
      Op("ingest", "ingest_ivf", () => ingest("ivf", EventStreams.annIngest(ivf),
        vecSchema, path(s"pass$n/ckpt_ivf")), ingested),
      Op("ingest", "ingest_bm25", () => ingest("bm25", EventStreams.bm25Ingest(bm),
        tfSchema, path(s"pass$n/ckpt_bm25")), ingested),
      Op("compact", "compact_ivf", () => { Similarity.compactIvfIndex(spark, ivf); ivf }, ivfRows),
      Op("compact", "compact_bm25", () => { Retrieval.compactBm25Index(spark, bm); bm }, bm25Docs))
    val probes = ivfProbes.zipWithIndex.map { case (q, i) =>
      Op("probe", s"probe_ivf_$i", () => {
        val df = Similarity.ivfTopKAgainstIndex(q, ivf, NProbe, TopK)
        lastProbe = df
        df.collect()
      }, probeDigest)
    } ++ bm25Probes.zipWithIndex.map { case (q, i) =>
      Op("probe", s"probe_bm25_$i", () => {
        val df = Retrieval.bm25AgainstIndex(q, bm, TopK)
        lastProbe = df
        df.collect()
      }, probeDigest)
    }
    writes ++ seeded(probes, n)
  }

  override def around(pass: Int, i: Int, op: Op)(f: () => Unit): Unit = {
    tr.beginOp(opIndex(pass, i))
    val w0 = bytesWritten()
    tr.span(op.kind)(f())
    val ex = scala.collection.mutable.Map[String, Any]("bytes_written" -> (bytesWritten() - w0))
    val dir = path(s"pass$pass/${op.name.split('_')(1)}")
    if (op.kind == "probe" && lastProbe != null) {
      ex("files_read") = Main.filesScanned(lastProbe)
      ex("index_files") = dataFiles(Paths.get(dir)).size
      lastProbe = null
    }
    if (op.kind == "ingest" || op.kind == "compact") {
      val files = dataFiles(Paths.get(dir))
      ex("index_files") = files.size
      ex("index_bytes") = files.map(Files.size).sum
      val cellDirs = files.map(_.getParent).filter { d =>
        val n = d.getFileName.toString; n.startsWith("cell=") || n.startsWith("bucket=")
      }
      ex("files_per_dir") = cellDirs.size.toDouble / math.max(1, cellDirs.distinct.size)
    }
    extrasByOp(opIndex(pass, i)) = ex.toMap
    graft.CacheScope.drain()
  }

  private def bytesWritten(): Long =
    org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file").map(_.getBytesWritten).sum

  private def dataFiles(dir: Path): Seq[Path] =
    if (!Files.isDirectory(dir)) Nil
    else Files.walk(dir).iterator().asScala
      .filter(p => p.getFileName.toString.endsWith(".parquet")).toList

  private var references: Map[String, String] = Map.empty

  /** References from the whole corpus: a from-scratch IVF build and
    * `bm25TopK`, each probed with every probe batch.
    */
  override def prepare(): Unit = {
    val ref = path("reference_ivf")
    Similarity.writeIvfIndexVersioned(vecs, ref, a.cells)
    val ivfRefs = ivfProbes.zipWithIndex.map { case (q, i) =>
      s"probe_ivf_$i" ->
        Loop.digestRows(Similarity.ivfTopKAgainstIndex(q, ref, NProbe, TopK).collect())
    }
    val bmRefs = bm25Probes.zipWithIndex.map { case (q, i) =>
      s"probe_bm25_$i" -> Loop.digestRows(
        graft.CacheScope.scoped(Retrieval.bm25TopK(tfAll, q, TopK).collect()))
    }
    references = (ivfRefs ++ bmRefs).toMap ++ Map(
      "build_ivf" -> "done", "build_bm25" -> "done",
      "ingest_ivf" -> s"batches=$batches", "ingest_bm25" -> s"batches=$batches",
      "compact_ivf" -> s"rows=$nVecs", "compact_bm25" -> s"docs=$nDocs")
  }

  def expected(r: OpResult): Option[String] = references.get(r.name)

  override def opExtras(index: Int): Map[String, Any] = extrasByOp.getOrElse(index, Map.empty)

  /** The IVF chain and the BM25 chain are independent: the warm-up runs
    * them on two threads.
    */
  override def warmUp(): Unit = {
    val (ivf, bm) = pass(-1).partition(_.name.contains("ivf"))
    val t = new Thread(() => Loop.run(-1, bm, () => 0.0))
    t.start()
    Loop.run(-1, ivf, () => 0.0)
    t.join()
  }

  override def extras(): Map[String, Any] = Map(
    "streaming" -> progress.toMap,
    "input_bytes" -> (Files.size(Paths.get(s"${a.data}/embeddings.parquet")) +
      Files.size(Paths.get(s"${a.data}/documents.parquet"))))
}

object IndexStoreWorkload {
  val NProbe = 4
  val TopK = 10
  val Buckets = 32
}
