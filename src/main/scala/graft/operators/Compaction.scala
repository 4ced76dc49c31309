package graft.operators

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

/** Small-files compaction — the table-maintenance operator every long-lived
  * 100 TB dataset needs: streaming sinks, per-batch ingests and
  * over-parallel writers leave thousands of KB-sized parquet files whose
  * per-file open/footer cost dominates scan time and whose listing cost
  * dominates planning.
  *
  * The reference's closest shape is the split-grouping its inputs do at
  * READ time (grouping many small splits into one task,
  * tez-mapreduce/src/main/java/org/apache/tez/mapreduce/grouper/TezSplitGrouper.java:206);
  * compaction is the write-side fix that makes every later read cheap
  * instead of re-grouping per query.
  *
  * It is also the versioned store every stored index family commits
  * through: IVF (raw, SQ8, PQ, residual PQ), BM25, the dedup corpus
  * index, aHash fingerprints, CC labels and CountMin sketches. A family
  * declares its [[View]]s and the per-view frames; the layout and the
  * commit steps live here, once.
  *
  * Layout: a store at `dir` holds its views at `<view>/batch=<id>/`
  * (epoch 0) or `<view>_e<N>/batch=<id>/` (epoch N), plus an `EPOCH`
  * pointer file naming the live epoch; no pointer means epoch 0. Frozen
  * artifacts (centroids, codebooks, meta, params) sit beside the views,
  * outside the epoch scheme.
  *
  * Reads ([[snapshot]]) resolve the pointer once and read every view of
  * that epoch, so a reader sees one complete epoch, never a mix.
  *
  * Build and ingest ([[build]], [[ingest]]) overwrite one `batch=<id>`
  * directory per view under the live epoch; the build is batch 0,
  * ingests are batches ≥ 1. Overwrite, not append, is what makes an
  * ingest replay-safe: a crash-replayed batch rewrites the same
  * directories and the store converges to identical contents.
  *
  * Rewrite ([[rewrite]], behind both compaction and deletion) commits in
  * this order: read every view of the live epoch `e`; write each view's
  * new frame as ONE `batch=0` under epoch `e + 1`; atomically swap the
  * pointer to `e + 1` ([[advanceEpoch]]); delete epoch `e`'s
  * directories. This is the Iceberg-style snapshot-pointer commit: a
  * crash before the swap leaves epoch `e` live and untouched. Readers in
  * flight keep their resolved epoch until the delete (a production
  * deployment defers it by a read TTL).
  *
  * Replay horizon: a rewrite folds batch ids away, so it must run beyond
  * the producer's replay horizon, i.e. after its checkpoint commits. A
  * batch replayed after being folded would re-land beside its own rows,
  * and would resurrect rows a deletion erased. The streaming sinks here
  * commit their checkpoint with the batch, so every batch older than the
  * last commit is sealed. Consult [[compactIfNeeded]] from a maintenance
  * tick after that commit, never inside the uncommitted batch.
  *
  * Refresh: every commit ends with `refreshByPath(dir)`. The writes are
  * external to any DataFrame this session may already have listed, and
  * Spark's shared file-status cache would otherwise serve the pre-write
  * listing to a later read of the same path.
  *
  * Empty views: a partitioned write of zero rows emits no file, so a
  * later read would fail with "unable to infer schema" (a deletion of
  * every id, or the compaction after it). The write is checked AFTER it
  * runs by listing its output, with no Spark job; a file-less result
  * lands one schema-carrying empty file under the partition-shaped leaf
  * `<partCol>=0/`. The leaf keeps the directory depth and the int-typed
  * partition column of a real write, so a later ingest's
  * `batch=N/<partCol>=…/` beside it still passes partition discovery.
  */
object Compaction {

  // ===== versioned store ==================================================

  /** One view of a versioned store and the family's physical write for it.
    *
    * @param partCol       partition column of the view's directories
    * @param ingestLayout  applied to a build or ingest batch before its write
    * @param rewriteLayout applied to a compaction or deletion frame before
    *                      its write
    */
  final case class View(name: String, partCol: Option[String] = None,
      ingestLayout: DataFrame => DataFrame = identity,
      rewriteLayout: DataFrame => DataFrame = identity)

  object View {
    /** A view partitioned by `partCol`. Batches rebalance on it before the
      * write: a narrow partitioned write opens one file per (upstream
      * partition × partition value), which every probe pays as listing and
      * open cost, and the AQE rebalance packs each directory to
      * advisory-sized files. Rewrites repartition on it: one task, so one
      * file per partition directory.
      */
    def partitioned(name: String, partCol: String): View =
      View(name, Some(partCol), _.hint("rebalance", col(partCol)),
        _.repartition(col(partCol)))
  }

  /** Current epoch of a versioned store: the `EPOCH` pointer's value, 0
    * when absent.
    */
  def currentEpoch(spark: SparkSession, dir: String): Int = {
    val p = new Path(dir, "EPOCH")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) 0
    else {
      val in = fs.open(p)
      try new String(in.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8).trim.toInt
      finally in.close()
    }
  }

  /** Epoch-scoped path of a view: epoch 0 is the unmarked `<dir>/<name>`. */
  def epochPath(dir: String, name: String, epoch: Int): String =
    if (epoch == 0) s"$dir/$name" else s"$dir/${name}_e$epoch"

  /** Atomically advance the epoch pointer: write `EPOCH.tmp`, rename over
    * `EPOCH` (atomic on posix and HDFS; an object-store deployment swaps a
    * metastore pointer instead).
    */
  def advanceEpoch(spark: SparkSession, dir: String, epoch: Int): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val tmp = new Path(dir, "EPOCH.tmp")
    val dst = new Path(dir, "EPOCH")
    val fs = tmp.getFileSystem(conf)
    val out = fs.create(tmp, true)
    try out.write(epoch.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    // FileContext rename supports an atomic overwrite, unlike FileSystem
    org.apache.hadoop.fs.FileContext.getFileContext(tmp.toUri, conf)
      .rename(tmp, dst, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }

  /** Epoch-resolved reader of a store's views: the pointer is read once,
    * here, and every view comes from that epoch. Each view is read at most
    * once per reader.
    */
  def snapshot(spark: SparkSession, dir: String): String => DataFrame =
    reader(spark, dir, currentEpoch(spark, dir))

  private def reader(spark: SparkSession, dir: String,
      epoch: Int): String => DataFrame = {
    val seen = scala.collection.mutable.Map.empty[String, DataFrame]
    name => seen.getOrElseUpdate(name,
      spark.read.parquet(epochPath(dir, name, epoch)))
  }

  /** Whether the live epoch holds view `name` (for a view added to a
    * family after some of its stores were written).
    */
  def hasView(spark: SparkSession, dir: String, name: String): Boolean = {
    val p = new Path(epochPath(dir, name, currentEpoch(spark, dir)))
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Ids of the `batch=<id>` directories of view `name` in the live epoch. */
  private[graft] def batchIds(spark: SparkSession, dir: String,
      name: String): Seq[Long] = {
    val p = new Path(epochPath(dir, name, currentEpoch(spark, dir)))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("batch="))
      .map(_.getPath.getName.stripPrefix("batch=").toLong)
  }

  /** Number of sealed `batch=<id>` directories of view `name` in the live
    * epoch: the signal [[compactIfNeeded]] thresholds on. Batch
    * directories accrete one per ingest until file listing dominates probe
    * cost (about 2× probe file-open overhead with just two batches at
    * sf0.1).
    */
  def batchCount(spark: SparkSession, dir: String, name: String): Int =
    batchIds(spark, dir, name).size

  /** Write batch `batchId` of every given view under the live epoch, then
    * refresh. [[build]] and [[ingest]] are the entry points; a stream whose
    * first micro-batch is its build writes through here directly.
    */
  private[graft] def writeBatch(spark: SparkSession, dir: String,
      batchId: Long, views: (View, DataFrame)*): Unit = {
    val e = currentEpoch(spark, dir)
    views.foreach { case (v, df) =>
      write(spark, v, v.ingestLayout(df),
        s"${epochPath(dir, v.name, e)}/batch=$batchId")
    }
    spark.catalog.refreshByPath(dir)
  }

  /** Build a store: batch 0 of every view. */
  def build(spark: SparkSession, dir: String, views: (View, DataFrame)*): Unit =
    writeBatch(spark, dir, 0L, views: _*)

  /** Replay-safe ingest: batch `batchId` of every given view overwrites its
    * own directory under the live epoch.
    */
  def ingest(spark: SparkSession, dir: String, batchId: Long,
      views: (View, DataFrame)*): Unit = {
    require(batchId >= 1, s"batch 0 is the build (got $batchId)")
    writeBatch(spark, dir, batchId, views: _*)
  }

  /** The one rewrite behind compaction and deletion: `next` receives the
    * live epoch's reader and returns each view's new frame, in `views`
    * order; the `batch` column is folded away and the frames commit as the
    * next epoch (the commit order in the object doc).
    *
    * @return the new epoch number
    */
  def rewrite(spark: SparkSession, dir: String, views: View*)(
      next: (String => DataFrame) => Seq[DataFrame]): Int = {
    val e = currentEpoch(spark, dir)
    val frames = next(reader(spark, dir, e))
    require(frames.size == views.size,
      s"${frames.size} frames for ${views.size} views")
    views.zip(frames).foreach { case (v, df) =>
      write(spark, v, v.rewriteLayout(df.drop("batch")),
        s"${epochPath(dir, v.name, e + 1)}/batch=0")
    }
    advanceEpoch(spark, dir, e + 1)
    views.foreach(v => deleteDir(spark, epochPath(dir, v.name, e)))
    spark.catalog.refreshByPath(dir)
    e + 1
  }

  /** Compaction: every batch of every view folds into one batch of the
    * next epoch with its rows unchanged, so probes are identical before
    * and after; only the file layout changes.
    */
  def compact(spark: SparkSession, dir: String, views: View*): Int =
    rewrite(spark, dir, views: _*)(cur => views.map(v => cur(v.name)))

  /** Deletion: the compaction rewrite with every view anti-joined to `ids`
    * on `key`. An anti-join rewrite, not a tombstone mask: the erasure
    * obligation is on the stored bytes. Absent ids are ignored, so a
    * re-run is a no-op rewrite. `ids` broadcasts when request-sized and
    * hash-joins when not.
    */
  def delete(spark: SparkSession, dir: String, key: String, ids: DataFrame,
      views: View*): Int = {
    val del = ids.select(col(key))
    rewrite(spark, dir, views: _*)(cur =>
      views.map(v => cur(v.name).join(del, Seq(key), "left_anti")))
  }

  /** Run `compact` only when view `name` holds more than `maxBatches`
    * sealed batch directories.
    *
    * @return the new epoch, or None when under threshold (no-op)
    */
  def compactIfNeeded(spark: SparkSession, dir: String, name: String,
      maxBatches: Int)(compact: => Int): Option[Int] =
    if (batchCount(spark, dir, name) > maxBatches) Some(compact) else None

  private def write(spark: SparkSession, v: View, df: DataFrame,
      path: String): Unit = v.partCol match {
    case None => df.write.mode("overwrite").parquet(path)
    case Some(p) =>
      df.write.mode("overwrite").partitionBy(p).parquet(path)
      // the empty-view leaf (see the object doc); an empty RDD writes
      // one schema-carrying file without re-running df's lineage
      if (dataFileCount(spark, path) == 0)
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
            StructType(df.schema.filterNot(_.name == p)))
          .write.mode("overwrite").parquet(s"$path/$p=0")
  }

  /** Delete a directory tree. */
  def deleteDir(spark: SparkSession, dir: String): Unit = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(p, true)
  }

  /** Data files under `dir`, recursively, ignoring hidden `_`/`.` entries
    * and the EPOCH pointer; none when `dir` is absent. Walks plain
    * `listStatus` rather than `listFiles`: a located listing of the local
    * file system forks a shell per file to read its permissions (400 ms
    * against 5–13 ms for 65 files), which made every store write and
    * probe-side fingerprint measurably slower.
    */
  private[operators] def dataFiles(spark: SparkSession,
      dir: String): Vector[FileStatus] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def walk(d: Path): Iterator[FileStatus] =
      fs.listStatus(d).iterator.flatMap { s =>
        val nm = s.getPath.getName
        if (nm.startsWith("_") || nm.startsWith(".") || nm.startsWith("EPOCH"))
          Iterator.empty
        else if (s.isDirectory) walk(s.getPath)
        else Iterator.single(s)
      }
    if (fs.exists(p)) walk(p).toVector else Vector.empty
  }

  /** Number of data files under `dir`: the probe-listing cost compaction
    * exists to cut.
    */
  def dataFileCount(spark: SparkSession, dir: String): Int =
    dataFiles(spark, dir).size

  /** Total bytes of data files under `dir`. */
  def dataBytes(spark: SparkSession, dir: String): Long =
    dataFiles(spark, dir).map(_.getLen).sum

  /** Rewrite the parquet dataset at `inDir` into ⌈bytes/targetBytes⌉
    * similarly-sized files at `outDir`; returns the file count chosen.
    *
    * With `sortCols` empty the rewrite is a round-robin `repartition` —
    * perfectly balanced output files, one full shuffle. With `sortCols`
    * given, rows are range-partitioned and sorted on those columns, so the
    * rewritten files carry tight non-overlapping min/max footer stats and
    * later range predicates prune whole files (data-skipping layout — the
    * reason to compact on a filter column rather than round-robin).
    *
    * Sizing note: file count is computed from the INPUT's on-disk bytes, so
    * the target is approximate when recompression changes density — the
    * right behavior for a maintenance job (stable file count, no output
    * double-pass).
    */
  def compactParquet(spark: SparkSession, inDir: String, outDir: String,
      targetBytes: Long, sortCols: Seq[Column] = Nil): Int = {
    require(targetBytes > 0)
    val n = math.max(1L, (dataBytes(spark, inDir) + targetBytes - 1) / targetBytes).toInt
    val df = spark.read.parquet(inDir)
    val out =
      if (sortCols.isEmpty) df.repartition(n)
      else df.repartitionByRange(n, sortCols: _*).sortWithinPartitions(sortCols: _*)
    out.write.mode("overwrite").parquet(outDir)
    n
  }

  /** Z-order layout rewrite: range-partition + sort the dataset on the
    * Morton interleave of two long filter columns, so every output file's
    * footer carries a tight min/max range on BOTH columns and a predicate
    * on EITHER prunes whole files. A single-column sorted layout
    * ([[compactParquet]] with `sortCols`) skips perfectly on its sort
    * column and not at all on any other; Z-order trades a little skipping
    * on each for real skipping on both — the standard lakehouse layout for
    * two-dimensional access patterns (e.g. corpus queries by (domain hash,
    * crawl date)).
    *
    * The z key is computed by the codegen'd native `NativeKernels.zValue16`
    * over the columns' low 16 bits (callers with wider domains bucket
    * first, e.g. `pmod(hash(col), 65536)`); it orders the write only and
    * is not persisted.
    */
  def zOrderParquet(spark: SparkSession, inDir: String, outDir: String,
      targetBytes: Long, colA: String, colB: String): Int = {
    require(targetBytes > 0)
    val n = math.max(1L, (dataBytes(spark, inDir) + targetBytes - 1) / targetBytes).toInt
    val df = spark.read.parquet(inDir)
    val z = graft.functions.z_value16(
      org.apache.spark.sql.functions.col(colA).cast("long"),
      org.apache.spark.sql.functions.col(colB).cast("long"))
    df.withColumn("__z", z)
      .repartitionByRange(n, org.apache.spark.sql.functions.col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode("overwrite").parquet(outDir)
    n
  }
}
