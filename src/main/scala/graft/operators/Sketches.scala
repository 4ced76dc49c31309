package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Linear frequency sketches. CountMin (Cormode & Muthukrishnan 2005) —
  * the mergeable counter summary streaming/telemetry pipelines keep when
  * the exact per-key aggregate is too wide: d hash rows × w buckets of
  * BIGINT counts; a key's estimate is the MIN of its d bucket counters,
  * always ≥ the true count and ≤ true + 2n/w per row with probability
  * 1/2 (so the d-row min overcounts by > 2n/w with probability ≤ 2^−d).
  *
  * Unlike Misra-Gries (`graft.functions.approx_top_items`), whose
  * estimates depend on merge order and can only be gate-checked through
  * its GUARANTEE, CountMin is a pure LINEAR aggregation over the
  * engine-neutral [[Dedup.SharedHash]] family — every counter is an
  * order-free integer sum, so an oracle replays the ENTIRE sketch
  * bit-for-bit and the estimates sit directly on a hash-compare gate.
  *
  * Reference analogue: none — Tez ships no sketch operators; additive
  * analytics surface (the q106/q121 heavy-hitter family's third member).
  */
object Sketches {

  /** Max sketch depth — [[Dedup.hashA]]/[[Dedup.hashB]] provide this many
    * independent rows (the MinHash family's coefficient pool).
    */
  val MaxDepth = 16

  private def bucketOf(h: Column, row: Column, width: Int): Column = {
    val a = array((0 until MaxDepth).map(r => lit(Dedup.hashA(r))): _*)
    val b = array((0 until MaxDepth).map(r => lit(Dedup.hashB(r))): _*)
    val i = (row + 1).cast("int")
    pmod(
      pmod(element_at(a, i) * h + element_at(b, i), lit(Dedup.P)),
      lit(width.toLong))
  }

  /** Build a d×w CountMin sketch over a key stream: one row per
    * populated (row, bucket) cell with its BIGINT count.
    *
    * 100 TB posture: ONE explode (d rows per input row) into a
    * partial-aggregated integer shuffle — map-side combine caps each
    * partition's output at d·w cells, so the exchange volume is
    * O(d·w · partitions) regardless of input size; the final sketch is
    * ≤ d·w rows and broadcasts wherever it is probed.
    */
  def countMin(df: DataFrame, key: Column, depth: Int,
      width: Int): DataFrame = {
    require(depth >= 1 && depth <= MaxDepth && width >= 2)
    df.select(Dedup.SharedHash.hash28(key.cast("string")).as("__h"))
      .select(col("__h"),
        explode(expr(s"sequence(0L, ${depth - 1}L)")).as("row"))
      .select(col("row"), bucketOf(col("__h"), col("row"), width).as("bucket"))
      .groupBy(col("row"), col("bucket"))
      .agg(count(lit(1)).as("c"))
  }

  // ===== stored sketch lifecycle ==========================================
  // CountMin is LINEAR: the sketch of a union is the cell-wise SUM of the
  // parts' sketches. That makes the stored form trivially incremental —
  // each producer batch writes ITS OWN sketch as one batch of the
  // [[Compaction]] store's `cells` view, and a probe sums cells across
  // batches before taking the per-key min. A store with any batch layout
  // estimates EXACTLY what a one-shot sketch of the union would — the
  // property the gate row pins.

  /** The sketch store's one view; a compacted sketch is ≤ d·w rows, so
    * one file is the whole point.
    */
  private val Cells = Compaction.View("cells", rewriteLayout = _.coalesce(1))

  /** Build a stored CountMin sketch at `dir`: the `cells` view's batch 0 +
    * one meta row (depth, width) probes must replay with.
    */
  def writeCountMin(df: DataFrame, key: Column, depth: Int, width: Int,
      dir: String): Unit = {
    val spark = df.sparkSession
    import spark.implicits._
    Seq((depth, width)).toDF("depth", "width")
      .write.mode("overwrite").parquet(s"$dir/meta")
    Compaction.build(spark, dir, Cells -> countMin(df, key, depth, width))
  }

  /** Replay-safe incremental ingestion ([[Compaction.ingest]]) of the
    * batch's own sketch — linearity makes the summed store identical to a
    * from-scratch sketch of the union. Batches must be whole-unit (a row
    * lands in exactly one batch ever), the usual producer contract.
    */
  def ingestIntoCountMin(batch: DataFrame, key: Column, dir: String,
      batchId: Long): Unit = {
    val spark = batch.sparkSession
    val m = spark.read.parquet(s"$dir/meta").head()
    Compaction.ingest(spark, dir, batchId,
      Cells -> countMin(batch, key, m.getAs[Int]("depth"), m.getAs[Int]("width")))
  }

  /** Point-query a stored sketch: cells SUM across batch partitions
    * (linearity), then the per-key min — identical estimates to a
    * one-shot [[countMin]] over everything ever ingested. An
    * epoch-resolved read ([[Compaction.snapshot]]), so a concurrent
    * [[compactCountMin]] is invisible.
    */
  def countMinEstimateAgainstStore(dir: String, keys: DataFrame,
      key: Column): DataFrame = {
    val spark = keys.sparkSession
    val m = spark.read.parquet(s"$dir/meta").head()
    val cells = Compaction.snapshot(spark, dir)(Cells.name)
      .groupBy(col("row"), col("bucket"))
      .agg(sum(col("c")).as("c"))
    countMinEstimate(cells, keys, key,
      m.getAs[Int]("depth"), m.getAs[Int]("width"))
  }

  /** Fold every batch's cells into ONE summed batch of the next epoch
    * ([[Compaction.rewrite]]) — the maintenance op of the sketch store:
    * probes SUM cells across every batch directory, so an ever-ingesting
    * store's probe cost grows with batch count forever without this.
    * CountMin LINEARITY makes the fold trivially exact: the compacted
    * store's summed cells are bit-identical to the uncompacted store's
    * (the same integer sums, associativity) — probe-identical by
    * construction, spec-pinned.
    */
  def compactCountMin(spark: org.apache.spark.sql.SparkSession,
      dir: String): Int =
    Compaction.rewrite(spark, dir, Cells)(cur => Seq(
      cur(Cells.name).groupBy(col("row"), col("bucket"))
        .agg(sum(col("c")).as("c"))))

  /** Auto-compaction trigger on the sketch store
    * ([[Compaction.compactIfNeeded]]).
    */
  def compactCountMinIfNeeded(spark: org.apache.spark.sql.SparkSession,
      dir: String, maxBatches: Int): Option[Int] =
    Compaction.compactIfNeeded(spark, dir, Cells.name, maxBatches)(
      compactCountMin(spark, dir))

  /** Point-query a [[countMin]] sketch for a set of keys: estimate =
    * min over the d rows of the key's bucket counters (absent cells are
    * zero — a key never inserted estimates 0, not an error). The sketch
    * side is ≤ d·w rows and BROADCASTS; the probe is one join + one
    * bounded min-aggregate.
    *
    * @return (key, est) one row per distinct input key
    */
  def countMinEstimate(sketch: DataFrame, keys: DataFrame, key: Column,
      depth: Int, width: Int): DataFrame = {
    require(depth >= 1 && depth <= MaxDepth && width >= 2)
    keys.select(key.cast("string").as("key")).distinct()
      .withColumn("__h", Dedup.SharedHash.hash28(col("key")))
      .select(col("key"),
        explode(expr(s"sequence(0L, ${depth - 1}L)")).as("row"),
        col("__h"))
      .withColumn("bucket", bucketOf(col("__h"), col("row"), width))
      .join(broadcast(sketch), Seq("row", "bucket"), "left")
      .groupBy(col("key"))
      .agg(min(coalesce(col("c"), lit(0L))).as("est"))
  }
}
