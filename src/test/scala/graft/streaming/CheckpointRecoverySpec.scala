package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** End-to-end streaming durability: a file-source → transform → file-sink
  * query is stopped and RESTARTED from its checkpoint; the second
  * incarnation must pick up exactly where the first left off and the sink
  * must contain every input exactly once (the checkpoint's offset log
  * de-duplicates re-reads; the sink's transaction log makes output commits
  * atomic). This is the durability surface MemoryStream tests can't cover —
  * it is also the capability gap the reference never closed (Tez recovery
  * replays non-committed work at the DAG level; exactly-once sink output is
  * left to the application).
  */
class CheckpointRecoverySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("restart from checkpoint resumes offsets and keeps file output exactly-once") {
    import spark.implicits._
    val root = Files.createTempDirectory("ckpt").toString
    val in = s"$root/in"; val out = s"$root/out"; val chk = s"$root/chk"
    new java.io.File(in).mkdirs()

    def startQuery() = spark.readStream
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType))))
      .parquet(in)
      .withColumn("doubled", col("id") * 2)
      .writeStream
      .format("parquet")
      .option("path", out)
      .option("checkpointLocation", chk)
      .start()

    // incarnation 1: first batch of input, then stop (≅ crash between
    // micro-batches; committed progress lives only in the checkpoint)
    spark.range(0, 50).toDF("id").coalesce(1).write.mode("append").parquet(in)
    val q1 = startQuery()
    q1.processAllAvailable()
    q1.stop()
    val afterFirst = spark.read.parquet(out).count()
    assert(afterFirst == 50L)

    // more input lands while the query is down
    spark.range(50, 100).toDF("id").coalesce(1).write.mode("append").parquet(in)

    // incarnation 2: same checkpoint → must process ONLY the new files
    val q2 = startQuery()
    q2.processAllAvailable()
    q2.stop()

    val result = spark.read.parquet(out).select("id", "doubled")
      .as[(Long, Long)].collect().sorted.toSeq
    // exactly-once: every id exactly once (no re-emit of batch 1), transform applied
    assert(result == (0L until 100L).map(i => (i, i * 2)))
  }

  test("foreachBatch idempotent writer survives batch replay without duplicates") {
    import spark.implicits._
    val root = Files.createTempDirectory("febatch").toString
    val in = s"$root/in"; val out = s"$root/out"
    new java.io.File(in).mkdirs()
    spark.range(0, 25).toDF("id").coalesce(1).write.mode("append").parquet(in)

    def runOnce(chk: String): Unit = {
      val q = spark.readStream
        .schema(org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType))))
        .parquet(in)
        .writeStream
        .foreachBatch(EventStreams.outputSink(out)(identity))
        .option("checkpointLocation", chk)
        .start()
      q.processAllAvailable()
      q.stop()
    }
    runOnce(s"$root/chk1")
    // a FRESH checkpoint re-delivers the same input as batch 0 — the
    // crash-replay shape; the deterministic batch location must overwrite,
    // not append
    runOnce(s"$root/chk2")
    val result = spark.read.parquet(out).select("id").as[Long].collect().sorted.toSeq
    assert(result == (0L until 25L))
  }

  test("streamingMerge replay re-derives the same table version (no double-apply)") {
    import spark.implicits._
    val root = Files.createTempDirectory("smergeckpt").toString
    val in = s"$root/in"; val tbl = s"$root/tbl"
    new java.io.File(in).mkdirs()
    // batch content: key 1 upserted twice across replays must not
    // double-apply (version=batchId overwrite, prior-version read)
    Seq((1L, 1L, "v1"), (2L, 1L, "w1")).toDF("k", "seq", "payload")
      .coalesce(1).write.mode("append").parquet(in)

    def runOnce(chk: String): Unit = {
      val q = spark.readStream
        .schema(org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("seq", org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("payload", org.apache.spark.sql.types.StringType))))
        .parquet(in)
        .writeStream
        .foreachBatch(EventStreams.streamingMerge(tbl, "k", "seq"))
        .option("checkpointLocation", chk)
        .start()
      q.processAllAvailable()
      q.stop()
    }
    runOnce(s"$root/chk1")
    val first = EventStreams.mergedTable(spark, tbl)
      .as[(Long, Long, String)].collect().toSet
    // fresh checkpoint replays the same files as batch 0 — the merge must
    // re-derive version 0 from versions < 0 (none), not stack on top
    runOnce(s"$root/chk2")
    val second = EventStreams.mergedTable(spark, tbl)
      .as[(Long, Long, String)].collect().toSet
    assert(first == second && first == Set((1L, 1L, "v1"), (2L, 1L, "w1")))
  }

  test("streamingMerge refuses a table bound to a different checkpoint lineage") {
    // versions key on batchId: a fresh checkpoint resets batchId to 0, so
    // against a table already at version=5 the merge would silently ignore
    // all existing versions while readers keep seeing the stale max —
    // fail fast instead of forking the version history
    import spark.implicits._
    val root = Files.createTempDirectory("smergelineage").toString
    val tbl = s"$root/tbl"
    Seq((1L, 1L, "v1")).toDF("k", "seq", "payload")
      .write.parquet(s"$tbl/version=5")
    val fn = EventStreams.streamingMerge(tbl, "k", "seq")
    val err = intercept[IllegalArgumentException] {
      fn(Seq((2L, 1L, "w1")).toDF("k", "seq", "payload"), 0L)
    }
    assert(err.getMessage.contains("checkpoint lineage"))
    // same-checkpoint replay of the max version itself is legitimate: the
    // re-delivered batch overwrites version=5 with identical content
    fn(Seq((1L, 1L, "v1")).toDF("k", "seq", "payload"), 5L)
    assert(EventStreams.mergedTable(spark, tbl)
      .as[(Long, Long, String)].collect().toSet == Set((1L, 1L, "v1")))
  }

  test("restart re-running an already-committed batch does not duplicate output") {
    import spark.implicits._
    val root = Files.createTempDirectory("ckpt2").toString
    val in = s"$root/in"; val out = s"$root/out"; val chk = s"$root/chk"
    new java.io.File(in).mkdirs()

    spark.range(0, 10).toDF("id").coalesce(1).write.mode("append").parquet(in)
    def run(): Unit = {
      val q = spark.readStream
        .schema(org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType))))
        .parquet(in)
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", chk)
        .start()
      q.processAllAvailable()
      q.stop()
    }
    run()
    run() // no new input: the restarted query must emit nothing new
    assert(spark.read.parquet(out).count() == 10L)
  }
}
