package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Encoder, Encoders, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.operators.Compaction
import EventStreams.{Event, Session}

class EventStreamsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def ts(min: Int): Timestamp = new Timestamp(min * 60000L)

  test("windowedCounts: watermark closes windows, late rows beyond it are dropped") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String, Double)]
    val out = EventStreams.windowedCounts(
      input.toDF().toDF("ts", "event_type", "value"), "10 minutes", "5 minutes")
    val q = out.writeStream.format("memory").queryName("wc").outputMode("append").start()
    try {
      input.addData((ts(1), "a", 1.0), (ts(2), "a", 2.0), (ts(3), "b", 1.0))
      q.processAllAvailable()
      // watermark = 3min - 5min < window[0,10) end -> nothing emitted yet
      assert(spark.table("wc").count() == 0)
      input.addData((ts(16), "a", 1.0)) // watermark -> 11min, closes [0,10)
      q.processAllAvailable()
      input.addData((ts(4), "a", 99.0)) // late beyond watermark: dropped
      q.processAllAvailable()
      val rows = spark.table("wc").orderBy("ws", "event_type")
        .as[(Timestamp, String, Long, Double)].collect().toSeq
      assert(rows == Seq((ts(0), "a", 2L, 3.0), (ts(0), "b", 1L, 1.0)))
    } finally q.stop()
  }

  test("sessionize: gap splits sessions, timeout emits the open session") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val sessions = EventStreams.sessionize(input.toDS(), gapMs = 10 * 60000L, delay = "0 seconds")
    val q = sessions.writeStream.format("memory").queryName("sess").outputMode("append").start()
    try {
      // base at minute 60: rows at the initial watermark (epoch 0) would be
      // dropped as late before reaching the state function
      input.addData(
        Event(1, ts(60), 7L, "x", 1.0), Event(2, ts(65), 7L, "x", 1.0),
        Event(3, ts(90), 7L, "x", 1.0)) // gap 25min > 10min -> closes first
      q.processAllAvailable()
      input.addData(Event(4, ts(120), 8L, "x", 1.0)) // advances watermark past 100min
      q.processAllAvailable()
      val got = spark.table("sess").as[Session].collect().sortBy(_.session_start.getTime)
      // first session [60, 65+10) with 2 events, closed by the in-batch gap;
      // second session [90, 100) closed by event-time timeout
      assert(got.length >= 1)
      assert(got.head == Session(7L, ts(60), ts(75), 2))
      if (got.length > 1) assert(got(1) == Session(7L, ts(90), ts(100), 1))
    } finally q.stop()
  }

  test("sessionizeNative (session_window agg) matches the batch q38 form") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rows = Seq(
      (1L, ts(60), 7L), (2L, ts(65), 7L), (3L, ts(90), 7L), // 7: two sessions
      (4L, ts(62), 8L), (5L, ts(63), 8L)) // 8: one session
    val input = MemoryStream[(Long, Timestamp, Long)]
    val out = EventStreams.sessionizeNative(
      input.toDF().toDF("event_id", "ts", "user_id"),
      gap = "10 minutes", delay = "0 seconds")
    val q = out.writeStream.format("memory").queryName("sessnat")
      .outputMode("append").start()
    try {
      input.addData(rows: _*)
      q.processAllAvailable()
      input.addData((9L, ts(200), 9L)) // watermark past every session end
      q.processAllAvailable()
      val got = spark.table("sessnat")
        .as[(Long, Timestamp, Timestamp, Long)].collect().toSet
      // batch reference: the exact q38 shape over the same rows
      val batch = rows.toDF("event_id", "ts", "user_id")
        .groupBy(org.apache.spark.sql.functions.session_window($"ts", "10 minutes")
          .as("sw"), $"user_id")
        .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n_events"))
        .select($"user_id", $"sw.start", $"sw.end", $"n_events")
        .as[(Long, Timestamp, Timestamp, Long)].collect().toSet
      assert(got == batch, s"streaming $got vs batch $batch")
      assert(got.exists(_._1 == 7L) && got.exists(_._1 == 8L))
      assert(got.count(_._1 == 7L) == 2) // the 25-min gap split user 7
    } finally q.stop()
  }

  test("ohlcBars: struct-min/max open/close match the batch computation") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rows = Seq(
      (1L, ts(61), 7L, 10.0), (2L, ts(62), 7L, 30.0), (3L, ts(63), 7L, 5.0),
      (4L, ts(64), 7L, 20.0), // bar [60,70): open 10, high 30, low 5, close 20
      (5L, ts(62), 8L, 1.0)) // second user, same bar
    val input = MemoryStream[(Long, Timestamp, Long, Double)]
    val out = EventStreams.ohlcBars(
      input.toDF().toDF("event_id", "ts", "user_id", "value"),
      window_ = "10 minutes", delay = "0 seconds")
    val q = out.writeStream.format("memory").queryName("ohlc")
      .outputMode("append").start()
    try {
      input.addData(rows: _*)
      q.processAllAvailable()
      input.addData((9L, ts(200), 9L, 1.0)) // watermark closes the bars
      q.processAllAvailable()
      val got = spark.table("ohlc")
        .as[(Long, Timestamp, Double, Double, Double, Double, Long)]
        .collect().toSet
      assert(got.contains((7L, ts(60), 10.0, 30.0, 5.0, 20.0, 4L)), got)
      assert(got.contains((8L, ts(60), 1.0, 1.0, 1.0, 1.0, 1L)), got)
    } finally q.stop()
  }

  test("stateful queries run on the RocksDB state store (large-state scale path)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val input = MemoryStream[(Timestamp, String, Double)]
      val out = EventStreams.windowedCounts(
        input.toDF().toDF("ts", "event_type", "value"), "10 minutes", "5 minutes")
      val q = out.writeStream.format("memory").queryName("wc_rocks").outputMode("append").start()
      try {
        input.addData((ts(61), "a", 1.0), (ts(62), "a", 2.0))
        q.processAllAvailable()
        input.addData((ts(90), "a", 1.0)) // closes [60,70)
        q.processAllAvailable()
        val rows = spark.table("wc_rocks")
          .as[(Timestamp, String, Long, Double)].collect().toSeq
        assert(rows == Seq((ts(60), "a", 2L, 3.0)))
      } finally q.stop()
    } finally {
      prev match { case Some(v) => spark.conf.set(key, v); case None => spark.conf.unset(key) }
    }
  }

  test("transformWithState running totals accumulate across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    // transformWithState requires the RocksDB provider (state v2)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val input = MemoryStream[Event]
      val out = EventStreams.runningUserTotals(input.toDS())
      val q = out.writeStream.format("memory").queryName("tws").outputMode("update").start()
      try {
        input.addData(Event(1, ts(60), 7L, "x", 2.0), Event(2, ts(61), 7L, "x", 3.0))
        q.processAllAvailable()
        input.addData(Event(3, ts(62), 7L, "x", 5.0), Event(4, ts(62), 8L, "y", 1.0))
        q.processAllAvailable()
        val last = spark.table("tws").as[EventStreams.UserTotal].collect()
          .groupBy(_.user_id).view.mapValues(_.maxBy(_.n_events)).toMap
        assert(last(7L) == EventStreams.UserTotal(7L, 3L, 10.0))
        assert(last(8L) == EventStreams.UserTotal(8L, 1L, 1.0))
      } finally q.stop()
    } finally {
      prev match { case Some(v) => spark.conf.set(key, v); case None => spark.conf.unset(key) }
    }
  }

  test("dedupStreamWithinWatermark drops re-stamped duplicates, passes distinct ids") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, String)]
    val out = EventStreams.dedupStreamWithinWatermark(
      input.toDF().toDF("event_id", "ts", "event_type"), "event_id", "10 minutes")
    val q = out.writeStream.format("memory").queryName("ddw").outputMode("append").start()
    try {
      input.addData((1L, ts(60), "a"), (2L, ts(61), "b"))
      q.processAllAvailable()
      // id 1 replayed with a LATER timestamp: dropDuplicates(id, ts) would
      // pass it; within-watermark dedup must drop it
      input.addData((1L, ts(63), "a"), (3L, ts(64), "c"))
      q.processAllAvailable()
      val ids = spark.table("ddw").select("event_id").as[Long].collect().sorted
      assert(ids.toSeq == Seq(1L, 2L, 3L))
    } finally q.stop()
  }

  test("left-outer interval join emits unmatched left rows with nulls after watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val lin = MemoryStream[(Long, Timestamp)]
    val rin = MemoryStream[(Long, Timestamp, Double)]
    val out = EventStreams.intervalJoinLeftOuter(
      lin.toDF().toDF("user_id", "ts"),
      rin.toDF().toDF("user_id", "rts", "value"),
      "user_id", "5 minutes", "10 minutes")
      .select(col("l.user_id"), col("value"))
    val q = out.writeStream.format("memory").queryName("loj").outputMode("append").start()
    try {
      lin.addData((7L, ts(60)), (8L, ts(60))) // 8 will never match
      rin.addData((7L, ts(65), 42.0)) // within [60, 70] for user 7
      q.processAllAvailable()
      // advance BOTH watermarks far past 70 so user 8's null row is final
      lin.addData((99L, ts(200))); rin.addData((98L, ts(200), 0.0))
      q.processAllAvailable()
      lin.addData((97L, ts(400))); rin.addData((96L, ts(400), 0.0))
      q.processAllAvailable()
      val got = spark.table("loj").as[(Long, Option[Double])].collect()
        .filter(r => r._1 == 7L || r._1 == 8L).sortBy(_._1)
      assert(got.toSeq == Seq((7L, Some(42.0)), (8L, None)))
    } finally q.stop()
  }

  test("runningTypeCounts in update mode tracks totals incrementally") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String, Double)]
    val out = EventStreams.runningTypeCounts(input.toDF().toDF("ts", "event_type", "value"))
    val q = out.writeStream.format("memory").queryName("rc").outputMode("complete").start()
    try {
      input.addData((ts(1), "a", 1.0), (ts(2), "b", 1.0))
      q.processAllAvailable()
      input.addData((ts(3), "a", 1.0))
      q.processAllAvailable()
      val m = spark.table("rc").as[(String, Long)].collect().toMap
      assert(m == Map("a" -> 2L, "b" -> 1L))
    } finally q.stop()
  }

  test("streaming heavy hitters: approx_top_items accumulates across micro-batches") {
    // the Misra-Gries TypedImperativeAggregate runs as STREAMING state:
    // O(k) bytes per group in the state store, merged incrementally —
    // trending-tokens over an unbounded stream without a vocabulary table
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[String]
    val out = input.toDF().toDF("token")
      .groupBy()
      .agg(graft.functions.approx_top_items(col("token"), 4).as("top"))
    val q = out.writeStream.format("memory").queryName("hh")
      .outputMode("complete").start()
    try {
      input.addData(Seq.fill(30)("hot") ++ Seq("a", "b", "c"): _*)
      q.processAllAvailable()
      input.addData(Seq.fill(25)("hot2") ++ Seq("d", "e"): _*)
      q.processAllAvailable()
      val top = spark.table("hh")
        .select(explode(col("top"))).select("col.item", "col.est")
        .as[(String, Long)].collect().toMap
      // n = 60; bound = n/(k+1) = 12: hot (30) and hot2 (25) must be
      // present, estimates within the MG bound
      assert(top.contains("hot") && top.contains("hot2"))
      assert(top("hot") <= 30 && top("hot") >= 30 - 12)
      assert(top("hot2") <= 25 && top("hot2") >= 25 - 12)
    } finally q.stop()
  }

  test("streamingMerge: micro-batches upsert into a keyed table, latest seq wins") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("smerge").toString + "/t"
    val input = MemoryStream[(Long, Long, String)] // (key, seq, payload)
    val q = input.toDF().toDF("k", "seq", "payload")
      .writeStream
      .foreachBatch(EventStreams.streamingMerge(dir, "k", "seq"))
      .outputMode("update").start()
    try {
      input.addData((1L, 1L, "a1"), (2L, 1L, "b1"))
      q.processAllAvailable()
      // batch 2: update k=1 (two rows for the same key — highest seq must
      // win), insert k=3
      input.addData((1L, 2L, "a2"), (1L, 3L, "a3"), (3L, 1L, "c1"))
      q.processAllAvailable()
      val got = EventStreams.mergedTable(spark, dir)
        .as[(Long, Long, String)].collect().toSet
      assert(got == Set((1L, 3L, "a3"), (2L, 1L, "b1"), (3L, 1L, "c1")))
    } finally q.stop()
  }

  test("mergedTableAsOf time-travels to any materialized version") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("stravel").toString + "/t"
    val input = MemoryStream[(Long, Long, String)]
    val q = input.toDF().toDF("k", "seq", "payload")
      .writeStream
      .foreachBatch(EventStreams.streamingMerge(dir, "k", "seq"))
      .outputMode("update").start()
    try {
      input.addData((1L, 1L, "a1"))
      q.processAllAvailable()
      input.addData((1L, 2L, "a2"), (2L, 1L, "b1"))
      q.processAllAvailable()
      def asOf(v: Long) = EventStreams.mergedTableAsOf(spark, dir, v)
        .as[(Long, Long, String)].collect().toSet
      assert(asOf(0L) == Set((1L, 1L, "a1")))
      assert(asOf(1L) == Set((1L, 2L, "a2"), (2L, 1L, "b1")))
      assert(asOf(99L) == asOf(1L)) // requests past the head read the head
      intercept[IllegalArgumentException] {
        EventStreams.mergedTableAsOf(spark, dir, -1L)
      }
    } finally q.stop()
  }

  // ===== sinks ============================================================
  // Every sink is one of EventStreams' two combinators over a batch
  // operator, so the sink contract is checked once per kind, over a table
  // of cases: checkOutputSink for output sinks, checkStoreSink for store
  // sinks. Each case registers as its own test; a case with assertions of
  // its own runs the contract first, then those.

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** The sf0.001 harness tables (TESTDATA.md). */
  private def tables = graft.Tables(spark, "/root/testdata/sf0.001")

  private def docs = tables.documents

  private def emb = tables.embeddings

  /** Rows of `df` as a sorted multiset of strings, arrays and binaries
    * compared by value.
    */
  private def rowsOf(df: DataFrame): Seq[String] = {
    def norm(v: Any): Any = v match {
      case b: Array[Byte] => b.toSeq
      case s: scala.collection.Seq[_] => s.map(norm)
      case r: Row => r.toSeq.map(norm)
      case x => x
    }
    df.collect().map(norm(_).toString).sorted.toSeq
  }

  /** The rows of `df` in order, split into two micro-batches. */
  private def halves(df: DataFrame): Seq[DataFrame] = {
    val rows = df.collect().toSeq
    val (a, b) = rows.splitAt(rows.length / 2)
    Seq(a, b).map(r => spark.createDataFrame(java.util.Arrays.asList(r: _*),
      df.schema))
  }

  /** `df`'s rows as one driver-local micro-batch. */
  private def local(df: DataFrame): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(df.collect(): _*), df.schema)

  /** Streams `batches` through `sink` as micro-batches 0, 1, … of one
    * MemoryStream query.
    */
  private def streamThrough(sink: EventStreams.Sink,
      batches: Seq[DataFrame]): Unit = {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    implicit val enc: Encoder[Row] = Encoders.row(batches.head.schema)
    val input = MemoryStream[Row]
    val q = input.toDF().writeStream.foreachBatch(sink)
      .outputMode("update").start()
    try batches.foreach { b =>
      input.addData(b.collect().toSeq); q.processAllAvailable()
    } finally q.stop()
  }

  /** The output-sink contract: the streamed batches equal `op` over their
    * union (over each batch when the output is batch-local), and
    * re-delivering the last batch leaves the output identical.
    *
    * @return the sink's output directory
    */
  private def checkOutputSink(batches: Seq[DataFrame],
      op: DataFrame => DataFrame, batchLocal: Boolean = false): String = {
    val out = tmp("sink-out")
    val sink = EventStreams.outputSink(out)(op)
    try {
      streamThrough(sink, batches)
      val expected =
        if (batchLocal) batches.indices.map(i => s"$out/batch=$i" -> op(batches(i)))
        else Seq(out -> op(batches.reduce(_ union _)))
      val want = expected.map { case (p, df) => (p, df.columns, rowsOf(df)) }
      def check(): Unit = want.foreach { case (p, cols, rows) =>
        assert(rows.nonEmpty, p)
        assert(rowsOf(spark.read.parquet(p).select(cols.map(col).toIndexedSeq: _*))
          == rows, p)
      }
      check()
      sink(batches.last, batches.size - 1L)
      check()
      out
    } finally graft.CacheScope.drain()
  }

  /** Every view and artifact of the stores under `dirs`, epoch suffixes
    * dropped (a replayed deletion rewrites into the next epoch).
    */
  private def storeContents(dirs: Seq[String]): Map[String, Seq[String]] =
    dirs.flatMap { d =>
      new java.io.File(d).listFiles().toSeq
        .filter(f => f.isDirectory && !f.getName.startsWith("."))
        .map(f => s"$d/${f.getName.replaceAll("_e[0-9]+$", "")}" ->
          rowsOf(spark.read.parquet(f.getPath)))
    }.toMap

  /** The store-sink contract: after the build and the streamed batches,
    * `probe` equals `scratch` (the same probe over a from-scratch build),
    * and re-delivering the last batch leaves the stores under `dirs`
    * identical.
    */
  private def checkStoreSink(dirs: Seq[String], sink: EventStreams.Sink,
      batches: Seq[DataFrame], probe: () => DataFrame,
      scratch: () => DataFrame): Unit =
    try {
      streamThrough(sink, batches)
      val want = rowsOf(scratch())
      assert(want.nonEmpty)
      assert(rowsOf(probe()) == want)
      val before = storeContents(dirs)
      sink(batches.last, batches.size - 1L)
      assert(storeContents(dirs) == before, "replayed batch changed the store")
      assert(rowsOf(probe()) == want)
    } finally graft.CacheScope.drain()

  /** Unigram tf with dl attached over the sf0.001 documents — the
    * [[graft.operators.Retrieval]] input shape.
    */
  private def docTf =
    docs.select(col("doc_id").as("id"),
        expr("filter(split(lower(text), '\\\\s+'), x -> length(x) > 0)").as("ws"))
      .filter(size(col("ws")) >= 1)
      .select(col("id"), size(col("ws")).cast("long").as("dl"),
        explode(col("ws")).as("term"))
      .groupBy(col("id"), col("dl"), col("term")).agg(count(lit(1)).as("tf"))

  /** Probe vectors (q_id, q_vec): every 50th embedding. */
  private def vecQueries =
    emb.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))

  private def lmModel(dir: String, id: String): String = {
    graft.operators.TextOps.writeLmModel(docs.filter(col("doc_id") % 10 === 0)
      .select(col("doc_id").as(id), col("text")),
      col(id), col("text"), 2, 500, 1000, dir)
    dir
  }

  private def langIdModel(dir: String): String = {
    graft.operators.TextOps.writeLangIdModel(spark,
      graft.operators.TextOps.trainHashedLangId(
        docs.select(col("doc_id").as("id"), col("text"), col("lang")),
        col("id"), col("text"), col("lang"), dim = 128, iters = 4), dir)
    dir
  }

  /** (name, batch-local output, artifacts + micro-batches + operator). */
  private val outputSinks: Seq[(String, Boolean, () => (Seq[DataFrame], DataFrame => DataFrame))] = Seq(
    ("annProbeIngest: streamed query batches probe the stored index; replay is idempotent", false, () => {
      val idx = tmp("annprobe")
      graft.operators.Similarity.writeIvfIndexVersioned(emb, idx, 16)
      (halves(vecQueries),
        graft.operators.Similarity.ivfTopKAgainstIndex(_, idx, 2, 10))
    }),
    ("bm25ProbeIngest: streamed query bags probe the stored index; replay is idempotent", false, () => {
      val idx = tmp("bm25probe")
      graft.operators.Retrieval.writeBm25IndexVersioned(docTf, idx, 16)
      import spark.implicits._
      (halves(Seq((0L, "the"), (0L, "data"), (1L, "table"), (1L, "query"))
        .toDF("q_id", "term")),
        graft.operators.Retrieval.bm25AgainstIndex(_, idx, 5))
    }),
    ("lmScoreIngest: streamed docs score against the stored LM; serving ≡ offline", false, () => {
      val model = lmModel(tmp("lmscore"), "doc_id")
      (halves(docs.filter(col("doc_id") % 10 =!= 0).select(col("doc_id"), col("text"))),
        graft.operators.TextOps.lmScoreAgainstModel(_, col("doc_id"),
          col("text"), model, 0.7, 40.0))
    }),
    ("clsScoreIngest: streamed docs score against the stored classifier; serving ≡ offline", false, () => {
      val model = tmp("clsscore")
      val d = docs.select(col("doc_id"), col("text"))
      val label = array_contains(split(lower(col("text")), """\s+"""), "dup")
      graft.operators.TextOps.writeLinearModel(spark,
        graft.operators.TextOps.trainHashedLinear(d, col("doc_id"),
          col("text"), label.cast("int"), 64, 8, 1L, 2L),
        model)
      (halves(d), graft.operators.TextOps.hashedLinearScoreAgainstModel(_,
        col("doc_id"), col("text"), model, 0.5))
    }),
    ("knnLabelIngest: streamed vectors classify against the frozen labeling; serving ≡ offline; replay idempotent", false, () => {
      val idx = tmp("knnlabel"); val lbl = s"$idx-labels"
      val e = emb.select(col("vec_id"), col("embedding"))
      graft.operators.Similarity.writeIvfIndexVersioned(e, idx, 8)
      // the frozen labeling artifact: the offline LP output written once
      graft.operators.Graph.labelPropagation(
          graft.operators.Similarity.lshTopK(
            e.select(col("vec_id").as("q_id"), col("embedding").as("q_vec")),
            e, 64, 5, 5)
            .select(least(col("q_id"), col("vec_id")).as("id_a"),
              greatest(col("q_id"), col("vec_id")).as("id_b")).distinct(),
          emb.select(col("vec_id").as("id"),
            when(col("vec_id") % 4 === 0, col("label")).cast("long")
              .as("seed_label")),
          iters = 3)
        .select(col("id"), col("label")).write.parquet(lbl)
      (halves(vecQueries),
        graft.operators.Graph.knnClassifyAgainstIndex(_, idx, lbl, 4, 10))
    }),
    ("langIdIngest: streamed docs classify against the frozen stored model; serving ≡ offline; replay idempotent", false, () => {
      val model = langIdModel(tmp("langid-ing"))
      (halves(docs.filter(col("doc_id") < 40)
        .select(col("doc_id").as("id"), col("text"))),
        graft.operators.TextOps.langIdScoreAgainstModel(_, col("id"),
          col("text"), model))
    }),
    ("langIdDriftIngest: per-batch drift report against the frozen reference; serving ≡ offline; replay idempotent", true, () => {
      val model = langIdModel(tmp("liddrift-ing")); val ref = s"$model-ref"
      graft.operators.TextOps.writeLangIdReference(
        docs.select(col("doc_id").as("id"), col("text")), col("id"),
        col("text"), model, ref)
      (Seq(local(docs.filter(col("doc_id") < 30)
        .select(col("doc_id").as("id"), col("text")))),
        graft.operators.TextOps.langIdDriftReport(_, col("id"), col("text"),
          model, ref))
    }))

  for ((name, batchLocal, setup) <- outputSinks) test(name) {
    val (batches, op) = setup()
    checkOutputSink(batches, op, batchLocal)
  }

  test("hybridProbeIngest: streamed queries probe BOTH indexes; fusion equals offline") {
    import spark.implicits._
    val bm = tmp("hybrid-bm25"); val ivf = tmp("hybrid-ivf")
    graft.operators.Retrieval.writeBm25IndexVersioned(docTf, bm, 16)
    graft.operators.Similarity.writeIvfIndexVersioned(emb, ivf, 16)
    // queries: hand term bags + each seed's own embedding as the vector
    val q = local(emb.filter($"vec_id" < 2)
      .select($"vec_id".as("q_id"),
        when($"vec_id" === 0, array(lit("the"), lit("data")))
          .otherwise(array(lit("table"), lit("query"))).as("terms"),
        $"embedding".as("q_vec")))
    val out = checkOutputSink(halves(q),
      graft.operators.Retrieval.hybridTopKAgainstIndexes(_, bm, ivf, 2, 5))
    // offline: RRF over the two single-index probes, composed here
    val offline = graft.operators.Retrieval.rrfFuse2(
        graft.operators.Retrieval.bm25AgainstIndex(
          q.select($"q_id", explode($"terms").as("term")), bm, 5)
          .select($"q_id", $"doc_id", $"rnk"),
        graft.operators.Similarity.ivfTopKAgainstIndex(
          q.select($"q_id", $"q_vec"), ivf, 2, 5)
          .select($"q_id", $"vec_id".as("doc_id"), $"rnk"),
        5)
      .as[(Long, Long, Double, Long)].collect().toSet
    val streamed = spark.read.parquet(out)
      .select("q_id", "doc_id", "score", "rnk")
      .as[(Long, Long, Double, Long)].collect().toSet
    assert(streamed.nonEmpty && streamed == offline)
  }

  test("unigramTokenizeIngest: streamed docs tokenize against the stored model; serving ≡ offline; replay idempotent") {
    import spark.implicits._
    val model = tmp("unitok")
    val d = docs.select($"doc_id".as("id"), $"text")
    graft.operators.Unigram.writeModel(spark,
      graft.operators.Unigram.trainPieces(d, $"text", 100, 2), model)
    val m = graft.operators.Unigram.loadModel(spark, model)
    val out = checkOutputSink(halves(d.filter($"id" < 40)),
      b => graft.operators.TextOps.tokenCounts(graft.operators.TextOps.pretokenize(
        b, Seq(col("id")), col("text"), byteLevel = false),
        graft.operators.TextOps.Encoder.Unigram(m, byteLevel = false)))
    // offline: per-word tokenization of the same docs with the model
    val words = d.filter($"id" < 40)
      .select($"id", explode(expr(
        "filter(split(lower(text), '\\\\s+'), x -> length(x) > 0)")).as("w"))
    val wt = graft.operators.TextOps.encodeWords(words.select($"w").distinct(),
        graft.operators.TextOps.Encoder.Unigram(m, byteLevel = false))
      .select($"w", size($"toks").cast("long").as("nt"))
    val offline = words.join(wt, Seq("w"))
      .groupBy($"id").agg(sum($"nt").as("n_tokens"))
      .as[(Long, Long)].collect().toSet
    val streamed = spark.read.parquet(out).select("id", "n_tokens")
      .as[(Long, Long)].collect().toSet
    assert(streamed.nonEmpty && streamed == offline)
  }

  test("knScoreIngest: KN serving over the SAME stored LM artifact; serving ≡ offline; replay idempotent") {
    // ONE artifact, two smoothings: this is writeLmModel's output serving KN
    val model = lmModel(tmp("knscore"), "doc_id")
    val rows = docs.filter(col("doc_id") % 10 =!= 0).select(col("doc_id"), col("text"))
    checkOutputSink(halves(rows), graft.operators.TextOps.knScoreAgainstModel(_,
      col("doc_id"), col("text"), model, 40.0))
    def ppl(df: DataFrame) = df.select(col("id"), col("ppl")).collect().toSet
    assert(ppl(graft.operators.TextOps.lmScoreAgainstModel(rows, col("doc_id"),
        col("text"), model, 0.7, 40.0)) !=
      ppl(graft.operators.TextOps.knScoreAgainstModel(rows, col("doc_id"),
        col("text"), model, 40.0)),
      "KN must not degenerate into the add-one smoothing")
  }

  test("pplBucketIngest: streamed docs bucket against frozen boundaries; unknown group fails visible") {
    import spark.implicits._
    val lm = lmModel(tmp("pplbkt"), "id"); val bounds = s"$lm-bounds"
    val d = docs.select(col("doc_id").as("id"), col("text"),
      col("source").as("group"))
    graft.operators.TextOps.writePplBoundaries(d, col("id"), col("text"),
      col("group"), col("id") % 10 === 0, 500, 1000, 0.7, bounds)
    def op(b: DataFrame) = graft.operators.TextOps.pplBucketAgainstBoundaries(
      b, col("id"), col("text"), col("group"), lm, bounds, 0.7)
    val out = checkOutputSink(halves(d), op)
    // serving over frozen artifacts ≡ the fresh offline partition
    val streamed = spark.read.parquet(out).select("id", "group", "ppl", "bucket")
    assert(rowsOf(streamed) == rowsOf(graft.operators.TextOps.perplexityPartition(
      d, col("id"), col("text"), col("group"), col("id") % 10 === 0, 500,
      1000, 0.7)))
    assert(streamed.select("bucket").as[String].collect().toSet
      .subsetOf(Set("head", "middle", "tail")))
    // a group absent from the stored boundaries buckets to NULL
    EventStreams.outputSink(out)(op)(Seq((900001L, d.head().getString(1),
      "no-such-source")).toDF("id", "text", "group"), 99)
    val unknown = spark.read.parquet(s"$out/batch=99").select("bucket").collect()
    assert(unknown.length == 1 && unknown.head.isNullAt(0))
  }

  test("expectationsIngest: per-batch quality reports; replay re-derives identically") {
    import spark.implicits._
    import graft.operators.Expectations._
    val rules = Seq(NotNull("id"), InRange("v", 0.0, 1.0), Unique(Seq("id")))
    val clean = Seq((Option(1L), 0.5), (Option(2L), 0.7)).toDF("id", "v")
    val dirty = Seq((Option.empty[Long], 0.5), (Some(3L), 1.5), (Some(3L), 0.2))
      .toDF("id", "v")
    val out = checkOutputSink(Seq(clean, dirty), check(_, rules),
      batchLocal = true)
    def report(b: Int) = spark.read.parquet(s"$out/batch=$b")
      .as[(String, Long, Boolean)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(report(0).values.forall(_ == ((0L, true))))
    val d = report(1)
    assert(d("not_null(id)") == ((1L, false)))
    assert(d("in_range(v)") == ((1L, false)))
    assert(d("unique(id)") == ((1L, false)))
  }

  test("taggerIngest: per-batch tagger table ≡ offline; every row lands; replay idempotent") {
    import spark.implicits._
    val b0 = Seq(
      (1L, "the cat of the house is in the garden today"),
      (2L, "bad bad bad the cat is here today ok"),
      (3L, "")).toDF("id", "text")
    val out = checkOutputSink(Seq(b0), graft.operators.TextOps.taggerTable(_,
      col("id"), col("text"), Seq("bad"), 1000L, 2L, 0.35, 0.3, 0.2, 0.02))
    val r0 = spark.read.parquet(s"$out/batch=0")
      .select($"id", $"kept", $"reasons")
      .as[(Long, Boolean, String)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(r0.keySet == Set(1L, 2L, 3L), "every batch row lands, drops included")
    assert(r0(3L) == ((false, "repetition,quality,doclen")))
  }

  test("htmlExtractIngest: per-batch block table ≡ offline extractor; replay idempotent") {
    import spark.implicits._
    val b0 = Seq(
      (1L, "<html><body><h1>a &amp; b</h1><p>one two</p></body></html>"),
      (2L, "<nav>x</nav><script>drop()</script><p>kept</p>")).toDF("id", "html")
    val out = checkOutputSink(Seq(b0),
      graft.operators.Html.blockTable(_, col("id"), col("html")))
    val r0 = spark.read.parquet(s"$out/batch=0")
      .select($"id", $"block_type", $"block_idx", $"block_text")
      .as[(Long, String, Long, String)].collect().toSet
    val offline = graft.operators.Html.extractBlocks(b0, col("html"))
      .select($"id", $"block_type", $"block_idx", $"block_text")
      .as[(Long, String, Long, String)].collect().toSet
    assert(r0 == offline && r0.nonEmpty)
    assert(r0.contains((1L, "h1", 0L, "a & b")))
    assert(r0.contains((2L, "nav", 0L, "x")))
    assert(!r0.exists(_._4.contains("drop")), "script content never leaks")
  }

  test("warcIngest: per-batch field table ≡ offline parse; quarantine arrives as rows; replay idempotent") {
    import spark.implicits._
    import graft.operators.Warc
    val recs = Warc.withWarcRecord(
      Seq((1L, "s", "<p>one</p>"), (2L, "s", "<p>two</p>"),
        (23L, "s", "<p>bad</p>")).toDF("doc_id", "source", "html"),
      $"doc_id", $"source", $"html", "rec", malformEvery = 23)
    val b0 = local(Warc.withWarcFiles(recs, $"doc_id", $"rec", docsPerFile = 2))
    val out = checkOutputSink(Seq(b0), Warc.fieldTable(_, col("file_id"), "warc"))
    val r0 = spark.read.parquet(s"$out/batch=0")
      .select($"url", $"malformed")
      .as[(Option[String], Boolean)].collect().toSet
    val offline = Warc.parseFields(Warc.records(b0, "warc"), $"rec")
      .select($"url", $"malformed")
      .as[(Option[String], Boolean)].collect().toSet
    assert(r0 == offline && r0.size == 3)
    assert(r0.contains((Some("http://example.com/s/1"), false)))
    assert(r0.contains((None, true)), "the corrupted record arrives quarantined")
  }

  test("outlinkIngest: per-batch anchor table resolved against each page's own base; non-crawlable hrefs arrive null; replay idempotent") {
    import spark.implicits._
    val b0 = Seq(
      (1L, "http://a.com/d/p",
        "<p><a href=\"next/2\">more</a> <a href=\"mailto:x@y.z\">mail</a></p>"),
      (2L, "HTTPS://B.net:443/x?q=1",
        "<ul><li><a href='/r'>root &amp; rel</a></li></ul>" +
          "<script>var s='<a href=\"http://ghost/\">g</a>';</script>"))
      .toDF("id", "url", "html")
    val out = checkOutputSink(Seq(b0), graft.operators.Html.resolvedLinks(_,
      col("id"), col("url"), col("html")))
    assert(spark.read.parquet(s"$out/batch=0")
      .select($"id", $"link_idx", $"href", $"anchor_text", $"url_resolved",
        $"url_canon")
      .as[(Long, Long, Option[String], String, Option[String], Option[String])]
      .collect().toSet == Set(
        (1L, 0L, Some("next/2"), "more",
          Some("http://a.com/d/next/2"), Some("http://a.com/d/next/2")),
        (1L, 1L, Some("mailto:x@y.z"), "mail", None, None), // not crawlable — data
        (2L, 0L, Some("/r"), "root & rel",
          Some("https://b.net:443/r"), Some("https://b.net/r"))))
  }

  test("wordPieceTokenizeIngest: streamed docs tokenize against the stored vocab; serving ≡ offline; replay idempotent") {
    import spark.implicits._
    val model = tmp("wptok")
    val d = docs.select(col("doc_id").as("id"), col("text"))
    graft.operators.TextOps.writeWordPieceModel(
      graft.operators.TextOps.wordPieceWordTable(d, col("text")),
      graft.operators.TextOps.wordPieceMerges(d, col("text"), 3), model)
    def op(b: DataFrame) = graft.operators.TextOps.wordPieceDocCounts(b,
      col("id"), col("text"), graft.operators.TextOps.loadWordPieceVocab(spark, model))
    val out = checkOutputSink(halves(d.filter(col("id") < 40)), op)
    def streamed() = spark.read.parquet(out).select("id", "n_tokens", "n_unk")
      .as[(Long, Long, Long)].collect().toSet
    // offline: per-word WordPiece segmentation of the same docs, with the
    // [UNK] tally summed per doc
    val words = d.filter($"id" < 40)
      .select($"id", explode(expr(
        "filter(split(lower(text), '\\\\s+'), x -> length(x) > 0)")).as("w"))
    val wtoks = graft.operators.TextOps.encodeWords(
        words.select($"w").distinct(),
        graft.operators.TextOps.Encoder.WordPiece(
          graft.operators.TextOps.loadWordPieceVocab(spark, model)))
      .select($"w", size($"toks").cast("long").as("nt"),
        when(element_at($"toks", 1) === "[UNK]", 1L).otherwise(0L).as("unk"))
    val offline = words.join(wtoks, Seq("w"))
      .groupBy($"id").agg(sum($"nt").as("n_tokens"), sum($"unk").as("n_unk"))
      .as[(Long, Long, Long)].collect().toSet
    val s1 = streamed()
    assert(s1.nonEmpty && s1 == offline)
    // the vocab was trained on the full corpus word table, so the served
    // slice segments without UNK (the drift signal stays 0)
    assert(s1.forall(_._3 == 0L))
    // EVERY ingested doc reports — a doc with no extractable words gets
    // (id, 0, 0) rather than a silent per-doc gap
    EventStreams.outputSink(out)(op)(Seq((9001L, ""), (9002L, "   \t  "),
      (9003L, "real words here")).toDF("id", "text"), 1)
    val withEmpty = streamed()
    assert(withEmpty.contains((9001L, 0L, 0L)))
    assert(withEmpty.contains((9002L, 0L, 0L)))
    assert(withEmpty.exists(r => r._1 == 9003L && r._2 > 0L))
  }

  /** A frozen byte-level BPE model over the sf0.001 documents, and the
    * (source, doc_id, text) docs with doc_id < `below`.
    */
  private def shardFixture(below: Int): (Seq[(String, String)], DataFrame) = {
    val model = tmp("shards")
    val d = docs.select(col("source"), col("doc_id"), col("text"))
    graft.operators.TextOps.writeBpeModel(
      graft.operators.TextOps.bpeMerges(d, col("text"), 4, byteLevel = true), model)
    (graft.operators.TextOps.loadBpeMerges(spark, model),
      local(d.filter(col("doc_id") < below)))
  }

  test("packShardsIngest: per-batch shards against the frozen tokenizer ≡ offline; replay idempotent") {
    // bins are batch-local by design, so each batch compares on its own
    val (merges, rows) = shardFixture(40)
    checkOutputSink(halves(rows), b => graft.operators.Curation.packShards(
      graft.operators.TextOps.tokenArrays(
        graft.operators.TextOps.pretokenize(b,
          Seq(col("source"), col("doc_id")), col("text"), byteLevel = true),
        graft.operators.TextOps.Encoder.Bpe(merges, byteLevel = true)), col("source"),
      col("doc_id"), col("toks"), 50L, partitions = 32), batchLocal = true)
  }

  test("packShardIdsIngest: per-batch TOKEN-ID shards against the frozen tokenizer + vocab ≡ offline; ids ≡ the string shards mapped; replay idempotent") {
    import spark.implicits._
    val (merges, rows) = shardFixture(30)
    val vdir = tmp("idshards-vocab")
    graft.operators.TextOps.writeBpeVocabIds(spark,
      graft.operators.TextOps.bpeVocabIdsByteLevel(merges), vdir)
    val vocab = graft.operators.TextOps.loadBpeVocabIds(spark, vdir)
    val out = checkOutputSink(Seq(rows), b => graft.operators.Curation.packShardIds(
      graft.operators.TextOps.tokenArrays(
        graft.operators.TextOps.pretokenize(b,
          Seq(col("source"), col("doc_id")), col("text"), byteLevel = true),
        graft.operators.TextOps.Encoder.Bpe(merges, byteLevel = true)), col("source"),
      col("doc_id"), col("toks"), vocab, 50L, partitions = 32), batchLocal = true)
    val s0 = spark.read.parquet(s"$out/batch=0")
      .select("domain", "bin", "n_tokens", "token_ids")
      .as[(String, Long, Long, Seq[Long])].collect().toSet
    // the id arrays ARE the string shards mapped through the vocab: same
    // bins, same lengths, ids within the vocab's range
    val strShards = graft.operators.Curation.packShards(
        graft.operators.TextOps.tokenArrays(
        graft.operators.TextOps.pretokenize(rows,
          Seq(col("source"), col("doc_id")), col("text"), byteLevel = true),
        graft.operators.TextOps.Encoder.Bpe(merges, byteLevel = true)), col("source"),
        col("doc_id"), col("toks"), 50L, 8)
      .select($"domain", $"bin", $"n_tokens")
      .as[(String, Long, Long)].collect().toSet
    assert(s0.map(r => (r._1, r._2, r._3)) == strShards)
    assert(s0.forall(_._4.forall(i => i >= 0 && i < 256L + merges.length)))
  }

  test("trainingPairIngest: streamed seeds export pairs against frozen artifacts; serving ≡ offline; replay idempotent") {
    import spark.implicits._
    val idx = tmp("tpairs"); val shs = s"$idx-shingles"
    val d = docs.select(col("doc_id").as("id"), col("text"))
    val tf = d
      .select($"id", expr(
        "filter(split(lower(text), '\\\\s+'), x -> length(x) > 0)").as("ws"))
      .filter(size($"ws") >= 2)
      .select($"id", (size($"ws") - 1).cast("long").as("dl"),
        explode(expr(
          "transform(sequence(1, size(ws) - 1, 1), i -> concat(ws[i - 1], ' ', ws[i]))"))
          .as("term"))
      .groupBy($"id", $"dl", $"term").agg(count(lit(1)).as("tf"))
    graft.operators.Retrieval.writeBm25IndexVersioned(tf, idx, 8)
    val shingled = graft.operators.Dedup.shingleArrays(d, 3)
    shingled.write.parquet(shs) // the frozen corpus shingle view
    val seeds = local(d.filter($"id".isin(0L, 1L, 8L)).orderBy($"id"))
    // query-derivation parity: stored-idf derivation equals the
    // corpus-side recipe (independent replay, the bm25SeedQueries shape)
    val qIdx = graft.operators.Retrieval
      .seedQueriesAgainstIndex(seeds, idx, 3)
      .as[(Long, String)].collect().toSet
    val dfs = tf.groupBy($"term").agg(count(lit(1)).as("df"))
    val nd = tf.agg(count_distinct($"id").as("n_docs"))
    val qOff = tf.filter($"id".isin(0L, 1L, 8L))
      .join(dfs, "term").crossJoin(broadcast(nd))
      .select($"id".as("q_id"), $"term",
        ($"tf".cast("double") * log($"n_docs".cast("double") / $"df")).as("w"))
      .groupBy($"q_id")
      .agg(slice(sort_array(collect_list(struct(
        (-$"w").as("nw"), $"term".as("t")))), 1, 3).as("v"))
      .select($"q_id", explode($"v.t").as("term"))
      .as[(Long, String)].collect().toSet
    assert(qIdx.nonEmpty && qIdx == qOff)
    val b0 = local(seeds.filter($"id" < 8L)); val b1 = local(seeds.filter($"id" === 8L))
    val out = checkOutputSink(Seq(b0, b1), graft.operators.Retrieval
      .trainingPairsForSeeds(_, idx, shs, 3, 5, 10, 0.3))
    // serving ≡ the offline corpus-side miner
    val streamed = spark.read.parquet(out)
      .select("seed_id", "doc_id", "label", "rnk")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(streamed == graft.operators.Retrieval.trainingPairs(tf,
        graft.operators.Retrieval.seedQueriesAgainstIndex(seeds, idx, 3),
        shingled.select($"id", $"sh".as("ss")), 5, 10, 0.3)
      .as[(Long, Long, Long, Long)].collect().toSet)
    // positives present: one per seed at rank 0
    assert(Seq(0L, 1L, 8L).forall(i => streamed.contains((i, i, 1L, 0L))))
  }

  /** A compressed IVF family as a store sink and a serving sink: build on
    * the `buildIds` slice, stream the rest through `ingest`, and probe
    * against a from-scratch `build` of everything; then serve `probe` over
    * the stream-built index.
    */
  private def ivfStoreCase(name: String,
      build: (DataFrame, String) => Unit,
      ingest: (DataFrame, String, Long) => Unit,
      probe: (DataFrame, String) => DataFrame,
      buildIds: org.apache.spark.sql.Column): Unit = test(name) {
    val e = emb.select(col("vec_id"), col("embedding"))
    val idx = tmp("ivf-store"); val full = tmp("ivf-store-full")
    // the build slice holds every id the frozen artifacts train from, so
    // they equal their full-corpus versions
    build(e.filter(buildIds), idx)
    build(e, full)
    checkStoreSink(Seq(idx), EventStreams.storeSink(ingest(_, idx, _)),
      Seq(local(e.filter(!buildIds))), () => probe(vecQueries, idx),
      () => probe(vecQueries, full))
    // serving over the stream-built index ≡ the offline probe
    checkOutputSink(Seq(local(vecQueries)), probe(_, idx))
  }

  test("annIngest: streamed vectors extend a versioned index; replay leaves it identical") {
    val e = emb.select(col("vec_id"), col("embedding"))
    val idx = tmp("anningest"); val full = tmp("anningest-full")
    // build on a slice containing the whole centroid id range (frozen
    // quantizer == full-corpus quantizer); stream the rest in two batches
    val late = col("vec_id") >= 16 && col("vec_id") % 3 === 1
    graft.operators.Similarity.writeIvfIndexVersioned(e.filter(!late), idx, 16)
    graft.operators.Similarity.writeIvfIndexVersioned(e, full, 16)
    checkStoreSink(Seq(idx), EventStreams.annIngest(idx), halves(e.filter(late)),
      () => graft.operators.Similarity.ivfTopKAgainstIndex(vecQueries, idx, 2, 10),
      () => graft.operators.Similarity.ivfTopKAgainstIndex(vecQueries, full, 2, 10))
  }

  ivfStoreCase("pqIngest + pqProbeIngest: streamed vectors extend the compressed index; serving ≡ offline",
    // training-free codebooks: the centroid and codebook ids are < 16
    graft.operators.Similarity.writeIvfIndexVersioned(_, _, 16,
      codec = graft.operators.Similarity.IvfCodec.Pq(8, 16, trainIters = 0)),
    graft.operators.Similarity.ingestIntoIvfIndex(_, _, _),
    graft.operators.Similarity.ivfTopKAgainstIndex(_, _, 2, 10),
    col("vec_id") < 16 || col("vec_id") % 3 =!= 1)

  ivfStoreCase("pqrIngest + pqrProbeIngest: streamed vectors extend the RESIDUAL index; serving ≡ offline",
    // centroid ids < 16, residual-codebook init ids: the first 16
    // NON-centroid ids, 16..31
    graft.operators.Similarity.writeIvfIndexVersioned(_, _, 16,
      codec = graft.operators.Similarity.IvfCodec.Pqr(8, 16)),
    graft.operators.Similarity.ingestIntoIvfIndex(_, _, _),
    graft.operators.Similarity.ivfTopKAgainstIndex(_, _, 2, 10),
    col("vec_id") < 32 || col("vec_id") % 3 =!= 1)

  test("sqIngest + sqProbeIngest: streamed vectors extend the SQ8 index; serving ≡ offline") {
    val e = emb.select(col("vec_id"), col("embedding"))
    val idx = tmp("sqingest"); val idx2 = tmp("sqingest-offline")
    // SQ8 stats are per-dim min/max, so build+stream ≡ build+offline-ingest
    // over the SAME frozen quantizer (not ≡ a from-scratch union build —
    // a batch CAN extend a dim's range; it clamps, the FAISS behavior)
    val initial = e.filter(col("vec_id") % 3 =!= 1)
    val late = local(e.filter(col("vec_id") % 3 === 1))
    graft.operators.Similarity.writeIvfIndexVersioned(initial, idx, 16,
      codec = graft.operators.Similarity.IvfCodec.Sq8)
    graft.operators.Similarity.writeIvfIndexVersioned(initial, idx2, 16,
      codec = graft.operators.Similarity.IvfCodec.Sq8)
    graft.operators.Similarity.ingestIntoIvfIndex(late, idx2, 1L)
    checkStoreSink(Seq(idx), EventStreams.storeSink(
        graft.operators.Similarity.ingestIntoIvfIndex(_, idx, _)), Seq(late),
      () => graft.operators.Similarity.ivfTopKAgainstIndex(vecQueries, idx, 2, 10),
      () => graft.operators.Similarity.ivfTopKAgainstIndex(vecQueries, idx2, 2, 10))
    checkOutputSink(Seq(local(vecQueries)),
      graft.operators.Similarity.ivfTopKAgainstIndex(_, idx, 2, 10))
  }

  test("bm25Ingest: streamed postings extend a versioned index; replay leaves it identical") {
    import spark.implicits._
    val idx = tmp("bm25ingest")
    val tf = docTf
    // build on a doc slice, stream the rest's postings in two
    // DOCUMENT-ATOMIC batches (the ingest contract: a doc's postings
    // arrive together — splitting rows mid-doc would double-count the
    // doc in the summed stats)
    graft.operators.Retrieval.writeBm25IndexVersioned(tf.filter($"id" % 3 =!= 1), idx, 16)
    def late(m: Int) = local(tf.filter($"id" % 6 === m).select($"id", $"term", $"tf", $"dl"))
    val queries = Seq((0L, "the"), (0L, "data"), (1L, "table")).toDF("q_id", "term")
    // build+stream probes equal the DIRECT bm25TopK over the full corpus:
    // df counts postings and stats rows sum, so nothing drifts
    checkStoreSink(Seq(idx), EventStreams.bm25Ingest(idx), Seq(late(1), late(4)),
      () => graft.operators.Retrieval.bm25AgainstIndex(queries, idx, 5),
      () => graft.operators.Retrieval.bm25TopK(tf, queries, 5))
  }

  test("bm25DeleteIngest: streamed deletion requests erase docs; replay is a no-op") {
    import spark.implicits._
    val idx = tmp("bm25del")
    val tf = docTf
    graft.operators.Retrieval.writeBm25IndexVersioned(tf, idx, 16)
    // two erasure windows: doc ids ≡1 (mod 7), then ≡2 (mod 7); deletion is
    // idempotent, so a replayed window rewrites to identical contents
    def victims(m: Long) = local(tf.select($"id").distinct().filter($"id" % 7 === m))
    val queries = Seq((0L, "the"), (0L, "data"), (1L, "table")).toDF("q_id", "term")
    checkStoreSink(Seq(idx), EventStreams.storeSink((ids, _) =>
        graft.operators.Retrieval.deleteFromBm25Index(spark, idx, ids)),
      Seq(victims(1), victims(2)),
      () => graft.operators.Retrieval.bm25AgainstIndex(queries, idx, 5),
      () => graft.operators.Retrieval.bm25TopK(
        tf.filter($"id" % 7 =!= 1 && $"id" % 7 =!= 2), queries, 5))
    // the bytes are gone from the stored postings
    assert(Compaction.snapshot(spark, idx)("lists")
      .filter($"id" % 7 === 1 || $"id" % 7 === 2).count() == 0)
  }

  test("countMinIngest: streamed batches maintain the stored sketch; store == one-shot sketch (linearity)") {
    import spark.implicits._
    import graft.operators.Sketches
    val dir = tmp("cmingest")
    val all = (Seq.fill(40)("a") ++ Seq.fill(15)("b") ++ Seq.fill(3)("c"))
      .zipWithIndex.map { case (k, i) => (i.toLong, k) }
    val (build, rest) = all.splitAt(10)
    Sketches.writeCountMin(build.toDF("i", "k"), col("k"), depth = 3, width = 64, dir)
    val keys = Seq("a", "b", "c", "zz").toDF("k")
    def est() = Sketches.countMinEstimateAgainstStore(dir, keys, col("k"))
    // linearity: build + streamed batches == one-shot over everything
    val oneShot = Sketches.countMinEstimate(
      Sketches.countMin(all.toDF("i", "k"), col("k"), 3, 64), keys, col("k"), 3, 64)
    val sink = EventStreams.storeSink(Sketches.ingestIntoCountMin(_, col("k"), dir, _))
    checkStoreSink(Seq(dir), sink, halves(rest.toDF("i", "k")), () => est(),
      () => oneShot)
    val e = est().as[(String, Long)].collect().toMap
    assert(e("a") >= 40L && e("b") >= 15L && e("c") >= 3L)
    // maintenance tick AFTER the producer's commit (the
    // Compaction.batchCount consult contract): 3 batch dirs > 2 → fold to
    // one epoch-1 batch; probes unchanged, and the NEXT streamed batch
    // keeps landing in the new epoch
    assert(Sketches.compactCountMinIfNeeded(spark, dir, maxBatches = 2).contains(1))
    assert(Compaction.batchCount(spark, dir, "cells") == 1)
    assert(rowsOf(est()) == rowsOf(oneShot))
    sink(Seq((9001L, "c"), (9002L, "c")).toDF("i", "k"), 2L)
    assert(est().as[(String, Long)].collect().toMap.apply("c") ==
      oneShot.as[(String, Long)].collect().toMap.apply("c") + 2L)
  }

  test("corpusIndexIngest: streamed docs extend the dedup index; replay leaves it identical") {
    import spark.implicits._
    val idx = tmp("corpus-ing")
    val d = docs.select($"doc_id".as("id"), $"text")
    val existing = d.filter($"id" % 10 =!= 7)
    val probeDocs = d.filter($"id" % 10 === 7)
    def probe() = graft.operators.Dedup
      .dedupAgainstIndex(probeDocs, idx, 3, 16, 8, 0.8).select("id")
    // offline build on the initial slice; stream the late slice in;
    // build+stream ≡ the direct cross-corpus dedup
    graft.operators.Dedup.writeCorpusIndexVersioned(
      existing.filter($"id" % 10 =!= 5), idx, 3, 16, 8)
    checkStoreSink(Seq(idx), EventStreams.storeSink(
        graft.operators.Dedup.ingestIntoCorpusIndex(_, idx, _, 3, 16, 8)),
      Seq(local(existing.filter($"id" % 10 === 5))), () => probe(),
      () => graft.operators.Dedup.dedupAgainst(probeDocs, existing, 3, 16, 8, 0.8)
        .select("id"))
    // maintenance tick: threshold consulted after commit, probe unchanged
    val p1 = rowsOf(probe())
    assert(graft.operators.Dedup.compactCorpusIndexIfNeeded(spark, idx, 1).contains(1))
    assert(rowsOf(probe()) == p1)
  }

  test("ccLabelIngest: streamed docs maintain the clustering; final ≡ from-scratch; replay idempotent") {
    import spark.implicits._
    val idx = tmp("cclabel"); val cc = s"$idx-cc"
    val d = docs.select($"doc_id".as("id"), $"text")
    val initial = d.filter($"id" % 3 =!= 1)
    graft.operators.Dedup.writeCorpusIndexVersioned(initial, idx)
    graft.operators.Dedup.writeCcLabels(initial.select($"id"),
      graft.operators.Dedup.minhashLshPairs(initial, 3, 64, 16, 0.8)
        .select($"id_a", $"id_b"), cc)
    // every pair (a, b) surfaces when the LATER doc's batch processes
    // (within-batch, or cross against the index holding the earlier one),
    // so the maintained labeling must equal the from-scratch clustering
    val labels = graft.operators.Dedup.connectedComponents(
        graft.operators.Dedup.minhashLshPairs(d, 3, 64, 16, 0.8)
          .select($"id_a", $"id_b"))
      .withColumnRenamed("id", "lid")
    val scratch = d.select($"id").join(labels, $"id" === $"lid", "left")
      .select($"id", coalesce($"comp", $"id").as("comp"))
    checkStoreSink(Seq(idx, cc), EventStreams.ccLabelIngest(idx, cc),
      halves(d.filter($"id" % 3 === 1)),
      () => graft.operators.Dedup.ccLabelsResolved(spark, cc), () => scratch)
    // the fixture must actually exercise a cross-batch merge
    assert(scratch.as[(Long, Long)].collect()
      .exists { case (id, comp) => id % 3 == 1 && comp != id },
      "fixture has no near-dup touching the streamed slice")
  }

  test("dedupIngest: batches dedup within themselves, against the index, and extend it") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("dedupingest").toString
    val idx = s"$base/index"; val out = s"$base/out"
    val input = MemoryStream[(Long, String)]
    val q = input.toDF().toDF("id", "text")
      .writeStream
      .foreachBatch(EventStreams.dedupIngest(idx, out))
      .outputMode("update").start()
    try {
      input.addData(
        (1L, "the quick brown fox jumps over the lazy dog today"),
        (2L, "a completely different document body with other words"))
      q.processAllAvailable()
      input.addData(
        (3L, "the quick brown fox jumps over the lazy dog today"), // exact dup of 1 (via index)
        (4L, "yet another unrelated piece of text arriving later"),
        (5L, "yet another unrelated piece of text arriving later")) // dup of 4 within batch
      q.processAllAvailable()
      val kept = spark.read.parquet(out).select("id")
        .as[Long].collect().toSet
      assert(kept == Set(1L, 2L, 4L))
      // the index grew with every kept doc: a third batch duplicating
      // batch-2's survivor is dropped too
      input.addData((6L, "yet another unrelated piece of text arriving later"))
      q.processAllAvailable()
      assert(spark.read.parquet(out).select("id").as[Long].collect().toSet
        == Set(1L, 2L, 4L))
    } finally q.stop()
  }

  test("dedupIngest replay: a re-delivered batch re-derives the same kept set") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("dedupingest2").toString
    val idx = s"$base/index"; val out = s"$base/out"
    val sink = EventStreams.dedupIngest(idx, out)
    val b0 = Seq((1L, "first document with some words in it"),
      (2L, "second totally different body of text")).toDF("id", "text")
    val b1 = Seq((3L, "first document with some words in it"), // dup of 1
      (4L, "a fresh third document unlike the others")).toDF("id", "text")
    sink(b0, 0); sink(b1, 1)
    val first = spark.read.parquet(out).select("id").as[Long].collect().toSet
    assert(first == Set(1L, 2L, 4L))
    // crash-replay of batch 1: must probe only batch 0's index entries
    // (not its own first attempt) and re-derive the identical kept set
    sink(b1, 1)
    val second = spark.read.parquet(out).select("id").as[Long].collect().toSet
    assert(second == first)
  }

  test("dedupIngest: the stream-built index packs its band directories and deletes by doc id") {
    // the sink writes the corpus index through Dedup's own views: band
    // keys rebalance into at most 2 files per band= directory (the IVF
    // pin's bound), and the hashes view carries the doc id that
    // deleteFromCorpusIndex erases by
    import spark.implicits._
    val idx = tmp("dedup-views"); val out = tmp("dedup-views-out")
    val d = docs.select($"doc_id".as("id"), $"text")
    try {
      streamThrough(EventStreams.dedupIngest(idx, out), halves(d))
      val bandDirs = new java.io.File(s"$idx/bands").listFiles()
        .filter(_.getName.startsWith("batch="))
        .flatMap(_.listFiles().filter(_.getName.startsWith("band=")))
      assert(bandDirs.length == 2 * 16)
      for (b <- bandDirs)
        assert(b.listFiles().count(_.getName.endsWith(".parquet")) <= 2, b)
      val victim = spark.read.parquet(out).select("id").as[Long].collect().min
      def stored(view: String) = Compaction.snapshot(spark, idx)(view)
        .filter($"id" === victim).count()
      assert(Seq("hashes", "bands", "shingles").forall(stored(_) > 0))
      graft.operators.Dedup.deleteFromCorpusIndex(spark, idx, Seq(victim).toDF("id"))
      assert(Seq("hashes", "bands", "shingles").forall(stored(_) == 0))
    } finally graft.CacheScope.drain()
  }

  test("imageAHashIngest: dedup-on-arrival vs store and within batch; undecodables quarantined; replay idempotent") {
    import spark.implicits._
    import graft.operators.{Dedup, Multimodal}
    // hand-controlled hashes: an 8x8 image with columns < k white has
    // aHash bits exactly on those 8k cells (white is above the mean while
    // any black cell exists), so hamming(img(k), img(k')) = 8|k - k'|
    def img(k: Int): Array[Byte] = {
      val im = new java.awt.image.BufferedImage(8, 8,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (x <- 0 until 8; y <- 0 until 8)
        im.setRGB(x, y, if (x < k) 0xffffff else 0)
      Multimodal.ImageCodec.encode(im, "png")
    }
    def fps(rows: (Long, Array[Byte])*) =
      Multimodal.decodeImageAHash(rows.toSeq.toDF("id", "media"), "media")
        .select($"id", $"ah_hi", $"ah_lo")
    val base = java.nio.file.Files.createTempDirectory("ahashingest").toString
    val idx = s"$base/index"; val out = s"$base/out"
    Dedup.writeAHashIndex(fps(1L -> img(2), 2L -> img(4)), idx)
    val sink = EventStreams.imageAHashIngest(idx, out)
    val b0 = Seq(10L -> img(4), // exact dup of stored 2
      11L -> img(6),            // new (hamming 16 from 2, 32 from 1)
      12L -> img(6),            // within-batch dup of 11
      13L -> "not an image".getBytes("UTF-8")).toDF("id", "media")
    sink(b0, 0L)
    def report(b: Long) = spark.read.parquet(s"$out/batch=$b")
      .select($"id", $"n_store_dups", $"kept")
      .as[(Long, Long, Boolean)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    val r0 = report(0L)
    assert(r0 == Map(10L -> ((1L, false)), 11L -> ((0L, true)),
      12L -> ((0L, false)), 13L -> ((0L, false))))
    // the store grew by the kept image only: 14 dups 11, 15 is new
    sink(Seq(14L -> img(6), 15L -> img(3)).toDF("id", "media"), 1L)
    assert(report(1L) == Map(14L -> ((1L, false)), 15L -> ((0L, true))))
    // crash-replay of batch 0: probes only the build (beforeBatch), not
    // its own first-attempt entries — identical report
    sink(b0, 0L)
    assert(report(0L) == r0)
  }

  test("curationIngest: the composed online gate — every survivor passes all three filters; cross-batch dup dropped; replay idempotent") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("curing").toString
    val lm = s"$base/lm"; val cls = s"$base/cls"
    val idx = s"$base/idx"; val out = s"$base/out"
    val docs = graft.Tables(spark, "/root/testdata/sf0.001").documents
      .select($"doc_id".as("id"), $"text")
    // frozen artifacts, trained offline on the reference slice
    graft.operators.TextOps.writeLmModel(docs.filter($"id" % 10 === 0),
      col("id"), col("text"), 2, 500, 1000, lm)
    val label = array_contains(split(lower(col("text")), """\s+"""), "dup")
    graft.operators.TextOps.writeLinearModel(spark,
      graft.operators.TextOps.trainHashedLinear(docs, col("id"),
        col("text"), (!label).cast("int"), 64, 8, 1L, 2L), cls)
    val rows = docs.as[(Long, String)].collect().toSeq
    val (b0, b1raw) = rows.splitAt(rows.length / 2)
    // plant a cross-batch near-duplicate: batch 1 re-sends b0's first doc
    // under a fresh id — the stored-index stage must drop it
    val dupOfB0 = (900001L, b0.head._2)
    val b1 = dupOfB0 +: b1raw
    val sink = EventStreams.curationIngest(lm, cls, idx, out,
      maxTopTokFrac = 0.2, maxTopBigramFrac = 0.1, minTtr = 0.3,
      lambda = 0.7, pplThreshold = 40.0, clsThreshold = 0.5)
    val input = MemoryStream[(Long, String)]
    val q = input.toDF().toDF("id", "text")
      .writeStream.foreachBatch(sink).outputMode("update").start()
    try {
      input.addData(b0); q.processAllAvailable()
      input.addData(b1); q.processAllAvailable()
      val kept = spark.read.parquet(out).select("id")
        .as[Long].collect().toSet
      assert(kept.nonEmpty)
      // every survivor passes all three quality gates, recomputed offline
      val keptDocs = rows.filter(r => kept(r._1)).toDF("id", "text")
      def keepSet(df: org.apache.spark.sql.DataFrame) =
        df.filter(col("keep")).select(col("id")).as[Long].collect().toSet
      assert(keepSet(graft.operators.TextOps.repetitionFilter(keptDocs,
        col("id"), col("text"), 0.2, 0.1, 0.3)) == kept)
      assert(keepSet(graft.operators.TextOps.lmScoreAgainstModel(keptDocs,
        col("id"), col("text"), lm, 0.7, 40.0)) == kept)
      assert(keepSet(graft.operators.TextOps.hashedLinearScoreAgainstModel(
        keptDocs, col("id"), col("text"), cls, 0.5)) == kept)
      // the planted cross-batch duplicate never survives (exact dup of a
      // batch-0 doc — dropped by the stored-index stage if its source
      // passed the gates, by the quality gates otherwise)
      assert(!kept(900001L) || !kept(b0.head._1))
      // replay of batch 1 re-derives the identical kept set
      sink(b1.toDF("id", "text"), 1)
      assert(spark.read.parquet(out).select("id")
        .as[Long].collect().toSet == kept)
    } finally { q.stop(); graft.CacheScope.drain() }
  }
}
