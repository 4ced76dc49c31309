package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming surface over the `events` table shape
  * (event_id, ts, user_id, event_type, value, props).
  *
  * The reference has NO streaming capability — Tez is strictly batch; the
  * hooks that would allow pipelined execution are explicitly unsupported
  * (tez-api/.../dag/api/EdgeProperty.java:83-89,102-107). This module is the
  * additive extension of SURVEY.md §2.9: the same aggregations the batch
  * queries declare, re-expressed incrementally with watermarks and state.
  *
  * Scale design: all state is keyed and bounded by watermark eviction;
  * nothing accumulates on the driver. At 100 TB/day the windowed counts
  * shuffle only (window, event_type) partial aggregates, and sessionization
  * state is one small case class per active user.
  *
  * Sinks. Every `foreachBatch` sink here but [[streamingMerge]] (a keyed
  * upsert with its own versioned layout) is built on two combinators over
  * the batch operators: [[outputSink]] runs an operator on the micro-batch
  * and writes its output, [[storeSink]] runs a store operation. Both keep
  * one contract:
  *  - a sink overwrites only its own `batch=<id>` directory, so a batch
  *    replayed after a crash between the sink write and the checkpoint
  *    commit replaces its first attempt instead of appending a duplicate;
  *  - models, indexes and other artifacts a sink reads are read-only to
  *    it, so a replay reads what the first attempt read and re-derives
  *    identical output;
  *  - store batch 0 is the offline build, so stream batch N writes store
  *    batch N + 1, stable across replays, which re-deliver the same N (a
  *    store the stream builds itself, [[dedupIngest]]'s, has no offline
  *    build: its stream batch N is store batch N);
  *  - each batch runs in its own [[graft.CacheScope]] scope, which
  *    releases what the batch's operators persisted when the batch ends,
  *    even if a write throws, and keeps a concurrent query from draining
  *    it mid-batch.
  */
object EventStreams {

  /** A `foreachBatch` function: (micro-batch, stream batch id). */
  type Sink = (Dataset[Row], Long) => Unit

  /** Tumbling event-time counts with late-data handling — the streaming
    * twin of q21_tumbling_window. Append-mode-capable: the watermark closes
    * windows `delay` after the latest seen event time.
    */
  def windowedCounts(events: DataFrame, window_ : String, delay: String): DataFrame =
    events
      .withWatermark("ts", delay)
      .groupBy(window(col("ts"), window_), col("event_type"))
      .agg(count(lit(1)).as("cnt"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("ws"), col("event_type"), col("cnt"), col("sum_value"))

  final case class Event(event_id: Long, ts: Timestamp, user_id: Long,
      event_type: String, value: Double)
  final case class SessionState(start: Long, lastTs: Long, nEvents: Long)
  final case class Session(user_id: Long, session_start: Timestamp,
      session_end: Timestamp, n_events: Long)

  /** Stateful sessionization via flatMapGroupsWithState — the streaming twin
    * of q38_sessionize. A session closes when no event arrives within
    * `gapMs` (enforced by event-time timeout against the watermark), then
    * emits one Session row. Typed keyed state is the Spark form of the
    * reference's arbitrary-Processor extension point (SURVEY §2.10).
    */
  def sessionize(events: Dataset[Event], gapMs: Long, delay: String): Dataset[Session] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", delay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (userId: Long, batch: Iterator[Event], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(Session(userId, new Timestamp(s.start),
              new Timestamp(s.lastTs + gapMs), s.nEvents))
          } else {
            // fold the micro-batch in event-time order, closing sessions at
            // every gap larger than gapMs. The sort materializes ONE
            // (user, micro-batch) group — bounded by events per user per
            // trigger interval, not by stream length; a user hot enough to
            // overflow an executor here needs trigger-interval tuning, not
            // a different operator
            val sorted = batch.toSeq.sortBy(_.ts.getTime)
            var cur = state.getOption
            val closed = Seq.newBuilder[Session]
            for (e <- sorted) {
              val t = e.ts.getTime
              cur match {
                case Some(s) if t - s.lastTs < gapMs =>
                  cur = Some(s.copy(lastTs = t, nEvents = s.nEvents + 1))
                case Some(s) =>
                  closed += Session(userId, new Timestamp(s.start),
                    new Timestamp(s.lastTs + gapMs), s.nEvents)
                  cur = Some(SessionState(t, t, 1))
                case None =>
                  cur = Some(SessionState(t, t, 1))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.lastTs + gapMs)
            }
            closed.result().iterator
          }
      }
  }

  /** Native session_window streaming aggregation — the DECLARATIVE twin
    * of [[sessionize]] (same dual-pin philosophy as the q68/q82 as-of
    * pair: both forms stay tested so a regression in either is caught).
    * Catalyst merges per-key session windows under the gap with state in
    * the state store; append mode emits each session once its window
    * falls behind the watermark. Prefer THIS form whenever the
    * per-session result is expressible as an aggregate (count/sum/min/
    * max/collect) — no user state code, codegen'd aggregation, RocksDB-
    * backed state; drop to flatMapGroupsWithState only for session logic
    * SQL can't express (mid-session emission, cross-session carryover).
    * Output schema matches the batch q38 exactly.
    */
  def sessionizeNative(events: DataFrame, gap: String,
      delay: String): DataFrame =
    events
      .withWatermark("ts", delay)
      .groupBy(session_window(col("ts"), gap).as("sw"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("sw.start").as("session_start"),
        col("sw.end").as("session_end"), col("n_events"))

  /** Streaming OHLC bars — q134's streaming twin: per (user, tumbling
    * window) open/high/low/close where open/close come from the same
    * single-pass struct-min/max the batch form uses (ties broken by
    * event_id — deterministic), running as a watermarked windowed
    * aggregate in append mode. State per open bar is two structs and
    * three scalars; the watermark closes and evicts bars `delay` behind
    * the stream. The time-series reduction every metrics pipeline keeps
    * always-on.
    */
  def ohlcBars(events: DataFrame, window_ : String,
      delay: String): DataFrame =
    events
      .withWatermark("ts", delay)
      .groupBy(window(col("ts"), window_).as("w"), col("user_id"))
      .agg(
        min(struct(col("ts"), col("event_id"), col("value"))).as("o"),
        max(struct(col("ts"), col("event_id"), col("value"))).as("c"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        count(lit(1)).as("n_events"))
      .select(col("user_id"), col("w.start").as("bar_start"),
        col("o.value").as("open"), col("high"), col("low"),
        col("c.value").as("close"), col("n_events"))

  /** Running per-type counters in update mode (no watermark needed) — the
    * smallest useful always-on monitor over the stream.
    */
  def runningTypeCounts(events: DataFrame): DataFrame =
    events.groupBy(col("event_type")).agg(count(lit(1)).as("cnt"))

  final case class Totals(n_events: Long, sum_value: Double)
  final case class UserTotal(user_id: Long, n_events: Long, sum_value: Double)

  /** Per-user running totals on the `transformWithState` (state v2) API —
    * the successor to flatMapGroupsWithState: named typed state cells with
    * per-cell TTL, timers decoupled from output, RocksDB-backed. This is
    * the extension point a long-running 100 TB/day pipeline should target
    * for custom state (TTL evicts dormant keys without hand-rolled timer
    * bookkeeping the way [[sessionize]] must). Requires the RocksDB state
    * store provider.
    */
  class RunningTotalsProcessor
    extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Event, UserTotal] {
    import org.apache.spark.sql.streaming.{TimeMode, TTLConfig}
    @transient private var totals: org.apache.spark.sql.streaming.ValueState[Totals] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      totals = getHandle.getValueState[Totals]("totals",
        org.apache.spark.sql.Encoders.product[Totals], TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[Event],
        timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[UserTotal] = {
      var n = 0L
      var s = 0.0
      rows.foreach { e => n += 1; s += e.value }
      val prev = if (totals.exists()) totals.get() else Totals(0L, 0.0)
      val next = Totals(prev.n_events + n, prev.sum_value + s)
      totals.update(next)
      Iterator.single(UserTotal(key, next.n_events, next.sum_value))
    }
  }

  /** Update-mode per-user totals via [[RunningTotalsProcessor]]. */
  def runningUserTotals(events: Dataset[Event]): Dataset[UserTotal] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .transformWithState(new RunningTotalsProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Update())
  }

  /** Streaming exact dedup: drop events whose `idCol` was already seen,
    * with state bounded by the watermark (late duplicates beyond `delay`
    * age out of the state store — the standard at-least-once → effectively-
    * once repair for replayed sources).
    */
  def dedupStream(events: DataFrame, idCol: String, delay: String): DataFrame =
    events.withWatermark("ts", delay).dropDuplicates(idCol, "ts")

  /** Streaming dedup for retries that re-stamp the event: unlike
    * [[dedupStream]] (exact (id, ts) key), this drops ANY later record with
    * a seen id as long as it arrives within the watermark delay of the
    * first — the at-least-once repair for sources whose replays carry a
    * fresh timestamp (producer retries, reconnect storms). State per id is
    * evicted once the watermark passes its first-seen ts + delay.
    */
  def dedupStreamWithinWatermark(events: DataFrame, idCol: String,
      delay: String): DataFrame =
    events.withWatermark("ts", delay).dropDuplicatesWithinWatermark(idCol)

  /** Stream-stream LEFT OUTER interval join: like [[intervalJoin]] but
    * left rows with no match within the interval are still emitted (null
    * right side) once the right watermark passes the interval's end — the
    * streaming form of "orders with no matching payment in 10 minutes".
    * Both watermarks are mandatory: they bound the buffered state AND
    * decide when an unmatched left row is final.
    */
  def intervalJoinLeftOuter(left: DataFrame, right: DataFrame, key: String,
      delay: String, within: String): DataFrame = {
    val l = left.withWatermark("ts", delay).as("l")
    val r = right.withWatermark("rts", delay).as("r")
    l.join(r,
      col(s"l.$key") === col(s"r.$key") &&
        col("r.rts") >= col("l.ts") &&
        col("r.rts") <= col("l.ts") + expr(s"INTERVAL $within"),
      "left_outer")
  }

  /** Stream-stream interval join: match records of two event streams on a
    * key within a bounded event-time window. Both watermarks + the interval
    * condition bound the buffered state on each side — the streaming twin
    * of the batch equi-join with a time predicate.
    */
  def intervalJoin(left: DataFrame, right: DataFrame, key: String,
      delay: String, within: String): DataFrame = {
    val l = left.withWatermark("ts", delay).as("l")
    val r = right.withWatermark("rts", delay).as("r")
    l.join(r,
      col(s"l.$key") === col(s"r.$key") &&
        col("r.rts") >= col("l.ts") &&
        col("r.rts") <= col("l.ts") + expr(s"INTERVAL $within"))
  }

  /** Stream-static enrichment: join each event against a static dimension
    * (broadcast per micro-batch — the streaming twin of the reference's
    * broadcast edge / FilterLinesByWord payload distribution,
    * tez-tests/.../FilterLinesByWord.java:201).
    */
  def enriched(events: DataFrame, dim: DataFrame, eventKey: String,
      dimKey: String): DataFrame =
    events.join(org.apache.spark.sql.functions.broadcast(dim),
      col(eventKey) === col(dimKey), "left")

  /** CDC-style streaming MERGE: each micro-batch upserts into a keyed
    * parquet table ([[graft.operators.Merge.upsert]] semantics — latest
    * write per key wins; within a batch, the row with the highest `seqCol`
    * per key is taken first so replayed/out-of-order batch contents
    * resolve deterministically). Restart safety comes from the same
    * batchId idempotence as [[outputSink]]: a replayed batch
    * re-derives the same table version (the write goes to a
    * `version=batchId` dir, and readers take the max version).
    *
    * Scale note: each merge shuffles only the batch side (the base is
    * anti-joined via the batch's broadcast key set) but rewrites the base
    * files — the parquet-directory analogue of what table formats with
    * transaction logs do with file-level merge-on-read. For 100 TB bases,
    * partition the table and merge only touched partitions (dynamic
    * partition overwrite, pinned in EngineInfraSpec).
    */
  def streamingMerge(tableDir: String, key: String, seqCol: String): Sink =
    (batch, batchId) => {
      import org.apache.spark.sql.functions._
      val spark = batch.sparkSession
      val fs = new org.apache.hadoop.fs.Path(tableDir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val allVersions = if (fs.exists(new org.apache.hadoop.fs.Path(tableDir)))
        fs.listStatus(new org.apache.hadoop.fs.Path(tableDir))
          .map(_.getPath.getName).filter(_.startsWith("version="))
          .map(_.stripPrefix("version=").toLong)
        else Array.empty[Long]
      // A table is bound to ONE checkpoint lineage: versions key on the
      // streaming batchId, so restarting with a FRESH checkpoint resets
      // batchId to 0 while the table still holds higher versions — the
      // merge would silently ignore them (filter `< batchId` matches
      // none) while mergedTable keeps reading the stale old max. Fail
      // fast instead of forking the version history. (`== batchId` is a
      // legitimate same-checkpoint replay and is overwritten below.)
      require(!allVersions.exists(_ > batchId),
        s"$tableDir has version=${allVersions.max} > batchId=$batchId: " +
          "this table belongs to a different checkpoint lineage; use a " +
          "fresh table dir or restore the original checkpoint")
      val versions = allVersions.filter(_ < batchId)
      // latest row per key within the batch (highest seq, struct-max —
      // O(1) state per key, no window)
      val cols = batch.columns
      val dedup = batch
        .groupBy(col(key))
        .agg(max(struct((col(seqCol) +: cols.filter(c => c != key && c != seqCol)
          .map(col)).toIndexedSeq: _*)).as("__m"))
        .select((col(key) +: (Seq(seqCol) ++ cols.filter(c => c != key && c != seqCol))
          .map(c => col(s"__m.$c").as(c))).toIndexedSeq: _*)
        .select(cols.map(col).toIndexedSeq: _*)
      val merged =
        if (versions.isEmpty) dedup
        else graft.operators.Merge.upsert(
          spark.read.parquet(s"$tableDir/version=${versions.max}"), dedup, key)
      merged.write.mode("overwrite").parquet(s"$tableDir/version=$batchId")
    }

  /** Runs `body` on each micro-batch in its own [[graft.CacheScope]] scope
    * (the per-batch release in the object doc).
    */
  private def perBatch(body: (DataFrame, Long) => Unit): Sink =
    (batch, batchId) => graft.CacheScope.scoped(body(batch.toDF(), batchId))

  /** The one `outDir/batch=<id>` write every output sink makes. */
  private def overwriteBatch(df: DataFrame, outDir: String,
      batchId: Long): Unit =
    df.write.mode("overwrite").parquet(s"$outDir/batch=$batchId")

  /** Output sink: runs `op` on each micro-batch and overwrites
    * `outDir/batch=<id>` with the result. `outputSink(dir)(identity)` is
    * the exactly-once writer for a sink without a transaction log (the
    * JDBC, object-store or custom-sink case the built-in file sink's log
    * does not cover); on a sink with primary keys, swap the overwrite for
    * a keyed upsert ([[streamingMerge]]).
    */
  def outputSink(outDir: String)(op: DataFrame => DataFrame): Sink =
    perBatch((batch, batchId) => overwriteBatch(op(batch), outDir, batchId))

  /** Store sink: runs `op(batch, storeBatch)` on each micro-batch, where
    * stream batch N is store batch N + 1 (store batch 0 is the offline
    * build). A replay re-delivers the same N, so it overwrites the same
    * store batch ([[graft.operators.Compaction]]'s replay-safe ingest).
    */
  def storeSink(op: (DataFrame, Long) => Unit): Sink =
    perBatch((batch, batchId) => op(batch, batchId + 1))

  /** Streaming vector ingestion into a
    * [[graft.operators.Similarity.writeIvfIndexVersioned]] index
    * ([[graft.operators.Similarity.ingestIntoIvfIndex]]).
    */
  def annIngest(indexDir: String): Sink =
    storeSink(graft.operators.Similarity.ingestIntoIvfIndex(_, indexDir, _))

  /** Streaming posting ingestion into a
    * [[graft.operators.Retrieval.writeBm25IndexVersioned]] index
    * ([[graft.operators.Retrieval.ingestIntoBm25Index]]).
    */
  def bm25Ingest(indexDir: String): Sink =
    storeSink(graft.operators.Retrieval.ingestIntoBm25Index(_, indexDir, _))

  /** The full ONLINE curation gate — the streaming twin of q188's offline
    * composition with every model frozen: each micro-batch of (id, text)
    * documents passes the Gopher repetition filter (stateless), the
    * stored reference-LM perplexity gate and the stored trained-classifier
    * gate, then the survivors run [[dedupIngest]]. Filters are narrow maps
    * over the batch; every stage is a pure function of the batch or
    * overwrites its own batch, so the whole sink is replay-idempotent.
    */
  def curationIngest(lmDir: String, clsDir: String, indexDir: String,
      outDir: String,
      maxTopTokFrac: Double, maxTopBigramFrac: Double, minTtr: Double,
      lambda: Double, pplThreshold: Double, clsThreshold: Double,
      n: Int = 3, numHashes: Int = 64, bands: Int = 16,
      threshold: Double = 0.8): Sink =
    perBatch { (batch, batchId) =>
      val docs = batch.select(col("id"), col("text"))
      def keep(scored: DataFrame): DataFrame =
        scored.filter(col("keep")).select(col("id"))
      val f1 = docs.join(keep(graft.operators.TextOps.repetitionFilter(
        docs, col("id"), col("text"),
        maxTopTokFrac, maxTopBigramFrac, minTtr)), Seq("id"), "left_semi")
      val f2 = f1.join(keep(graft.operators.TextOps.lmScoreAgainstModel(
        f1, col("id"), col("text"), lmDir, lambda, pplThreshold)),
        Seq("id"), "left_semi")
      val f3 = f2.join(keep(graft.operators.TextOps
        .hashedLinearScoreAgainstModel(f2, col("id"), col("text"), clsDir,
          clsThreshold)), Seq("id"), "left_semi")
      dedupIngest(indexDir, outDir, n, numHashes, bands, threshold)(
        f3, batchId)
    }

  /** Streaming incremental clustering — q219's maintained CC labels kept
    * fresh online: each micro-batch of (id, text) documents (1) derives
    * its verified near-dup pairs, within itself and against the store
    * batches before its own
    * ([[graft.operators.Dedup.nearDupPairsAgainstIndex]]), (2) ingests
    * its own views into the corpus index, and (3) ingests ids + pairs
    * into the CC label store. Pair derivation and the label ingest both
    * resolve against the pre-batch state, so a replay converges.
    * Downstream leakage-safe ops read
    * [[graft.operators.Dedup.ccLabelsResolved]] at any point and see a
    * labeling consistent with everything ingested so far.
    */
  def ccLabelIngest(indexDir: String, ccDir: String, n: Int = 3,
      numHashes: Int = 64, bands: Int = 16, threshold: Double = 0.8): Sink =
    storeSink { (docs, b) =>
      // eager checkpoint: the pair plan scans the index views the corpus
      // ingest below is about to extend; beforeBatch already excludes the
      // batch's own rows, but materializing first also spares the cc
      // ingest a recomputation of the whole LSH pipeline
      val pairs = graft.operators.Dedup.nearDupPairsAgainstIndex(
        docs, indexDir, n, numHashes, bands, threshold,
        beforeBatch = Some(b)).localCheckpoint(true)
      graft.operators.Dedup.ingestIntoCorpusIndex(docs, indexDir, b, n,
        numHashes, bands)
      graft.operators.Dedup.ingestIntoCcLabels(docs.select(col("id")),
        pairs, ccDir, b)
    }

  /** Streaming IMAGE dedup-on-arrival over the stored aHash index: each
    * micro-batch of (id, media) images is fingerprinted ONCE (real
    * decode, [[graft.operators.Multimodal.decodeImageAHash]]),
    * deduplicated within the batch (drop any image whose fingerprint
    * matches a LOWER id within the store's frozen hamming radius), probed
    * against the store batches before its own, and reported under
    * `outDir/batch=<id>` as (id, ah_hi, ah_lo, n_store_dups, kept). Kept
    * fingerprints ingest into the store. Undecodable payloads report null
    * fingerprints and kept = false (quarantine, never silently indexed).
    * Band geometry comes from the store's frozen `params/`, so the stream
    * cannot drift from the build.
    */
  def imageAHashIngest(indexDir: String, outDir: String): Sink =
    (batch, batchId) => storeSink { (images, b) =>
      import graft.CacheScope.ScopedPersist
      val (maxHamming, _) =
        graft.operators.Dedup.ahashParams(images.sparkSession, indexDir)
      val fps = graft.operators.Multimodal.decodeImageAHash(
          images.select(col("id"), col("media")), "media")
        .select(col("id"), col("ah_hi"), col("ah_lo"))
        .persistScoped() // within-batch pairs + probe + report + ingest
      // within-batch: drop any image matching a lower id (keep-lowest)
      val withinDrops = graft.operators.Dedup.ahashPairs(fps, maxHamming)
        .select(col("id_b").as("id")).distinct()
      val storeDups = graft.operators.Dedup
        .ahashAgainstIndex(fps, indexDir, beforeBatch = Some(b))
        .groupBy(col("id")).agg(count(lit(1)).as("n_store_dups"))
      val report = fps
        .join(storeDups, Seq("id"), "left")
        .join(withinDrops.withColumn("__wd", lit(true)), Seq("id"), "left")
        .select(col("id"), col("ah_hi"), col("ah_lo"),
          coalesce(col("n_store_dups"), lit(0L)).as("n_store_dups"),
          (col("ah_hi").isNotNull && col("__wd").isNull &&
            coalesce(col("n_store_dups"), lit(0L)) === 0).as("kept"))
        .persistScoped()
      overwriteBatch(report, outDir, batchId)
      graft.operators.Dedup.ingestIntoAHashIndex(
        report.filter(col("kept")).select(col("id"), col("ah_hi"), col("ah_lo")),
        indexDir, b)
    }(batch, batchId)

  /** Streaming ingestion dedup — the production corpus-ingest loop: each
    * micro-batch of (id, text) documents is (1) deduplicated WITHIN the
    * batch (exact + MinHash-LSH near-dup, keep-lowest-id), (2)
    * deduplicated against the corpus index's batches before its own, (3)
    * written to `outDir/batch=<id>`, and (4) written into the index as its
    * own store batch so later batches see it
    * ([[graft.operators.Dedup.writeCorpusIndexBatch]]). This sink's first
    * stream batch IS the store's build, so stream batch N is store batch
    * N, not N + 1. Per-batch cost is proportional to the batch (index
    * probes are partition-pruned scans); the corpus is never recomputed.
    *
    * Why the index is batch-versioned: a replayed batch probes exactly
    * what the first attempt probed (its own half-written entries are
    * invisible) and re-derives the identical kept set; an unversioned
    * append-then-probe loop would see its own first-attempt entries on
    * replay and drop the whole batch as duplicates.
    */
  def dedupIngest(indexDir: String, outDir: String, n: Int = 3,
      numHashes: Int = 64, bands: Int = 16, threshold: Double = 0.8): Sink =
    perBatch { (batch, batchId) =>
      import graft.CacheScope.ScopedPersist
      import graft.operators.{Compaction, Dedup}
      val withinBatch = Dedup
        .dedupCorpus(batch.select(col("id"), col("text")), n, numHashes,
          bands, threshold)
        .select(col("id"), col("text"))
      val prior = Compaction.batchIds(batch.sparkSession, indexDir, "hashes")
        .exists(_ < batchId)
      val kept = (if (prior)
          Dedup.dedupAgainstIndex(withinBatch, indexDir, n, numHashes, bands,
            threshold, beforeBatch = Some(batchId))
            .select(col("id"), col("text"))
        else withinBatch)
        .persistScoped() // the output and three index views
      overwriteBatch(kept, outDir, batchId)
      Dedup.writeCorpusIndexBatch(kept, indexDir, batchId, n, numHashes,
        bands)
    }

  /** Read the current state of a [[streamingMerge]] table. */
  def mergedTable(spark: org.apache.spark.sql.SparkSession, tableDir: String)
      : org.apache.spark.sql.DataFrame = {
    val fs = new org.apache.hadoop.fs.Path(tableDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val versions = fs.listStatus(new org.apache.hadoop.fs.Path(tableDir))
      .map(_.getPath.getName).filter(_.startsWith("version="))
      .map(_.stripPrefix("version=").toLong)
    require(versions.nonEmpty, s"no versions under $tableDir")
    spark.read.parquet(s"$tableDir/version=${versions.max}")
  }

  /** Time travel over a [[streamingMerge]] table: the state as of batch
    * `version` — i.e. the LARGEST materialized version ≤ the request
    * (versions are checkpointed batch ids, so gaps are normal: a batch
    * that arrived empty writes nothing). Every version is a full
    * snapshot, so this is one partition-pruned read, no log replay.
    */
  def mergedTableAsOf(spark: org.apache.spark.sql.SparkSession,
      tableDir: String, version: Long): org.apache.spark.sql.DataFrame = {
    val fs = new org.apache.hadoop.fs.Path(tableDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val versions = fs.listStatus(new org.apache.hadoop.fs.Path(tableDir))
      .map(_.getPath.getName).filter(_.startsWith("version="))
      .map(_.stripPrefix("version=").toLong).filter(_ <= version)
    require(versions.nonEmpty,
      s"no version <= $version under $tableDir (earliest retained is later)")
    spark.read.parquet(s"$tableDir/version=${versions.max}")
  }
}
