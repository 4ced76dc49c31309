package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}
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
  */
object EventStreams {

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

  /** foreachBatch writer that stays exactly-once on a sink WITHOUT a
    * transaction log (the JDBC/object-store/custom-sink case the built-in
    * file sink's log doesn't cover): each micro-batch lands in a
    * deterministic `batch=<id>` location with overwrite semantics, so a
    * replayed batch — after a crash between the sink write and the
    * checkpoint commit — overwrites its own previous attempt instead of
    * appending a duplicate. The (batchId → same location, idempotent
    * write) pair is the general recipe; swap the parquet write for a
    * keyed MERGE/upsert on sinks with primary keys.
    */
  def idempotentBatchWriter(outDir: String): (org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], Long) => Unit =
    (batch, batchId) =>
      batch.write.mode("overwrite").parquet(s"$outDir/batch=$batchId")

  /** CDC-style streaming MERGE: each micro-batch upserts into a keyed
    * parquet table ([[graft.operators.Merge.upsert]] semantics — latest
    * write per key wins; within a batch, the row with the highest `seqCol`
    * per key is taken first so replayed/out-of-order batch contents
    * resolve deterministically). Restart safety comes from the same
    * batchId idempotence as [[idempotentBatchWriter]]: a replayed batch
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
  def streamingMerge(tableDir: String, key: String, seqCol: String)
      : (org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], Long) => Unit =
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

  /** Streaming ANN retrieval — the online serving loop for a stored
    * [[graft.operators.Similarity.writeIvfIndex]] index as a foreachBatch
    * sink: each micro-batch of (q_id, q_vec) query vectors probes the
    * stored centroids + cell-partitioned inverted lists
    * ([[graft.operators.Similarity.ivfTopKAgainstIndex]] — broadcast
    * batch × tiny centroids, dynamic-partition-pruned lists scan) and
    * writes per-query top-k to `outDir/batch=<id>` (idempotent
    * overwrite — a replayed batch probes a read-only index and re-derives
    * identical results). Per-batch cost ∝ batch; the index is shared with
    * the batch path, so offline build / online probe is ONE codebase.
    */
  def annProbeIngest(indexDir: String, outDir: String, nProbe: Int, k: Int)
      : (org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], Long) => Unit =
    (batch, batchId) => graft.CacheScope.scoped {
      graft.operators.Similarity
        .ivfTopKAgainstIndex(batch.toDF(), indexDir, nProbe, k)
        .write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
    }

  /** Streaming ANN index ingestion — the replay-safe producer loop for a
    * [[graft.operators.Similarity.writeIvfIndexVersioned]] index as a
    * foreachBatch sink: each micro-batch of (vec_id, embedding) vectors is
    * assigned against the frozen stored centroids and OVERWRITES its own
    * `lists/batch=<id>` partition
    * ([[graft.operators.Similarity.ingestIntoIvfIndex]]), so a
    * crash-replayed batch converges to identical index contents instead
    * of duplicating its vectors — the same batch-versioned idempotence as
    * [[dedupIngest]]'s index writes. Streaming batchIds start at 0 but
    * batch 0 of the layout is the offline build, so the sink writes
    * streaming batch N to `batch=N+1` (stable across replays, which
    * re-deliver the same N). Per-batch cost ∝ batch; probes
    * ([[annProbeIngest]] / the batch path) see each batch as soon as its
    * partition lands.
    */
  def annIngest(indexDir: String)
      : (org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], Long) => Unit =
    (batch, batchId) => graft.CacheScope.scoped {
      graft.operators.Similarity
        .ingestIntoIvfIndex(batch.toDF(), indexDir, batchId + 1)
    }

  /** Streaming PQ-ANN serving — [[annProbeIngest]] over the COMPRESSED
    * index: each micro-batch of (q_id, q_vec) queries probes a stored
    * [[graft.operators.Similarity.writeIvfIndexPQ]] index (cell-pruned
    * codes scan + ADC + bounded exact re-rank) and writes per-query top-k
    * to `outDir/batch=<id>` (idempotent overwrite over a read-only
    * index). The serving path this layout exists for: the scanned codes
    * are ~dim·4/M smaller than raw lists, so the per-batch probe stays
    * memory-resident at corpus sizes where raw lists spill.
    */
  def pqProbeIngest(indexDir: String, outDir: String, nProbe: Int, k: Int,
      shortlist: Int = 50)
      : (org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], Long) => Unit =
    (batch, batchId) => graft.CacheScope.scoped {
      graft.operators.Similarity
        .ivfTopKAgainstIndexPQ(batch.toDF(), indexDir, nProbe, k, shortlist)
        .write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
    }

  /** Streaming PQ-ANN index ingestion — [[annIngest]] over the compressed
    * layout: each micro-batch encodes against the FROZEN stored
    * centroids + codebooks and OVERWRITES its own codes/vectors batch
    * partitions ([[graft.operators.Similarity.ingestIntoIvfIndexPQ]]) —
    * replay-safe for the same reason, with the same batch-numbering
    * shift (streaming batch N → layout batch N+1; batch 0 is the build).
    */
  def pqIngest(indexDir: String)
      : (org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], Long) => Unit =
    (batch, batchId) => graft.CacheScope.scoped {
      graft.operators.Similarity
        .ingestIntoIvfIndexPQ(batch.toDF(), indexDir, batchId + 1)
    }

  /** [[pqProbeIngest]] over the RESIDUAL layout
    * ([[graft.operators.Similarity.writeIvfIndexPQR]]) — same serving
    * contract, residual ADC + exact stored norms underneath.
    */
  def pqrProbeIngest(indexDir: String, outDir: String, nProbe: Int, k: Int,
      shortlist: Int = 50)
      : (org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], Long) => Unit =
    (batch, batchId) => graft.CacheScope.scoped {
      graft.operators.Similarity
        .ivfTopKAgainstIndexPQR(batch.toDF(), indexDir, nProbe, k, shortlist)
        .write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
    }

  /** [[pqIngest]] over the residual layout — frozen centroids + frozen
    * residual codebooks, exact norms at encode time, replay-convergent
    * own-partition overwrites
    * ([[graft.operators.Similarity.ingestIntoIvfIndexPQR]]).
    */
  def pqrIngest(indexDir: String)
      : (org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], Long) => Unit =
    (batch, batchId) => graft.CacheScope.scoped {
      graft.operators.Similarity
        .ingestIntoIvfIndexPQR(batch.toDF(), indexDir, batchId + 1)
    }

  /** [[pqProbeIngest]] over the SQ8 layout — per-dim affine
    * reconstruction in place of the codebook LUT, same read-only
    * idempotent serving contract
    * ([[graft.operators.Similarity.ivfTopKAgainstIndexSQ]]).
    */
  def sqProbeIngest(indexDir: String, outDir: String, nProbe: Int, k: Int,
      shortlist: Int = 50)
      : (org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], Long) => Unit =
    (batch, batchId) => graft.CacheScope.scoped {
      graft.operators.Similarity
        .ivfTopKAgainstIndexSQ(batch.toDF(), indexDir, nProbe, k, shortlist)
        .write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
    }

  /** [[pqIngest]] over the SQ8 layout — frozen centroids + frozen
    * quantizer stats, replay-convergent own-partition overwrites
    * ([[graft.operators.Similarity.ingestIntoIvfIndexSQ]]).
    */
  def sqIngest(indexDir: String)
      : (org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], Long) => Unit =
    (batch, batchId) => graft.CacheScope.scoped {
      graft.operators.Similarity
        .ingestIntoIvfIndexSQ(batch.toDF(), indexDir, batchId + 1)
    }

  /** Streaming BM25 retrieval — [[annProbeIngest]]'s lexical twin: each
    * micro-batch of (q_id, term) query bags probes a stored
    * [[graft.operators.Retrieval.writeBm25Index]] posting index
    * (broadcast batch, bucket-directory-pruned lists scan) and writes
    * per-query top-k to `outDir/batch=<id>` (idempotent overwrite — a
    * replayed batch probes a read-only index and re-derives identical
    * results). Per-batch cost ∝ Σ df(batch's terms); offline build /
    * online probe is ONE codebase.
    */
  def bm25ProbeIngest(indexDir: String, outDir: String, k: Int)
      : (org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], Long) => Unit =
    (batch, batchId) => graft.CacheScope.scoped {
      graft.operators.Retrieval
        .bm25AgainstIndex(batch.toDF(), indexDir, k)
        .write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
    }

  /** Streaming quality filtering against a STORED LM
    * ([[graft.operators.TextOps.writeLmModel]]): each micro-batch of
    * (doc_id, text) documents is perplexity-scored against the frozen
    * model artifact and its per-doc report (id, n_bigrams, h, ppl, keep)
    * written to `outDir/batch=<id>` (idempotent overwrite — the model is
    * read-only to the serving path, so a replayed batch re-derives
    * identical scores). The online form of the q175/q176 filter: the
    * model never adapts to the stream it is filtering, per-batch cost is
    * the batch's own explode + broadcast joins.
    */
  def lmScoreIngest(modelDir: String, outDir: String, lambda: Double,
      pplThreshold: Double)
      : (org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], Long) => Unit =
    (batch, batchId) => graft.CacheScope.scoped {
      import org.apache.spark.sql.functions.col
      graft.operators.TextOps.lmScoreAgainstModel(batch.toDF(),
          col("doc_id"), col("text"), modelDir, lambda, pplThreshold)
        .write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
    }

  /** Streaming quality-classifier serving — [[lmScoreIngest]]'s sibling
    * over a stored [[graft.operators.TextOps.writeLinearModel]] artifact
    * (the q179 trained model): each micro-batch of (doc_id, text) scores
    * against the FROZEN one-row model (loaded driver-side, riding as
    * expression data — scoring stays a zero-shuffle narrow map) and
    * writes its keep/drop report under `batch=<id>` — overwrite mode, so
    * a crash-replayed batch re-derives the identical report
    * (idempotent). The model never retrains online: quality drift is a
    * retrain-and-swap, not an in-stream update.
    */
  def clsScoreIngest(modelDir: String, outDir: String, threshold: Double)
      : (org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], Long) => Unit =
    (batch, batchId) => graft.CacheScope.scoped {
      import org.apache.spark.sql.functions.col
      graft.operators.TextOps.hashedLinearScoreAgainstModel(batch.toDF(),
          col("doc_id"), col("text"), modelDir, threshold)
        .write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
    }

  /** Streaming kNN-label serving —
    * [[graft.operators.Graph.labelPropagation]]'s online twin
    * ([[clsScoreIngest]]'s shape over a vector stream): each micro-batch
    * of (q_id, q_vec) vectors classifies against a FROZEN labeling
    * artifact + stored ANN index
    * ([[graft.operators.Graph.knnClassifyAgainstIndex]] — cell-pruned
    * probe, one bounded hash join, struct-max plurality) and writes its
    * (q_id, label, votes) report under `batch=<id>` — overwrite mode, so
    * a crash-replayed batch re-derives the identical report over the
    * read-only index + labeling (idempotent). Labels never update
    * online: label drift is a relabel-and-swap, the stored-model
    * discipline of [[lmScoreIngest]]/[[clsScoreIngest]].
    */
  def knnLabelIngest(indexDir: String, labelsDir: String, outDir: String,
      nProbe: Int, k: Int)
      : (org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], Long) => Unit =
    (batch, batchId) => graft.CacheScope.scoped {
      graft.operators.Graph
        .knnClassifyAgainstIndex(batch.toDF(), indexDir, labelsDir, nProbe, k)
        .write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
    }

  /** Streaming head/middle/tail bucketing —
    * [[graft.operators.TextOps.perplexityPartition]]'s serving form
    * ([[lmScoreIngest]]'s sibling with a second frozen artifact): each
    * micro-batch of (id, text, group) documents scores against the
    * stored reference LM and buckets against the stored tercile
    * boundaries ([[graft.operators.TextOps.pplBucketAgainstBoundaries]])
    * — both artifacts frozen (recomputing terciles per batch would make
    * a doc's bucket depend on its batch-mates), reports under
    * `batch=<id>`, overwrite mode, replay-idempotent.
    */
  def pplBucketIngest(lmDir: String, boundsDir: String, outDir: String,
      lambda: Double)
      : (org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], Long) => Unit =
    (batch, batchId) => graft.CacheScope.scoped {
      import org.apache.spark.sql.functions.col
      graft.operators.TextOps.pplBucketAgainstBoundaries(batch.toDF(),
          col("id"), col("text"), col("group"), lmDir, boundsDir, lambda)
        .write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
    }

  /** Streaming CountMin maintenance — the sketch the telemetry loop keeps
    * when exact per-key aggregation is too wide: each micro-batch's OWN
    * d×w sketch overwrites `cells/batch=<id>`
    * ([[graft.operators.Sketches.ingestIntoCountMin]]); CountMin's
    * LINEARITY means the store's cell-wise sum always equals a one-shot
    * sketch of everything ever ingested, so probes
    * ([[graft.operators.Sketches.countMinEstimateAgainstStore]]) need no
    * coordination with producers and a crash-replayed batch converges to
    * identical cells (the index families' replay contract). Same batch
    * numbering shift as [[annIngest]]: streaming batch N lands in layout
    * batch N+1 (batch 0 is the offline build).
    */
  def countMinIngest(dir: String, keyCol: String)
      : (org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], Long) => Unit =
    (batch, batchId) => graft.CacheScope.scoped {
      graft.operators.Sketches.ingestIntoCountMin(batch.toDF(),
        org.apache.spark.sql.functions.col(keyCol), dir, batchId + 1)
    }

  /** The full ONLINE curation gate — the round-7–10 quality surface as
    * ONE foreachBatch sink, the streaming twin of q188's offline
    * composition with every model FROZEN (the stored-artifact
    * discipline): each micro-batch of (id, text) documents passes the
    * Gopher repetition filter (stateless), the stored reference-LM
    * perplexity gate, and the stored trained-classifier gate, then the
    * survivors run the replay-safe dedup-index stage ([[dedupIngest]]'s
    * body verbatim: within-batch dedup, dedup against all PRIOR batches
    * of the stored index, extend the index, write the kept docs under
    * `outDir/batch=<id>`). Filters are narrow maps over the batch;
    * models never retrain online (drift is a retrain-and-swap); the
    * whole sink is replay-idempotent because every stage either is a
    * pure function of the batch or overwrites its own batch partition.
    */
  def curationIngest(lmDir: String, clsDir: String, indexDir: String,
      outDir: String,
      maxTopTokFrac: Double, maxTopBigramFrac: Double, minTtr: Double,
      lambda: Double, pplThreshold: Double, clsThreshold: Double,
      n: Int = 3, numHashes: Int = 64, bands: Int = 16,
      threshold: Double = 0.8)
      : (org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], Long) => Unit =
    (batch, batchId) => graft.CacheScope.scoped {
      import org.apache.spark.sql.functions.col
      val docs = batch.toDF().select(col("id"), col("text"))
      def keep(scored: org.apache.spark.sql.DataFrame)
          : org.apache.spark.sql.DataFrame =
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

  /** Streaming dedup-index ingestion — [[bm25Ingest]]'s dedup sibling
    * over a [[graft.operators.Dedup.writeCorpusIndexVersioned]] index:
    * each micro-batch of (id, text) documents OVERWRITES its own batch
    * partitions of the three views (hashes/bands/shingles), so a
    * crash-replayed batch converges to identical index contents. Same
    * batch-numbering shift as [[annIngest]]: streaming batch N lands in
    * layout batch N+1 (batch 0 is the offline build). The producer's
    * maintenance tick consults
    * [[graft.operators.Dedup.compactCorpusIndexIfNeeded]] AFTER its
    * checkpoint commits (the [[graft.operators.Compaction]] store's
    * replay-horizon contract).
    */
  def corpusIndexIngest(indexDir: String, n: Int = 3, numHashes: Int = 64,
      bands: Int = 16)
      : (org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], Long) => Unit =
    (batch, batchId) => graft.CacheScope.scoped {
      graft.operators.Dedup.ingestIntoCorpusIndex(batch.toDF(), indexDir,
        batchId + 1, n, numHashes, bands)
    }

  /** Streaming BM25 index ingestion — [[annIngest]]'s lexical twin over a
    * [[graft.operators.Retrieval.writeBm25IndexVersioned]] index: each
    * micro-batch of (id, term, tf, dl) postings OVERWRITES its own
    * `lists/batch=<id>` and `stats/batch=<id>` partitions
    * ([[graft.operators.Retrieval.ingestIntoBm25Index]]), so a
    * crash-replayed batch converges to identical index contents. Same
    * batch-numbering shift as [[annIngest]]: streaming batch N lands in
    * layout batch N+1 (batch 0 is the offline build). df and corpus stats
    * need no freezing — probes derive both from the postings, so later
    * probes see every ingested batch exactly.
    */
  def bm25Ingest(indexDir: String)
      : (org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], Long) => Unit =
    (batch, batchId) => graft.CacheScope.scoped {
      graft.operators.Retrieval
        .ingestIntoBm25Index(batch.toDF(), indexDir, batchId + 1)
    }

  /** Streaming right-to-be-forgotten — DELETION REQUESTS as a stream:
    * each micro-batch of doc ids (one column `id`) is physically deleted
    * from the stored BM25 index
    * ([[graft.operators.Retrieval.deleteFromBm25Index]]: anti-join
    * rewrite + exact stats recount under the atomic epoch swap). No
    * batch versioning is needed for replay safety here: deletion is
    * IDEMPOTENT — a crash-replayed batch anti-joins ids that are
    * already gone and rewrites the index to the same contents (the
    * spec-pinned no-op rewrite). Each delete is an index-sized rewrite
    * (the compaction cost envelope), so production pipelines batch
    * requests with a coarse trigger (GDPR allows erasure within days,
    * not milliseconds) — one rewrite per window, not per request.
    */
  def bm25DeleteIngest(indexDir: String)
      : (org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], Long) => Unit =
    (batch, _) => graft.CacheScope.scoped {
      graft.operators.Retrieval
        .deleteFromBm25Index(batch.sparkSession, indexDir, batch.toDF())
    }

  /** [[bm25DeleteIngest]] for the vector side: micro-batches of vec ids
    * (one column `vec_id`) delete from a stored IVF index
    * ([[graft.operators.Similarity.deleteFromIvfIndex]]). Same
    * idempotent-replay and batch-the-requests contract.
    */
  def annDeleteIngest(indexDir: String)
      : (org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], Long) => Unit =
    (batch, _) => graft.CacheScope.scoped {
      graft.operators.Similarity
        .deleteFromIvfIndex(batch.sparkSession, indexDir, batch.toDF())
    }

  /** Streaming HYBRID retrieval — both stored indexes behind one sink:
    * each micro-batch of (q_id, terms, q_vec) queries probes the BM25
    * posting index (bucket-pruned) AND the IVF vector index (cell-pruned),
    * fuses the two top-k lists with reciprocal rank fusion
    * ([[graft.operators.Retrieval.rrfFuse2]]) and writes per-query fused
    * top-k to `outDir/batch=<id>` (idempotent overwrite; both indexes are
    * read-only to the serving path, so replays re-derive identical
    * results). The q158 composition as an online service — per-batch cost
    * is the two pruned probes; the fusion is free.
    */
  def hybridProbeIngest(bm25Dir: String, ivfDir: String, outDir: String,
      nProbe: Int, k: Int, rrfK: Int = 60)
      : (org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], Long) => Unit =
    (batch, batchId) => graft.CacheScope.scoped {
      import org.apache.spark.sql.functions.{col, explode}
      val b = batch.toDF()
      val lex = graft.operators.Retrieval.bm25AgainstIndex(
          b.select(col("q_id"), explode(col("terms")).as("term")), bm25Dir, k)
        .select(col("q_id"), col("doc_id"), col("rnk"))
      val vec = graft.operators.Similarity.ivfTopKAgainstIndex(
          b.select(col("q_id"), col("q_vec")), ivfDir, nProbe, k)
        .select(col("q_id"), col("vec_id").as("doc_id"), col("rnk"))
      graft.operators.Retrieval.rrfFuse2(lex, vec, k, rrfK)
        .write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
    }

  /** Streaming data-quality gate — [[graft.operators.Expectations]] as a
    * foreachBatch sink: every micro-batch is checked against the contract
    * rules in ONE aggregation pass and its per-rule report written to
    * `outDir/batch=<id>` (idempotent overwrite — a replayed batch
    * re-derives the identical report). The per-batch reports are the
    * monitoring series a pipeline alerts on; the batch path (q161) is the
    * same rule compiler, so offline contract and online monitor are ONE
    * rule set.
    */
  def expectationsIngest(rules: Seq[graft.operators.Expectations.Rule],
      outDir: String)
      : (org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], Long) => Unit =
    (batch, batchId) => graft.CacheScope.scoped {
      graft.operators.Expectations.check(batch.toDF(), rules)
        .write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
    }

  /** Streaming unigram tokenization — the serving twin of the stored
    * unigram-LM tokenizer artifact (q204): each micro-batch of (id, text)
    * documents tokenizes its words through the FROZEN stored piece table
    * ([[graft.operators.Unigram.loadModel]] once per batch — a bounded
    * model read, the lmScoreIngest pattern) and writes per-doc
    * (id, n_tokens) under `batch=<id>` — overwrite mode,
    * replay-idempotent. Unknown characters segment at the unk floor, so
    * serving never fails on unseen text.
    */
  def unigramTokenizeIngest(modelDir: String, outDir: String)
      : (org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], Long) => Unit =
    (batch, batchId) => graft.CacheScope.scoped {
      import org.apache.spark.sql.functions.{col, explode, expr, size, sum}
      val spark = batch.sparkSession
      val model = graft.operators.Unigram.loadModel(spark, modelDir)
      // per-WORD tokenization once (distinct words of the batch), then one
      // join from the exploded docs — the q205 cost shape at batch scale
      val words = batch.select(explode(expr(
        "filter(split(lower(text), '\\\\s+'), x -> length(x) > 0)")).as("w"))
        .distinct()
      val wt = graft.operators.Unigram.tokenize(words, model)
        .select(col("w"), size(col("toks")).cast("long").as("nt"))
      batch.select(col("id"), explode(expr(
        "filter(split(lower(text), '\\\\s+'), x -> length(x) > 0)")).as("w"))
        .join(wt, Seq("w"))
        .groupBy(col("id")).agg(sum(col("nt")).as("n_tokens"))
        .write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
    }

  /** Streaming packed-shard export — q218's online form: each
    * micro-batch of (id, text) documents tokenizes against the FROZEN
    * stored byte-level BPE artifact (the q181 model) and packs into
    * budget-sized bins WITHIN THE BATCH, written under `batch=<id>`.
    * Packing is inherently a batch decision (bins are contiguous token
    * ranges), so the streaming contract is per-batch bins — each batch's
    * shards are final the moment it commits, trainers consume closed
    * batches; only each batch's LAST bin per source may be short.
    * Replay-idempotent: tokenization and packing are pure functions of
    * the batch + the frozen model.
    */
  def packShardsIngest(bpeModelDir: String, outDir: String, budget: Long)
      : (org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], Long) => Unit =
    (batch, batchId) => graft.CacheScope.scoped {
      import org.apache.spark.sql.functions._
      val spark = batch.sparkSession
      val merges = graft.operators.TextOps.loadBpeMerges(spark, bpeModelDir)
      val dw = batch.toDF().select(col("source"), col("id"),
        posexplode(regexp_extract_all(lower(col("text")),
          lit(graft.operators.TextOps.byteLevelTokenPattern), lit(0)))
          .as(Seq("pos", "w")))
      val wt = dw.select(col("w")).distinct()
        .select(col("w"),
          graft.functions.bpe_encode(col("w"), merges, byteLevel = true)
            .as("toks"))
      val dt = dw.join(wt, Seq("w"))
        .groupBy(col("source"), col("id"))
        .agg(expr(
          "flatten(transform(sort_array(collect_list(struct(pos, toks))), x -> x.toks))")
          .as("toks"))
      graft.operators.Curation.packShards(dt, col("source"), col("id"),
        col("toks"), budget, partitions = 32)
        .write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
    }

  /** Streaming TOKEN-ID shard export — [[packShardsIngest]]'s
    * loader-facing twin (the q226 artifact online): each micro-batch
    * tokenizes through the FROZEN stored BPE model, maps pieces through
    * the FROZEN stored (piece → id) vocabulary
    * ([[graft.operators.TextOps.loadBpeVocabIds]] — OOV raises), packs
    * with [[graft.operators.Curation.packShardIds]] and writes the
    * per-(source, bin) INT id arrays + decimal-stream md5 under
    * `batch=<id>` — overwrite mode, replay-idempotent. Bins are
    * batch-local (shard assembly is per-export-unit by design — a
    * trainer consumes whole shard files, never cross-batch splices).
    */
  def packShardIdsIngest(bpeModelDir: String, vocabIdsDir: String,
      outDir: String, budget: Long)
      : (org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], Long) => Unit =
    (batch, batchId) => graft.CacheScope.scoped {
      import org.apache.spark.sql.functions._
      val spark = batch.sparkSession
      val merges = graft.operators.TextOps.loadBpeMerges(spark, bpeModelDir)
      val vocab = graft.operators.TextOps.loadBpeVocabIds(spark, vocabIdsDir)
      val dw = batch.toDF().select(col("source"), col("id"),
        posexplode(regexp_extract_all(lower(col("text")),
          lit(graft.operators.TextOps.byteLevelTokenPattern), lit(0)))
          .as(Seq("pos", "w")))
      val wt = dw.select(col("w")).distinct()
        .select(col("w"),
          graft.functions.bpe_encode(col("w"), merges, byteLevel = true)
            .as("toks"))
      val dt = dw.join(wt, Seq("w"))
        .groupBy(col("source"), col("id"))
        .agg(expr(
          "flatten(transform(sort_array(collect_list(struct(pos, toks))), x -> x.toks))")
          .as("toks"))
      graft.operators.Curation.packShardIds(dt, col("source"), col("id"),
        col("toks"), vocab, budget, partitions = 32)
        .write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
    }

  /** Streaming incremental clustering — q219's maintained CC labels kept
    * fresh online (the [[dedupIngest]] companion): each micro-batch of
    * (id, text) documents (1) derives its verified near-dup pairs —
    * within itself plus against batches < b of the stored corpus index
    * ([[graft.operators.Dedup.nearDupPairsAgainstIndex]]), (2) extends
    * the corpus index with its own views, and (3) ingests ids + pairs
    * into the CC label store (quotient-graph CC + remap merge events).
    * Replay-convergent END TO END: pair derivation and the label ingest
    * both resolve against the PRE-batch state, and every write
    * overwrites its own batch partition. Downstream leakage-safe ops
    * (split/contrastive batches/rep selection) read
    * [[graft.operators.Dedup.ccLabelsResolved]] at any point and see a
    * labeling consistent with everything ingested so far.
    */
  def ccLabelIngest(indexDir: String, ccDir: String, n: Int = 3,
      numHashes: Int = 64, bands: Int = 16, threshold: Double = 0.8)
      : (org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], Long) => Unit =
    (batch, batchId) => graft.CacheScope.scoped {
      import org.apache.spark.sql.functions.col
      val b = batchId + 1
      val docs = batch.toDF()
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

  /** Streaming IMAGE dedup-on-arrival — [[dedupIngest]]'s image twin over
    * the stored aHash index: each micro-batch of (id, media) images is
    * fingerprinted ONCE (real decode,
    * [[graft.operators.Multimodal.decodeImageAHash]]), deduplicated
    * within the batch (drop any image whose fingerprint matches a LOWER
    * id within the store's frozen hamming radius), probed against
    * strictly OLDER store batches (`beforeBatch` — a crash-replayed
    * batch probes exactly what the first attempt probed, its own
    * half-written entries invisible), and reported under
    * `outDir/batch=<id>` as (id, ah_hi, ah_lo, n_store_dups, kept).
    * Kept fingerprints ingest into the store under batch=<id+1>
    * (batch 0 is the build); undecodable payloads report null
    * fingerprints and kept = false (quarantine, never silently
    * indexed). Band geometry comes from the store's frozen `params/`,
    * so the stream cannot drift from the build. Overwrite mode
    * everywhere — replay-idempotent.
    */
  def imageAHashIngest(indexDir: String, outDir: String)
      : (org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], Long) => Unit =
    (batch, batchId) => graft.CacheScope.scoped {
      import org.apache.spark.sql.functions.{coalesce, col, count, lit}
      import graft.CacheScope.ScopedPersist
      val spark = batch.sparkSession
      val b = batchId + 1
      val (maxHamming, _) = graft.operators.Dedup.ahashParams(spark, indexDir)
      val fps = graft.operators.Multimodal.decodeImageAHash(
          batch.select(col("id"), col("media")), "media")
        .select(col("id"), col("ah_hi"), col("ah_lo"))
        .persistScoped() // within-batch pairs + probe + report + ingest
      // within-batch: drop any image matching a lower id (keep-lowest)
      val withinDrops = graft.operators.Dedup.ahashPairs(fps, maxHamming)
        .select(col("id_b").as("id")).distinct()
      // store matches per probe, strictly older batches only
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
      report.write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
      graft.operators.Dedup.ingestIntoAHashIndex(
        report.filter(col("kept")).select(col("id"), col("ah_hi"), col("ah_lo")),
        indexDir, b)
    }

  /** Streaming Kneser-Ney quality filtering — [[lmScoreIngest]]'s sibling
    * with the PRODUCTION smoothing
    * ([[graft.operators.TextOps.knScoreAgainstModel]]): the SAME stored
    * LM artifact serves both smoothings (the discount statistics derive
    * from the pruned tables at load), so an operator can switch add-one →
    * KN online without retraining or re-shipping a model. Per-batch
    * report under `batch=<id>`, overwrite mode, replay-idempotent;
    * the model never adapts to the stream it filters.
    */
  def knScoreIngest(modelDir: String, outDir: String, pplThreshold: Double)
      : (org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], Long) => Unit =
    (batch, batchId) => graft.CacheScope.scoped {
      import org.apache.spark.sql.functions.col
      graft.operators.TextOps.knScoreAgainstModel(batch.toDF(),
          col("doc_id"), col("text"), modelDir, pplThreshold)
        .write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
    }

  /** Streaming language identification — the serving twin of the TRAINED
    * multiclass langid model
    * ([[graft.operators.TextOps.langIdScoreAgainstModel]], CCNet stage
    * 0): each micro-batch classifies against the FROZEN stored artifact
    * (K bounded rows shipped as expression data — one narrow zero-shuffle
    * map per batch, no join) and writes per-doc (id, pred_lang, score)
    * under `batch=<id>` — overwrite mode, replay-idempotent. The model
    * never adapts to the stream (drift triggers a retrain-and-swap, the
    * stored-artifact discipline); docs whose normalized text has no
    * char bigram are dropped (nothing to classify), matching offline.
    */
  def langIdIngest(modelDir: String, outDir: String)
      : (org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], Long) => Unit =
    (batch, batchId) => graft.CacheScope.scoped {
      import org.apache.spark.sql.functions.col
      graft.operators.TextOps.langIdScoreAgainstModel(batch.toDF(),
          col("id"), col("text"), modelDir)
        .write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
    }

  /** Streaming TAGGER table — the crawler's arrival-time filter
    * ([[graft.operators.TextOps.taggerTable]] as a foreachBatch sink):
    * each micro-batch of (id, text) documents is tagged by all four
    * safety/quality taggers in one narrow zero-shuffle pass and the full
    * attribute table (keeps + mixer decision + reasons) lands under
    * `batch=<id>` — overwrite mode, replay-idempotent. The table carries
    * EVERY batch row (drops are decisions with reasons, never silent),
    * so a downstream mixer re-run with different rules needs no
    * re-tagging — exactly Dolma's tagger/mixer split.
    */
  def taggerIngest(outDir: String, blocklist: Seq[String], blockTau: Long,
      piiMax: Long, maxTopTokFrac: Double, maxTopBigramFrac: Double,
      minTtr: Double, minStopwordRatio: Double,
      gopher: graft.operators.TextOps.GopherRules =
        graft.operators.TextOps.GopherRules())
      : (org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], Long) => Unit =
    (batch, batchId) => graft.CacheScope.scoped {
      import org.apache.spark.sql.functions.col
      graft.operators.TextOps.taggerTable(batch.toDF(),
          col("id"), col("text"), blocklist, blockTau, piiMax,
          maxTopTokFrac, maxTopBigramFrac, minTtr, minStopwordRatio, gopher)
        .write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
    }

  /** Streaming HTML EXTRACTION — the crawler's arrival-time entry point
    * ([[graft.operators.Html.extractBlocks]] as a foreachBatch sink):
    * each micro-batch of (id, html) pages is segmented by the
    * deterministic extractor in one narrow zero-shuffle pass and the
    * block table (id, block_type, block_idx, block_text) lands under
    * `batch=<id>` — overwrite mode, replay-idempotent. Downstream
    * taggers/dedup consume the extracted text without ever re-parsing
    * markup — exactly the batch pipeline's q244 → q245 split.
    */
  def htmlExtractIngest(outDir: String)
      : (org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], Long) => Unit =
    (batch, batchId) => graft.CacheScope.scoped {
      import org.apache.spark.sql.functions.col
      graft.operators.Html.extractBlocks(
          batch.toDF().select(col("id"), col("html")), col("html"))
        .select(col("id"), col("block_type"), col("block_idx"),
          col("block_text"))
        .write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
    }

  /** Streaming WARC INGESTION — the crawl front door one container
    * ahead of [[htmlExtractIngest]]
    * ([[graft.operators.Warc.parseFields]] as a foreachBatch sink):
    * each micro-batch of (file_id, warc) container files splits into
    * records by exact Content-Length framing and the typed field table
    * (file_id, warc_version, url, status, content_type, html,
    * malformed) lands under `batch=<id>` — overwrite mode,
    * replay-idempotent. Quarantined records ARRIVE as rows (null
    * fields + flag), so a malformed-rate monitor reads the same table
    * the extractor consumes — no separate error stream to lose.
    */
  def warcIngest(outDir: String)
      : (org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], Long) => Unit =
    (batch, batchId) => graft.CacheScope.scoped {
      import org.apache.spark.sql.functions.col
      graft.operators.Warc.parseFields(
          graft.operators.Warc.records(
            batch.toDF().select(col("file_id"), col("warc")), "warc"),
          col("rec"))
        .select(col("file_id"), col("warc_version"), col("url"),
          col("status"), col("content_type"), col("html"),
          col("malformed"))
        .write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
    }

  /** Streaming OUTLINK HARVEST — the crawl-frontier expansion loop as
    * a sink ([[graft.operators.Html.extractLinks]] +
    * [[graft.operators.Url.resolve]]/[[graft.operators.Url.canonicalize]]
    * as foreachBatch): each micro-batch of (id, url, html) fetched
    * pages yields its anchor table resolved against each page's OWN
    * base URL — (id, link_idx, href, anchor_text, url_resolved,
    * url_canon) under `batch=<id>`, overwrite mode, replay-idempotent.
    * Non-crawlable hrefs (mailto:/javascript:, href-less anchors)
    * ARRIVE as rows with null resolution — the frontier scheduler and
    * the link-graph builder read the same table. All three URL stages
    * are 1-node native kernel expressions, so the batch plan is scan →
    * generator → projections: zero joins, zero shuffles per batch.
    */
  def outlinkIngest(outDir: String)
      : (org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], Long) => Unit =
    (batch, batchId) => graft.CacheScope.scoped {
      import org.apache.spark.sql.functions.col
      graft.operators.Html.extractLinks(
          batch.toDF().select(col("id"), col("url"), col("html")),
          col("html"))
        .select(col("id"), col("link_idx"), col("href"), col("anchor_text"),
          graft.operators.Url.resolve(col("url"), col("href"))
            .as("url_resolved"))
        .withColumn("url_canon",
          graft.operators.Url.canonicalize(col("url_resolved")))
        .write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
    }

  /** Streaming language-ID DRIFT monitoring — [[langIdIngest]]'s
    * watchdog: each micro-batch classifies under the FROZEN model and
    * writes its [[graft.operators.TextOps.langIdDriftReport]] against
    * the stored reference distribution under `batch=<id>` (overwrite,
    * replay-idempotent). The jsd column is the retrain-trigger signal —
    * an operator alerts on it; the model and reference never adapt to
    * the stream they monitor.
    */
  def langIdDriftIngest(modelDir: String, refDir: String, outDir: String)
      : (org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], Long) => Unit =
    (batch, batchId) => graft.CacheScope.scoped {
      import org.apache.spark.sql.functions.col
      graft.operators.TextOps.langIdDriftReport(batch.toDF(),
          col("id"), col("text"), modelDir, refDir)
        .write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
    }

  /** Streaming WordPiece tokenization — [[unigramTokenizeIngest]]'s
    * sibling over a stored
    * [[graft.operators.TextOps.writeWordPieceModel]] artifact: each
    * micro-batch tokenizes its DISTINCT words through the frozen
    * vocabulary (greedy longest-match-first as expression data — one
    * bounded model read per batch) and writes per-doc
    * (id, n_tokens, n_unk) under `batch=<id>` — overwrite mode,
    * replay-idempotent. Unsegmentable words count as ONE `[UNK]` token
    * and are tallied separately: a rising n_unk is the drift signal that
    * triggers a retrain-and-swap, never an in-stream vocab update.
    * EVERY ingested doc gets a row — a doc with no extractable words
    * (empty/whitespace text) reports (id, 0, 0) rather than a silent gap
    * (the per-doc aggregate left-joins back to the batch's id set).
    */
  def wordPieceTokenizeIngest(modelDir: String, outDir: String)
      : (org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], Long) => Unit =
    (batch, batchId) => graft.CacheScope.scoped {
      import org.apache.spark.sql.functions.{col, explode, expr, size, sum, when, lit, element_at, coalesce}
      val spark = batch.sparkSession
      val vocab = graft.operators.TextOps.loadWordPieceVocab(spark, modelDir)
      val words = batch.select(explode(expr(
        "filter(split(lower(text), '\\\\s+'), x -> length(x) > 0)")).as("w"))
        .distinct()
      val wt = graft.operators.TextOps.wordPieceTokens(words, vocab)
        .select(col("w"), size(col("toks")).cast("long").as("nt"),
          when(element_at(col("toks"), 1) === lit("[UNK]"), 1L).otherwise(0L)
            .as("unk"))
      val perDoc = batch.select(col("id"), explode(expr(
        "filter(split(lower(text), '\\\\s+'), x -> length(x) > 0)")).as("w"))
        .join(wt, Seq("w"))
        .groupBy(col("id")).agg(sum(col("nt")).as("nt"),
          sum(col("unk")).as("unk"))
      batch.select(col("id"))
        .join(perDoc, Seq("id"), "left")
        .select(col("id"), coalesce(col("nt"), lit(0L)).as("n_tokens"),
          coalesce(col("unk"), lit(0L)).as("n_unk"))
        .write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
    }

  /** Streaming contrastive training-pair export — the serving twin of the
    * offline [[graft.operators.Retrieval.trainingPairs]] miner (q199):
    * each micro-batch of (id, text) SEED documents derives its query
    * terms against the FROZEN stored BM25 index (batch-local tf, stored
    * idf — [[graft.operators.Retrieval.seedQueriesAgainstIndex]]), mines
    * hard negatives through the index's bucket-DPP probe with the same
    * near-dup false-negative guard (candidate shingles from the FROZEN
    * stored shingle view; seed shingles computed from the batch's own
    * text), and writes (seed_id, doc_id, label, rnk) under
    * `batch=<id>` — overwrite mode, replay-idempotent. Every model is
    * frozen (the stored-artifact discipline), so a seed's pairs never
    * depend on its batch-mates; serving ≡ offline is spec-pinned.
    *
    * @param bm25Dir    stored BM25 index ([[graft.operators.Retrieval.writeBm25IndexVersioned]])
    * @param shingleDir stored (id, sh, n_sh) shingle view — e.g. a dedup
    *                   index's `shingles/` epoch path
    */
  def trainingPairIngest(bm25Dir: String, shingleDir: String, outDir: String,
      qTerms: Int, k: Int, slack: Int, jaccardT: Double,
      k1: Double = 1.2, b: Double = 0.75)
      : (org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], Long) => Unit =
    (batch, batchId) => graft.CacheScope.scoped {
      import org.apache.spark.sql.functions.col
      val spark = batch.sparkSession
      val seeds = batch.select(col("id"), col("text"))
      val queries = graft.operators.Retrieval
        .seedQueriesAgainstIndex(seeds, bm25Dir, qTerms)
      // shingles: stored corpus view for candidates, batch text for the
      // seeds themselves (anti-join keeps one row per id — a seed already
      // in the store serves from its fresh batch text)
      val seedSh = graft.operators.Dedup.batchShingleArrays(seeds, 3)
        .select(col("id"), col("sh").as("ss"))
      val stored = spark.read.parquet(shingleDir)
        .select(col("id"), col("sh").as("ss"))
        .join(seeds.select(col("id")), Seq("id"), "left_anti")
      graft.operators.Retrieval.trainingPairsAgainstIndex(queries, bm25Dir,
          stored.unionAll(seedSh), k, slack, jaccardT, k1, b)
        .write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
    }

  /** Streaming ingestion dedup — the production corpus-ingest loop as a
    * foreachBatch sink: each micro-batch of (id, text) documents is
    * (1) deduplicated WITHIN the batch (exact + MinHash-LSH near-dup,
    * keep-lowest-id), (2) deduplicated AGAINST the stored corpus index,
    * (3) written to `outDir/batch=<id>` (idempotent overwrite), and
    * (4) written into the index as its own [[graft.operators.Compaction]]
    * store batch so later batches see it (the stream's first batch is the
    * store's build, batch 0). Per-batch cost is proportional to the batch (index
    * probes are partition-pruned scans); the corpus is never recomputed.
    *
    * REPLAY SAFETY — why the index is batch-versioned: the probe reads
    * only index partitions with `batch < batchId`, and the write
    * overwrites this batch's own partitions. A replayed batch therefore
    * probes exactly what the first attempt probed (its own half-written
    * entries are invisible) and re-derives the identical kept set; an
    * unversioned append-then-probe loop would see its own first-attempt
    * entries on replay and drop the whole batch as duplicates.
    */
  def dedupIngest(indexDir: String, outDir: String, n: Int = 3,
      numHashes: Int = 64, bands: Int = 16, threshold: Double = 0.8)
      : (org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], Long) => Unit =
    (batch, batchId) => graft.CacheScope.scoped {
      // CacheScope.scoped: the inner dedup operators persistScoped their
      // shingle corpora / inverted indexes; scoping them to the batch body
      // (which materializes everything via the writes below) releases
      // them per micro-batch even if a write throws, and keeps a
      // concurrent batch query from draining them mid-flight.
      import org.apache.spark.sql.functions.{col, md5}
      import graft.CacheScope.ScopedPersist
      import graft.operators.Compaction
      val spark = batch.sparkSession
      val docs = batch.select(col("id"), col("text"))
      val withinBatch = graft.operators.Dedup
        .dedupCorpus(docs, n, numHashes, bands, threshold)
        .select(col("id"), col("text"))
      val prior = Compaction.batchIds(spark, indexDir, "hashes").exists(_ < batchId)
      val kept = (if (prior) {
        val store = Compaction.snapshot(spark, indexDir)
        graft.operators.Dedup.dedupAgainstParts(withinBatch,
          store("hashes").where(col("batch") < batchId),
          store("bands").where(col("batch") < batchId),
          store("shingles").where(col("batch") < batchId),
          n, numHashes, bands, threshold)
          .select(col("id"), col("text"))
      } else withinBatch)
        .persistScoped() // 4 consumers below; released at scope exit
      kept.write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
      // this batch's index batch — overwrite, so replays converge
      Compaction.writeBatch(spark, indexDir, batchId,
        Compaction.View("hashes") -> kept.select(md5(col("text")).as("h")),
        Compaction.View("bands", Some("band")) ->
          graft.operators.Dedup.batchBandKeys(kept, n, numHashes, bands),
        Compaction.View("shingles") ->
          graft.operators.Dedup.batchShingleArrays(kept, n))
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
