package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus-curation operators for training-data assembly: per-domain caps,
  * benchmark decontamination, and token-budget packing.
  *
  * The reference has no corpus notion at all (its data plane is untyped KV
  * edges); these extend the LLM-pipeline surface of SURVEY.md §7.2 step 6
  * alongside [[Dedup]]/[[Similarity]]/[[TextOps]].
  */
object Curation {

  /** Keep at most `k` documents per domain/source, best-first by
    * (score desc, id asc) — the classic web-corpus balance step ("no more
    * than N pages per host").
    *
    * Scale design: this is NOT a rank window. A window must shuffle and
    * sort every domain's full row set before discarding all but k —
    * a hot domain (a crawl with 10^9 pages of one host) lands on one task.
    * The bounded [[graft.functions.TopKByScore]] aggregate keeps O(k)
    * state per domain through partial+final aggregation, so shuffle volume
    * is |domains|·k structs and a hot domain costs its map-side passes
    * only. Output: (domain, rank 1..k, id, score) — identical rows to the
    * row_number window form (pinned by CurationSpec).
    */
  def domainCap(df: DataFrame, domain: Column, id: Column, score: Column,
      k: Int): DataFrame =
    df.groupBy(domain.as("domain"))
      .agg(graft.functions.topk_by_score(score, id, k).as("top"))
      .select(col("domain"), posexplode(col("top")).as(Seq("pos", "e")))
      .select(col("domain"), (col("pos") + 1).as("rank"),
        col("e.id").as("id"), col("e.score").as("score"))

  /** Benchmark decontamination: flag every training document sharing at
    * least one word n-gram with any document of the (small) benchmark set.
    * Returns (id, n_hits = number of distinct contaminated n-grams).
    *
    * Scale design: the benchmark shingle set is tiny next to a 100 TB
    * corpus — dedup it, broadcast it, and the corpus side stays a narrow
    * scan + broadcast semi-join + per-doc aggregate over collision rows
    * (hash-partial, no raw-corpus shuffle). Shingling is the same fused
    * kernel the dedup family uses ([[TextOps.withShingles]]).
    */
  def decontaminate(train: DataFrame, bench: DataFrame, // columns: id, text
      n: Int): DataFrame = {
    def grams(d: DataFrame): DataFrame =
      TextOps.withShingles(d, col("text"), n, "ss")
        .select(col("id"), explode(col("ss")).as("s"))
    val benchSet = grams(bench).select(col("s")).distinct()
    grams(train)
      .join(broadcast(benchSet), "s")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_hits")) // shingles are distinct within a doc
  }

  /** Token-budget packing: assign documents, in (domain, id) order, to
    * consecutive bins of ~`budget` tokens — the concat-and-chunk sharding
    * step before sequence packing. A document straddling a boundary opens
    * the next bin (standard approximate packing; bins can overflow by at
    * most one document).
    *
    * bin = floor(exclusive-prefix-sum(tokens) / budget), per domain. The
    * prefix sum is a running window WITHIN each domain partition — at
    * 100 TB that is one hash exchange on domain + per-partition sort, not
    * a global total-order sort; parallelism = |domains|. Returns one row
    * per bin: (domain, bin, n_docs, bin_tokens).
    */
  def packBins(df: DataFrame, domain: Column, id: Column, tokens: Column,
      budget: Long): DataFrame =
    binsOf(df, domain, id, tokens, None)
      .withColumn("bin", floor(col("__cum") / lit(budget.toDouble)).cast("long"))
      .groupBy(col("__dom").as("domain"), col("bin"))
      .agg(count(lit(1)).as("n_docs"), sum(col("__tok")).as("bin_tokens"))

  /** The window form's scale ceiling is parallelism = |domains|: one
    * enormous domain funnels its whole row set through a single task's
    * running sum. [[packBinsScalable]] removes it with the classic
    * distributed scan: range-partition by (domain, id) so global order
    * holds ACROSS partitions, run the prefix sum locally per partition
    * (one sequential pass), aggregate one subtotal per (partition, domain)
    * — a tiny table — cumulate those into per-partition starting offsets
    * with a window over the tiny table only, and broadcast the offsets
    * back. Identical output to [[packBins]] for any partition count (bin
    * ids depend only on the global order and totals, not boundaries) —
    * pinned by CurationSpec.
    */
  def packBinsScalable(df: DataFrame, domain: Column, id: Column,
      tokens: Column, budget: Long, partitions: Int): DataFrame =
    binsOf(df, domain, id, tokens, Some(partitions))
      .withColumn("bin", floor(col("__cum") / lit(budget.toDouble)).cast("long"))
      .groupBy(col("__dom").as("domain"), col("bin"))
      .agg(count(lit(1)).as("n_docs"), sum(col("__tok")).as("bin_tokens"))

  /** The packed-sequence MANIFEST — the artifact a pretraining data
    * loader actually consumes, where [[packBinsScalable]] only reports
    * per-bin totals: one row per (document, bin) SPAN. Concat-and-chunk
    * packing splits the per-domain id-ordered token stream into
    * consecutive `budget`-token bins, so a document whose tokens
    * straddle a bin boundary contributes a span to EVERY bin it crosses:
    * with exclusive prefix `cum`, doc tokens [cum, cum+n) land in bins
    * ⌊cum/B⌋ .. ⌊(cum+n−1)/B⌋, and its span in bin k is
    * [max(kB, cum), min((k+1)B, cum+n)) — reported as (off_in_doc,
    * span_tokens). Every bin except each domain's last is exactly full
    * BY CONSTRUCTION (Σ span_tokens = B), and per-doc Σ span_tokens =
    * n — both spec-pinned, as is partition-count invariance (bin ids and
    * spans are pure functions of the prefix sum).
    *
    * 100 TB posture: [[binsOf]]'s distributed prefix scan (parallelism =
    * the partition count, not |domains|) + one narrow explode of
    * ≤ ⌈n/B⌉+1 spans per doc — no window over unbounded groups, no
    * second shuffle. Zero-token docs contribute no span (a span of 0
    * tokens is not an artifact a loader can read).
    *
    * @return (domain, id, bin, off_in_doc, span_tokens)
    */
  def packManifest(df: DataFrame, domain: Column, id: Column,
      tokens: Column, budget: Long, partitions: Int,
      ord: Option[Column] = None): DataFrame = {
    require(budget >= 1)
    binsOf(df, domain, id, tokens, Some(partitions), ord)
      .filter(col("__tok") > 0)
      .select(col("__dom").as("domain"), col("__id").as("id"),
        col("__tok"), col("__cum"),
        explode(expr(
          s"sequence(__cum div ${budget}L, (__cum + __tok - 1) div ${budget}L)"))
          .as("bin"))
      .select(col("domain"), col("id"), col("bin"),
        (greatest(col("bin") * budget, col("__cum")) - col("__cum"))
          .as("off_in_doc"),
        (least((col("bin") + 1) * budget, col("__cum") + col("__tok"))
          - greatest(col("bin") * budget, col("__cum"))).as("span_tokens"))
  }

  /** Packed training SHARDS — the step past [[packManifest]] that
    * MATERIALIZES what a pretraining loader mmaps: per (domain, bin), the
    * ordered token stream assembled from every span the manifest routes
    * into that bin (docs in id order — the packing contract — each
    * contributing `slice(toks, off_in_doc, span_tokens)`), reported as
    * (n_tokens, md5 of the space-joined stream) so the gate hash-checks
    * the EXACT BYTES a trainer would read. Every bin except each
    * domain's last is exactly `budget` tokens BY CONSTRUCTION
    * ([[packManifest]]'s invariant).
    *
    * Bins are local to the frame packed: bins are contiguous token ranges,
    * so packing is inherently a batch decision. Over a stream, each
    * micro-batch packs its own bins, final the moment it commits, and
    * only each batch's LAST bin per domain may be short; a trainer
    * consumes whole shard files, never cross-batch splices.
    *
    * 100 TB design: the manifest side is the distributed prefix scan;
    * the slice join is one equi-join on (domain, id); and the per-bin
    * assembly aggregates AT MOST `budget` tokens of state per group
    * (bins are budget-sized by definition — the one place a
    * collect_list is bounded by the operator's own contract).
    *
    * Input: df with (domain, id, toks: array<string>).
    * Output: (domain, bin, n_tokens, stream_md5).
    */
  def packShards(df: DataFrame, domain: Column, id: Column, toks: Column,
      budget: Long, partitions: Int): DataFrame = {
    import graft.CacheScope.ScopedPersist
    val base = df.select(domain.cast("string").as("domain"),
      id.cast("long").as("id"), toks.as("toks"))
      .withColumn("n_tok", size(col("toks")).cast("long"))
      .persistScoped() // feeds the manifest scan AND the slice join
    val manifest = packManifest(base, col("domain"), col("id"),
      col("n_tok"), budget, partitions)
    manifest
      .join(base.select(col("domain"), col("id"), col("toks")),
        Seq("domain", "id"))
      .select(col("domain"), col("bin"), col("id"), col("span_tokens"),
        expr("slice(toks, CAST(off_in_doc + 1 AS INT), CAST(span_tokens AS INT))")
          .as("sl"))
      .groupBy(col("domain"), col("bin"))
      .agg(sum(col("span_tokens")).as("n_tokens"),
        md5(expr(
          "array_join(flatten(transform(sort_array(collect_list(struct(id, sl))), x -> x.sl)), ' ')"))
          .as("stream_md5"))
  }

  /** TOKEN-ID shard export — [[packShards]] made literally consumable: a
    * pretraining loader mmaps INT token ids against a frozen (piece → id)
    * vocabulary, not piece strings, so this variant maps every piece
    * through `vocab` (expression data — one map literal, no join) BEFORE
    * assembly and returns, per (domain, bin), the ordered id array itself
    * plus (n_tokens, md5 of the space-joined DECIMAL id stream) for the
    * hash gate. A piece absent from the vocabulary fails LOUDLY
    * (raise_error) — a frozen vocab that cannot express its own
    * tokenizer's output is a deployment bug, and a silent null would
    * corrupt every downstream shard byte.
    *
    * 100 TB design: [[packShards]]' own ([[packManifest]] prefix scan +
    * slice join + budget-bounded per-bin assembly); the id map adds one
    * narrow transform per row.
    *
    * ==Shard-order consumption contract==
    * Within each (domain, bin) a consumer observes documents in
    * ascending `id` order, and bins within a domain cover the id-ordered
    * token stream consecutively — the export is DETERMINISTIC and
    * UNSHUFFLED by default. This is deliberate: example-order
    * randomization belongs to the training LOADER (which samples shards
    * and shuffles within its buffer anyway), while a deterministic pack
    * order is what makes the artifact diffable, resumable, and
    * hash-gateable. Loaders that read shards strictly sequentially (no
    * shuffle buffer) can opt into `interleave = true`: the per-domain
    * pack order becomes (hash28(id), id) — a content-hash interleave
    * baked into the artifact, so consecutive reads see a deterministic
    * but distribution-mixed document stream. Both orders satisfy the
    * same bin invariants (every bin but the domain's last exactly full;
    * per-doc spans contiguous).
    *
    * Input: df with (domain, id, toks: array<string>).
    * Output: (domain, bin, n_tokens, token_ids: array<long>, stream_md5).
    */
  def packShardIds(df: DataFrame, domain: Column, id: Column, toks: Column,
      vocab: Map[String, Long], budget: Long, partitions: Int,
      interleave: Boolean = false): DataFrame =
    packIds(df, domain, id, toks, vocab, sep = None, budget, partitions,
      interleave)

  /** EOS-SEPARATED token-id shards — the literal GPT-2 packing contract
    * (Radford et al. 2019 trained on documents tokenized, terminated
    * with <|endoftext|>, concatenated, and sliced into fixed contexts):
    * every document contributes its ids PLUS one trailing `eosId`, so a
    * loader slicing ANY shard can recover document boundaries and the LM
    * observes the end-of-document event it must learn to emit. The
    * separator counts against the budget — it occupies a context
    * position, which is exactly what a trainer pays for it — so bins
    * stay budget-exact and the [[packManifest]] invariant holds
    * unchanged over n_tok+1. `eosId` must not collide with a vocab id
    * (require — a reused id would make boundaries indistinguishable
    * from content); the GPT-2 convention is the next free id past the
    * merge products.
    *
    * 100 TB design: identical to [[packShardIds]] — the append is one
    * narrow `concat` before the prefix scan.
    *
    * Output: (domain, bin, n_tokens, token_ids: array<long>, stream_md5).
    */
  def packShardIdsSep(df: DataFrame, domain: Column, id: Column,
      toks: Column, vocab: Map[String, Long], eosId: Long, budget: Long,
      partitions: Int, interleave: Boolean = false): DataFrame = {
    require(!vocab.valuesIterator.contains(eosId),
      s"eosId $eosId collides with a vocabulary id")
    packIds(df, domain, id, toks, vocab, sep = Some(eosId), budget,
      partitions, interleave)
  }

  private def packIds(df: DataFrame, domain: Column, id: Column,
      toks: Column, vocab: Map[String, Long], sep: Option[Long],
      budget: Long, partitions: Int,
      interleave: Boolean = false): DataFrame = {
    import graft.CacheScope.ScopedPersist
    val vlit = typedLit(vocab)
    val mapped = transform(toks, p =>
      when(element_at(vlit, p).isNull,
        raise_error(concat(lit("piece not in the frozen vocab: "), p))
          .cast("long"))
        .otherwise(element_at(vlit, p)))
    val ids = sep.fold(mapped)(e => concat(mapped, array(lit(e))))
    // content-hash interleave: the pack order becomes
    // (hash28(id), id) per domain — a deterministic shuffle baked into
    // the artifact for trainers whose loader reads shards sequentially.
    // Default stays id order (shuffle belongs to the loader).
    val ordExpr =
      if (interleave) Dedup.SharedHash.hash28(id.cast("string"))
      else lit(0L)
    val base = df.select(domain.cast("string").as("domain"),
      id.cast("long").as("id"), ids.as("ids"), ordExpr.as("ord"))
      .withColumn("n_tok", size(col("ids")).cast("long"))
      .persistScoped() // feeds the manifest scan AND the slice join
    val manifest = packManifest(base, col("domain"), col("id"),
      col("n_tok"), budget, partitions, ord = Some(col("ord")))
    manifest
      .join(base.select(col("domain"), col("id"), col("ids"), col("ord")),
        Seq("domain", "id"))
      .select(col("domain"), col("bin"), col("ord"), col("id"),
        col("span_tokens"),
        expr("slice(ids, CAST(off_in_doc + 1 AS INT), CAST(span_tokens AS INT))")
          .as("sl"))
      .groupBy(col("domain"), col("bin"))
      .agg(sum(col("span_tokens")).as("n_tokens"),
        expr("flatten(transform(sort_array(collect_list(struct(ord, id, sl))), x -> x.sl))")
          .as("token_ids"))
      .select(col("domain"), col("bin"), col("n_tokens"), col("token_ids"),
        md5(array_join(transform(col("token_ids"),
          x => x.cast("string")), " ")).as("stream_md5"))
  }

  /** Rows with the per-domain exclusive prefix sum in `__cum`:
    * single-window form (scanParts = None) or distributed-scan form.
    * `ord` optionally prepends an ordering key before the id (default:
    * id order, the packing contract).
    */
  private def binsOf(df: DataFrame, domain: Column, id: Column,
      tokens: Column, scanParts: Option[Int],
      ord: Option[Column] = None): DataFrame = {
    val base = df.select(domain.cast("string").as("__dom"),
      id.cast("long").as("__id"), tokens.cast("long").as("__tok"),
      ord.getOrElse(lit(0L)).cast("long").as("__ord"))
    scanParts match {
      case None =>
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("__dom")).orderBy(col("__ord"), col("__id"))
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
        base.withColumn("__cum", coalesce(sum(col("__tok")).over(w), lit(0L)))
      case Some(parts) =>
        val spark = df.sparkSession
        import spark.implicits._
        // local exclusive prefix per (partition, domain): one sequential
        // pass over each range partition's sorted iterator
        // localCheckpoint (EAGER) pins partition identity: __pid comes
        // from TaskContext, and a downstream NARROW sink (e.g. a
        // coalesce(1) write) would otherwise collapse this stage — one
        // task drains all range partitions, stamping __pid = 0 on every
        // row while the offsets side-job (its own stage) sees the real
        // ids, and the inner join silently drops everything outside
        // partition 0. Materializing here evaluates the scan in its own
        // 32-task stage exactly once (also sparing the double
        // computation: `local` feeds the offsets aggregate AND the join).
        val local = base
          .repartitionByRange(parts, col("__dom"), col("__ord"), col("__id"))
          .sortWithinPartitions(col("__dom"), col("__ord"), col("__id"))
          .as[(String, Long, Long, Long)]
          .mapPartitions { it =>
            val pid = org.apache.spark.TaskContext.getPartitionId()
            var cur: String = null
            var run = 0L
            it.map { case (d, i, t, o) =>
              if (d != cur) { cur = d; run = 0L }
              val excl = run
              run += t
              (d, i, t, o, pid, excl)
            }
          }
          .toDF("__dom", "__id", "__tok", "__ord", "__pid", "__local")
          .localCheckpoint()
        // per-(domain, partition) subtotals are |partitions|-scale rows —
        // the only data the cross-partition window ever touches
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("__dom")).orderBy(col("__pid"))
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
        val offsets = local.groupBy(col("__dom"), col("__pid"))
          .agg(sum(col("__tok")).as("__ptot"))
          .withColumn("__off", coalesce(sum(col("__ptot")).over(w), lit(0L)))
          .select(col("__dom"), col("__pid"), col("__off"))
        local.join(broadcast(offsets), Seq("__dom", "__pid"))
          .withColumn("__cum", col("__local") + col("__off"))
    }
  }

  /** Temperature-scaled mixture allocation — the multilingual/multi-source
    * "α-sampling" stage (Conneau & Lample 2019; mT5/XLM-R use the same
    * rule): per-source sampling weights `w_i = T_i^α` over token counts
    * `T_i`, a global token `budget` apportioned to sources by the
    * largest-remainder (Hamilton) method on shares `budget·w_i/Σw`, then
    * documents selected per source in content-hash order until the
    * source's allocation is exhausted (a doc is taken iff the tokens
    * BEFORE it are under the allocation — standard greedy; the last doc
    * may straddle). α is FIXED at 0.5: sqrt is the one power IEEE 754
    * defines correctly rounded, so both engines agree bit-for-bit, while
    * a libm `pow` surface would not — and 0.5 is the published default
    * neighborhood for up-weighting low-resource sources.
    *
    * 100 TB design: the per-source stats table is |sources| rows; Σw folds
    * it in sorted source order (float determinism); the apportionment is a
    * window over that TINY table; per-doc selection is the distributed
    * prefix-sum scan of [[packBinsScalable]] (pass `scanParts`) — a hot
    * source never funnels through one task — with the allocation table
    * broadcast back. Selection order is the content-stable md5 hash
    * (q75's convention), so the sample is reproducible, not
    * first-ids-win.
    *
    * Output: (id, source, n_tokens, alloc_tokens, cum_before, keep).
    */
  def temperatureMixtureAlloc(docs: DataFrame, id: Column, source: Column,
      tokens: Column, budget: Long,
      scanParts: Option[Int] = None): DataFrame = {
    val base = docs.select(id.cast("long").as("id"),
      source.cast("string").as("source"), tokens.cast("long").as("n_tokens"))
    val st = base.groupBy(col("source"))
      .agg(sum(col("n_tokens")).as("tok_total"))
      .withColumn("w", sqrt(col("tok_total").cast("double")))
    // Σw in sorted source order — the house float-fold contract
    val wt = st.agg(sort_array(collect_list(struct(col("source"), col("w"))))
        .as("ws"))
      .select(expr("aggregate(ws, 0D, (a, x) -> a + x.w)").as("wsum"))
    val sh = st.crossJoin(broadcast(wt))
      .withColumn("share", lit(budget.toDouble) * col("w") / col("wsum"))
      .withColumn("base", floor(col("share")).cast("long"))
      .withColumn("rem", col("share") - floor(col("share")))
    val rr = sh.agg((lit(budget) - sum(col("base"))).as("r"))
    val rw = org.apache.spark.sql.expressions.Window
      .orderBy(col("rem").desc, col("source")) // |sources| rows only
    val alloc = sh.crossJoin(broadcast(rr))
      .withColumn("rk", row_number().over(rw))
      .select(col("source"),
        (col("base") + when(col("rk") <= col("r"), 1L).otherwise(0L))
          .as("alloc_tokens"))
    val ordered = binsOf(base, col("source"), col("id"), col("n_tokens"),
      scanParts,
      ord = Some(Dedup.SharedHash.hash28(col("id").cast("string"))))
    ordered.join(broadcast(alloc), col("__dom") === col("source"))
      .select(col("__id").as("id"), col("source"),
        col("__tok").as("n_tokens"), col("alloc_tokens"),
        col("__cum").as("cum_before"),
        (col("__cum") < col("alloc_tokens")).as("keep"))
  }
}
