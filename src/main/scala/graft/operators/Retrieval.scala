package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.CacheScope.ScopedPersist

/** Ranked text retrieval over a term-frequency corpus: Okapi BM25 scoring
  * with bounded per-query top-k.
  *
  * The reference has no retrieval capability (its text surface ends at
  * tokenize/sort/count, tez-examples/.../WordCount.java:140-195); this is an
  * LLM-pipeline extension of SURVEY.md §7.2 step 6 — the "find documents
  * like these seeds" primitive behind targeted corpus expansion and
  * contamination triage.
  *
  * Scale design: the query side (a handful of (q_id, term) rows) is
  * broadcast; candidate generation is ONE broadcast-semi pass over the tf
  * table, so only rows whose term appears in some query are ever scored —
  * cost is Σ df(query term), never corpus size. Per-document length (dl)
  * rides on each tf row (denormalized by the caller at tokenize time), so
  * no corpus-wide dl join exists. Corpus statistics (doc count, total
  * length) reduce to ONE row via partial aggregation. The final top-k is
  * the bounded [[graft.functions.TopKByScore]] aggregate: O(k) state per
  * query at every stage, shuffle volume |Q|·k.
  *
  * Determinism: per-(query, doc) scores fold their per-term contributions
  * in sorted term order (the q119 discipline), every float input is a pure
  * function of exact integer counts, and scores round to 4 decimals before
  * ranking — the DuckDB oracle replays the identical arithmetic.
  */
object Retrieval {

  /** BM25 top-k per query.
    *
    * @param terms   corpus term frequencies: (id: long, term: string,
    *                tf: long, dl: long) — dl is the document's total token
    *                count, constant across a document's rows
    * @param queries query bags: (q_id: long, term: string), small
    * @param k       results per query
    * @param k1      BM25 term-frequency saturation (default 1.2)
    * @param b       BM25 length normalization (default 0.75)
    * @param excludeSelf drop candidates whose id equals the query's q_id
    *                (more-like-this retrieval, where queries ARE documents)
    * @return (q_id, doc_id, score, rnk) — rnk 1-based by (score desc, id)
    */
  def bm25TopK(terms: DataFrame, queries: DataFrame, k: Int,
      k1: Double = 1.2, b: Double = 0.75,
      excludeSelf: Boolean = false): DataFrame = {
    val tf = terms.persistScoped() // feeds dfs, corpus stats and scoring
    val dfs = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val stats = tf.groupBy(col("id")).agg(max(col("dl")).as("dl"))
      .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("tot_dl"))
    val qd = queries.join(dfs, "term") // query terms with corpus df — tiny
    val cand = tf.join(broadcast(qd), "term").crossJoin(broadcast(stats))
    scoreAndRank(cand, k, k1, b, excludeSelf)
  }

  /** The shared BM25 scoring + ranking core: `cand` carries one row per
    * (q_id, id, term) candidate with tf, dl, df, n_docs, tot_dl attached.
    * Both the direct path ([[bm25TopK]]) and the stored-index probe
    * ([[bm25AgainstIndex]]) end here, so their arithmetic is identical by
    * construction — stored-and-probed must equal freshly-derived.
    */
  private def scoreAndRank(cand0: DataFrame, k: Int, k1: Double, b: Double,
      excludeSelf: Boolean): DataFrame = {
    val cand = if (excludeSelf) cand0.filter(col("id") =!= col("q_id")) else cand0
    val avgdl = col("tot_dl").cast("double") / col("n_docs").cast("double")
    // idf: ln(1 + (N − df + 0.5)/(df + 0.5)) — the non-negative Robertson
    // form; all operands derive from exact integer counts
    val idf = log(lit(1.0) +
      (col("n_docs").cast("double") - col("df") + lit(0.5)) /
        (col("df").cast("double") + lit(0.5)))
    val contrib = idf * (col("tf").cast("double") * lit(k1 + 1.0)) /
      (col("tf").cast("double") +
        lit(k1) * (lit(1.0 - b) + lit(b) * col("dl").cast("double") / avgdl))
    cand
      .select(col("q_id"), col("id"), col("term"), contrib.as("c"))
      .groupBy(col("q_id"), col("id"))
      .agg(sort_array(collect_list(struct(col("term").as("t"), col("c"))))
        .as("cs"))
      .select(col("q_id"), col("id"),
        round(expr("aggregate(cs, 0D, (a, x) -> a + x.c)"), 4).as("score"))
      .groupBy(col("q_id"))
      .agg(graft.functions.topk_by_score(col("score"), col("id"), k).as("top"))
      .select(col("q_id"), posexplode(col("top")).as(Seq("pos", "s")))
      .select(col("q_id"), col("s.id").as("doc_id"),
        col("s.score").as("score"), (col("pos") + 1).cast("long").as("rnk"))
  }

  /** Reciprocal rank fusion of two ranked lists (the standard
    * parameter-free hybrid-retrieval combiner): score =
    * 1/(rrfK + rank_a) + 1/(rrfK + rank_b) over the lists a doc appears
    * in, then bounded top-k per query. Inputs carry (q_id, doc_id, rnk);
    * the fusion is a full-outer join of two k-row-per-query lists plus
    * one [[graft.functions.TopKByScore]] aggregate — free at any scale;
    * the cost is the component retrievals. Scores are rationals of exact
    * integer ranks summed in a FIXED two-term order (a then b) — no
    * float-determinism surface beyond the final round.
    */
  def rrfFuse2(a: DataFrame, b: DataFrame, k: Int, rrfK: Int = 60): DataFrame = {
    val lex = a.select(col("q_id"), col("doc_id"), col("rnk").as("__ar"))
    val vec = b.select(col("q_id"), col("doc_id"), col("rnk").as("__br"))
    lex.join(vec, Seq("q_id", "doc_id"), "full_outer")
      .select(col("q_id"), col("doc_id"),
        round(coalesce(lit(1.0) / (lit(rrfK) + col("__ar")), lit(0.0))
          + coalesce(lit(1.0) / (lit(rrfK) + col("__br")), lit(0.0)), 4)
          .as("score"))
      .groupBy(col("q_id"))
      .agg(graft.functions.topk_by_score(col("score"), col("doc_id"), k).as("top"))
      .select(col("q_id"), posexplode(col("top")).as(Seq("pos", "s")))
      .select(col("q_id"), col("s.id").as("doc_id"),
        col("s.score").as("score"), (col("pos") + 1).cast("long").as("rnk"))
  }

  /** HYBRID retrieval against two stored indexes — the q158 composition
    * in its serving form: (q_id, terms, q_vec) queries probe the BM25
    * posting index (bucket-pruned, [[bm25AgainstIndex]]) and the IVF
    * vector index (cell-pruned, [[Similarity.ivfTopKAgainstIndex]]), and
    * [[rrfFuse2]] fuses the two top-k lists. Both indexes are read-only
    * here; the cost is the two pruned probes, the fusion is free.
    *
    * @return (q_id, doc_id, score, rnk)
    */
  def hybridTopKAgainstIndexes(queries: DataFrame, bm25Dir: String,
      ivfDir: String, nProbe: Int, k: Int, rrfK: Int = 60): DataFrame = {
    val lex = bm25AgainstIndex(
        queries.select(col("q_id"), explode(col("terms")).as("term")),
        bm25Dir, k)
      .select(col("q_id"), col("doc_id"), col("rnk"))
    val vec = Similarity.ivfTopKAgainstIndex(
        queries.select(col("q_id"), col("q_vec")), ivfDir, nProbe, k)
      .select(col("q_id"), col("vec_id").as("doc_id"), col("rnk"))
    rrfFuse2(lex, vec, k, rrfK)
  }

  /** Hard-negative mining for retrieval/contrastive training (the
    * DPR/Karpukhin-style "BM25 hard negatives" recipe, with the standard
    * near-duplicate guard): a hard negative for a query is a document that
    * scores HIGH lexically but is NOT the positive — and not a near-copy
    * of it either, or the "negative" teaches the model to reject
    * paraphrases of the answer (false negatives, the known failure mode of
    * naive BM25 mining). Candidates = BM25 top-(k+slack) (self excluded);
    * any candidate whose 3-shingle Jaccard with the seed document reaches
    * `jaccardT` is dropped as a near-dup; survivors re-rank to top-k.
    *
    * 100 TB design: candidate generation is [[bm25TopK]]'s broadcast-semi
    * pass (cost ∝ Σ df(query term)); the Jaccard guard runs on the
    * BOUNDED candidate set only — one pass shrinks the corpus shingle
    * table to the ≤ |Q|·(k+slack+1) ids in play. For SERVING-sized seed
    * sets the shrunken table broadcasts into the verification joins; the
    * broadcast is SIZE-GUARDED (the stored-PQ shortlist-fetch
    * discipline): an OFFLINE mining run over millions of queries would
    * broadcast millions of shingle arrays, so past `broadcastMax`
    * distinct candidate ids (one cheap count on the persisted candidate
    * frame) the verification joins fall back to plain shuffle hash joins
    * — fully distributed, same result. The re-rank window partitions by
    * query over ≤ k+slack rows — bounded by construction, never a corpus
    * sort.
    *
    * A seed or candidate MISSING from `shingled` fails SAFE as
    * jaccard 0 (left joins + empty-array coalesce): a data-completeness
    * gap keeps the candidate as a negative instead of silently dropping
    * all of its rows.
    *
    * @param shingled (id, ss: array<string>) distinct shingle arrays for
    *                 every document (short docs carry an empty array)
    * @param broadcastMax max distinct candidate/seed ids the shingle
    *                 table may hold and still broadcast; above it the
    *                 verification joins shuffle instead
    * @return (q_id, doc_id, score, jaccard, rnk) — rnk 1-based by
    *         (score desc, doc_id) over the surviving negatives, ≤ k rows
    *         per query
    */
  def hardNegatives(terms: DataFrame, queries: DataFrame,
      shingled: DataFrame, k: Int, slack: Int, jaccardT: Double,
      k1: Double = 1.2, b: Double = 0.75,
      broadcastMax: Int = 100000): DataFrame =
    // localCheckpoint, not persist: the candidate set is BOUNDED
    // (≤ |Q|·(k+slack) rows) but its lineage is the whole BM25 chain, and
    // verifyAndRank substitutes it three times (two id projections + the
    // verify join) — with plain persist the physical plan re-prints (and
    // the analyzer re-walks) the full retrieval subtree per reference
    // (measured: q185 3,327-line / q199 3,579-line plans, guide §3.3
    // "materialising an intermediate truncates the plan"). The checkpoint
    // is computed once, inside the timed query, and the downstream plan
    // starts from an in-memory scan of ≤ |Q|·(k+slack) rows.
    verifyAndRank(
      bm25TopK(terms, queries, k + slack, k1, b, excludeSelf = true)
        .localCheckpoint(),
      shingled, k, jaccardT, broadcastMax)

  /** [[hardNegatives]] probing a STORED BM25 index instead of a corpus tf
    * frame — the serving form: candidates come from the index's
    * bucket-DPP probe ([[bm25AgainstIndex]]), verification and re-rank
    * are [[verifyAndRank]] verbatim, so given the same queries and
    * shingles the output is IDENTICAL to the offline miner over the
    * indexed corpus (spec-pinned).
    */
  def hardNegativesAgainstIndex(queries: DataFrame, dir: String,
      shingled: DataFrame, k: Int, slack: Int, jaccardT: Double,
      k1: Double = 1.2, b: Double = 0.75,
      broadcastMax: Int = 100000): DataFrame =
    verifyAndRank(
      bm25AgainstIndex(queries, dir, k + slack, k1, b, excludeSelf = true)
        .localCheckpoint(), // bounded rows, huge lineage — see hardNegatives
      shingled, k, jaccardT, broadcastMax)

  /** The near-dup verification + re-rank tail shared by the offline and
    * index-serving miners: shingle-Jaccard guard against false negatives,
    * then rank the survivors (score desc, doc_id) to the top k.
    */
  private def verifyAndRank(cand: DataFrame, shingled: DataFrame,
      k: Int, jaccardT: Double, broadcastMax: Int): DataFrame = {
    val ids = cand.select(col("doc_id").as("id"))
      .union(cand.select(col("q_id").as("id"))).distinct()
    // bounded (one array row per candidate/seed id) but carries the whole
    // corpus-shingling lineage into BOTH verify-join branches — checkpoint
    // truncates it like cand above
    val sh = shingled.join(broadcast(ids), Seq("id"), "left_semi")
      .localCheckpoint()
    val hint: DataFrame => DataFrame =
      if (ids.limit(broadcastMax + 1).count() <= broadcastMax) broadcast
      else identity
    val empty = typedLit(Seq.empty[String])
    val j = cand
      .join(hint(sh.select(col("id").as("q_id"), col("ss").as("qs"))),
        Seq("q_id"), "left")
      .join(hint(sh.select(col("id").as("doc_id"), col("ss").as("ds"))),
        Seq("doc_id"), "left")
      .withColumn("qs", coalesce(col("qs"), empty))
      .withColumn("ds", coalesce(col("ds"), empty))
      .withColumn("c", size(array_intersect(col("qs"), col("ds"))).cast("long"))
      .withColumn("na", size(col("qs")).cast("long"))
      .withColumn("nb", size(col("ds")).cast("long"))
      .withColumn("jaccard",
        when(col("na") + col("nb") - col("c") > 0,
          round(col("c").cast("double") / (col("na") + col("nb") - col("c")), 4))
          .otherwise(lit(0.0)))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("score").desc, col("doc_id"))
    j.filter(col("jaccard") < jaccardT)
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("doc_id"), col("score"), col("jaccard"),
        col("rnk"))
  }

  /** Contrastive training-pair EXPORT — the file a retrieval trainer
    * actually reads ([[hardNegatives]] is the mining stage; this is the
    * artifact): per seed query, exactly ONE positive row (the seed
    * document itself — the standard self-supervised setup where the
    * query derives from its gold passage) at label 1 / rank 0, plus the
    * mined top-k hard negatives at label 0 with their re-rank position.
    * The positive can never collide with a negative: candidate
    * generation excludes self BY CONSTRUCTION (`excludeSelf` in the BM25
    * stage). Cost = the mining itself + a |seeds|-row union.
    *
    * @return (seed_id, doc_id, label, rnk)
    */
  def trainingPairs(terms: DataFrame, queries: DataFrame,
      shingled: DataFrame, k: Int, slack: Int, jaccardT: Double,
      k1: Double = 1.2, b: Double = 0.75,
      broadcastMax: Int = 100000): DataFrame = {
    val neg = hardNegatives(terms, queries, shingled, k, slack, jaccardT,
      k1, b, broadcastMax)
      .select(col("q_id").as("seed_id"), col("doc_id"),
        lit(0L).as("label"), col("rnk"))
    val pos = queries.select(col("q_id")).distinct()
      .select(col("q_id").as("seed_id"), col("q_id").as("doc_id"),
        lit(1L).as("label"), lit(0L).as("rnk"))
    pos.unionAll(neg)
  }

  /** [[trainingPairs]] against a STORED BM25 index — the serving form
    * [[trainingPairsForSeeds]] runs ([[hardNegativesAgainstIndex]] + the
    * same one-positive-per-seed union).
    */
  def trainingPairsAgainstIndex(queries: DataFrame, dir: String,
      shingled: DataFrame, k: Int, slack: Int, jaccardT: Double,
      k1: Double = 1.2, b: Double = 0.75,
      broadcastMax: Int = 100000): DataFrame = {
    val neg = hardNegativesAgainstIndex(queries, dir, shingled, k, slack,
      jaccardT, k1, b, broadcastMax)
      .select(col("q_id").as("seed_id"), col("doc_id"),
        lit(0L).as("label"), col("rnk"))
    val pos = queries.select(col("q_id")).distinct()
      .select(col("q_id").as("seed_id"), col("q_id").as("doc_id"),
        lit(1L).as("label"), lit(0L).as("rnk"))
    pos.unionAll(neg)
  }

  /** Contrastive training-pair export for (id, text) SEED documents
    * against frozen stored artifacts — the serving form of the offline
    * [[trainingPairs]] miner (q199): query terms derive against the
    * stored BM25 index (seed-local tf, stored idf —
    * [[seedQueriesAgainstIndex]]), and hard negatives come from the
    * index's bucket-pruned probe with the same near-dup false-negative
    * guard. Candidate shingles come from the stored (id, sh, n_sh)
    * shingle view at `shingleDir` (e.g. a dedup index's `shingles/`),
    * seed shingles from the seeds' own text; a seed already in the store
    * uses its fresh text. Every artifact is frozen, so a seed's pairs never
    * depend on the other seeds it arrives with.
    *
    * @return (seed_id, doc_id, label, rnk)
    */
  def trainingPairsForSeeds(seeds: DataFrame, bm25Dir: String,
      shingleDir: String, qTerms: Int, k: Int, slack: Int, jaccardT: Double,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val s = seeds.select(col("id"), col("text"))
    val queries = seedQueriesAgainstIndex(s, bm25Dir, qTerms)
    val seedSh = Dedup.shingleArrays(s, 3)
      .select(col("id"), col("sh").as("ss"))
    val stored = s.sparkSession.read.parquet(shingleDir)
      .select(col("id"), col("sh").as("ss"))
      .join(s.select(col("id")), Seq("id"), "left_anti")
    trainingPairsAgainstIndex(queries, bm25Dir, stored.unionAll(seedSh), k,
      slack, jaccardT, k1, b)
  }

  /** Seed-query derivation against a STORED index — the serving half of
    * the q152 seed-weighting recipe: per seed document the top `qTerms`
    * bigrams by (tf·idf DESC, term), with tf from the seed's OWN text
    * (one narrow batch-local pass) and idf (df, n_docs) from the FROZEN
    * stored index — df from the bucket-DPP-pruned postings of exactly the
    * seed's terms, n_docs from the summed stats rows. A seed term absent
    * from the indexed corpus has no idf and DROPS (fail-safe: it could
    * never retrieve a candidate anyway); a seed with < 2 tokens yields no
    * bigrams and hence no query rows — the same degenerate-seed semantics
    * as the offline derivation.
    *
    * NOTE: construction is EAGER — deriving the static bucket-IN filter
    * runs Spark jobs (a bounded collect) at DataFrame-build time, so even
    * `explain` on the returned frame costs the seed tokenize + bucket
    * probe. Callers that only want the plan should know it executes.
    *
    * @param seeds (id, text)
    * @return (q_id, term)
    */
  def seedQueriesAgainstIndex(seeds: DataFrame, dir: String,
      qTerms: Int): DataFrame = {
    val spark = seeds.sparkSession
    val buckets = spark.read.parquet(s"$dir/meta").head().getInt(0)
    val store = Compaction.snapshot(spark, dir)
    val lists = store("lists")
    val stats = store("stats")
      .agg(sum(col("n_docs")).as("n_docs"))
    val tf = seeds
      .select(col("id"), TextOps.wordsOf(col("text")).as("ws"))
      .filter(size(col("ws")) >= 2)
      .select(col("id"), explode(expr(
        "transform(sequence(1, size(ws) - 1, 1), i -> concat(ws[i - 1], ' ', ws[i]))"))
        .as("term"))
      .groupBy(col("id"), col("term")).agg(count(lit(1)).as("tf"))
      .persistScoped() // feeds the df probe AND the weighting
    val qt = tf.select(col("term")).distinct()
      .withColumn("bucket", termBucket(buckets))
      .persistScoped() // feeds the bucket-set collect AND the df join
    // STATIC partition pruning (the ahashAgainstIndex discipline): dynamic
    // pruning declines this join — the probe side is a shuffle-derived
    // distinct with no selective predicate — so without the IN filter the
    // df probe scanned EVERY bucket directory (seen in the r16 plan dump:
    // PartitionFilters carried only isnotnull(bucket)). The seed-term
    // bucket set is BOUNDED by `buckets` (≤ the stored modulus, never by
    // corpus size) — a legal bounded collect.
    val qtBkts = qt.select(col("bucket")).distinct()
      .collect().map(_.getInt(0)).sorted
    // zero valid seeds (all < 2 tokens) → zero buckets: short-circuit to
    // an always-false scan filter instead of an empty isin() — the result
    // (no query rows) is the same, but it no longer leans on Spark's
    // empty-IN-is-false semantics
    val bucketPred =
      if (qtBkts.isEmpty) lit(false)
      else col("bucket").isin(qtBkts.map(Int.box): _*)
    // postings of a term live wholly inside its bucket: the pruned scan's
    // per-term distinct doc count IS the corpus df
    val dfq = lists.filter(bucketPred)
      .join(broadcast(qt), Seq("bucket", "term"))
      .groupBy(col("term")).agg(count_distinct(col("id")).as("df"))
    tf.join(broadcast(dfq), "term")
      .crossJoin(broadcast(stats))
      .select(col("id").as("q_id"), col("term"),
        (col("tf").cast("double")
          * log(col("n_docs").cast("double") / col("df"))).as("w"))
      .groupBy(col("q_id"))
      .agg(slice(sort_array(collect_list(struct(
        (-col("w")).as("nw"), col("term").as("t")))), 1, qTerms).as("v"))
      .select(col("q_id"), explode(col("v.t")).as("term"))
  }

  // ===== stored inverted index ============================================
  // The lexical sibling of the stored IVF index: a production pipeline
  // tokenizes the corpus ONCE into a stored posting layout and probes it
  // forever, so per-probe cost must be ∝ the query's term set — never a
  // corpus re-tokenize. Postings are partitioned by a term-hash BUCKET;
  // the probe joins on (bucket, term) with the tiny query frame broadcast,
  // so dynamic partition pruning opens only the buckets the query's terms
  // hash into. df is derived from the pruned scan itself (a term's
  // postings are wholly inside its bucket, so the pruned count IS the
  // corpus df) and corpus stats (n_docs, tot_dl) live as one summary row
  // per write — summed at probe time, which makes ingest trivially
  // stats-correct. The bucket hash is engine-internal layout (it never
  // reaches the output), so it can be Spark's native xxhash64.

  /** Term → partition bucket. Layout-internal, not part of any result. */
  private def termBucket(buckets: Int) =
    pmod(xxhash64(col("term")), lit(buckets.toLong)).cast("int")

  /** The store's two views. */
  private val Bm25Lists = Compaction.View.partitioned("lists", "bucket")
  private val Bm25Stats = Compaction.View("stats")

  private def writeBm25Meta(spark: org.apache.spark.sql.SparkSession,
      dir: String, buckets: Int): Unit = {
    import spark.implicits._
    Seq(buckets).toDF("buckets")
      .write.mode("overwrite").parquet(s"$dir/meta")
  }

  /** The one (n_docs, tot_dl) summary row of a document-atomic postings
    * frame — exact integer sums, 0 for an empty frame.
    */
  private def docStats(terms: DataFrame): DataFrame =
    terms.groupBy(col("id")).agg(max(col("dl")).as("dl"))
      .agg(count(lit(1)).as("n_docs"),
        coalesce(sum(col("dl")), lit(0L)).as("tot_dl"))

  /** Build a stored BM25 index at `dir`: `lists/` = postings partitioned
    * by term bucket and `stats/` = one (n_docs, tot_dl) summary row, the
    * [[Compaction]] store's two views with the build as batch 0, plus
    * `meta/` = the bucket count (probes must hash with the same modulus).
    * Input `terms` as in [[bm25TopK]]: (id, term, tf, dl).
    */
  def writeBm25IndexVersioned(terms: DataFrame, dir: String,
      buckets: Int): Unit = {
    val spark = terms.sparkSession
    writeBm25Meta(spark, dir, buckets)
    Compaction.build(spark, dir, Bm25Stats -> docStats(terms),
      Bm25Lists -> terms.withColumn("bucket", termBucket(buckets)))
  }

  /** Replay-safe incremental ingestion into a [[writeBm25IndexVersioned]]
    * index ([[Compaction.ingest]]): the batch's postings and its own
    * summary row. Probes sum every stats row, so df/stats equal a
    * from-scratch build over the union exactly (df is counted from the
    * postings themselves; unlike the IVF quantizer nothing is frozen).
    *
    * Batches must be DOCUMENT-ATOMIC: all postings of a document arrive
    * in one batch, and a document id appears in exactly one batch ever —
    * a doc split across batches would be double-counted in the summed
    * (n_docs, tot_dl) stats and its straddling terms' df.
    */
  def ingestIntoBm25Index(batch: DataFrame, dir: String,
      batchId: Long): Unit = {
    val spark = batch.sparkSession
    val buckets = spark.read.parquet(s"$dir/meta").head().getInt(0)
    Compaction.ingest(spark, dir, batchId, Bm25Stats -> docStats(batch),
      Bm25Lists -> batch.withColumn("bucket", termBucket(buckets)))
  }

  /** Compact a batch-versioned BM25 index — the lexical sibling of
    * [[Similarity.compactIvfIndex]] through the same
    * [[Compaction.rewrite]]: postings consolidate to one file per bucket,
    * and the per-batch stats rows reduce to one summed row (stats sum by
    * design, so the summed row IS what probes would compute). Probe
    * results are identical pre/post (spec-pinned).
    *
    * @return the new epoch number
    */
  def compactBm25Index(spark: org.apache.spark.sql.SparkSession,
      dir: String): Int =
    Compaction.rewrite(spark, dir, Bm25Stats, Bm25Lists)(cur => Seq(
      cur(Bm25Stats.name)
        .agg(sum(col("n_docs")).as("n_docs"), sum(col("tot_dl")).as("tot_dl")),
      cur(Bm25Lists.name)))

  /** Run [[compactBm25Index]] only past `maxBatches` sealed batch
    * directories ([[Compaction.compactIfNeeded]]).
    *
    * @return the new epoch, or None when under threshold (no-op)
    */
  def compactBm25IndexIfNeeded(spark: org.apache.spark.sql.SparkSession,
      dir: String, maxBatches: Int): Option[Int] =
    Compaction.compactIfNeeded(spark, dir, "lists", maxBatches)(
      compactBm25Index(spark, dir))

  /** Physically DELETE documents from a stored BM25 index — the lexical
    * [[Similarity.deleteFromIvfIndex]]: rewrite the postings WITHOUT the
    * given doc ids and RECOUNT the (n_docs, tot_dl) summary from the
    * surviving postings (deleting documents shifts df, idf, and avgdl for
    * every later query — the part a postings-only delete would silently
    * corrupt), in one [[Compaction.rewrite]]. The recount is exact over
    * the surviving FRAME — NOT a subtraction from the old summary (so a
    * delete of an absent id, or a re-run of the same delete, cannot drift
    * the stats). df needs no stored fix-up: probes derive it from the
    * pruned postings themselves, which post-delete ARE the surviving
    * corpus. A post-delete probe is bit-identical to probing an index
    * built from the surviving corpus (spec-pinned). Each delete is an
    * index-sized rewrite (the compaction cost envelope), so a stream of
    * deletion requests runs it per trigger window, not per request
    * (erasure obligations allow days, not milliseconds); a replayed
    * window rewrites to the same contents.
    *
    * @param ids one column `id`; absent ids are ignored (idempotent)
    * @return the new epoch number
    */
  def deleteFromBm25Index(spark: org.apache.spark.sql.SparkSession,
      dir: String, ids: DataFrame): Int =
    Compaction.rewrite(spark, dir, Bm25Lists, Bm25Stats) { cur =>
      val survivors = cur(Bm25Lists.name)
        .join(ids.select(col("id")), Seq("id"), "left_anti")
        .persistScoped() // feeds the postings rewrite AND the stats recount
      Seq(survivors, docStats(survivors))
    }

  /** BM25 top-k per query against a stored [[writeBm25IndexVersioned]]
    * index: the query frame broadcasts into a
    * (bucket, term) join whose dynamic partition pruning opens only the
    * probed buckets; df comes from the pruned postings themselves and
    * corpus stats from the summed summary rows. Identical output to
    * [[bm25TopK]] over the same corpus — both paths end in
    * [[Retrieval#scoreAndRank]].
    */
  def bm25AgainstIndex(queries: DataFrame, dir: String, k: Int,
      k1: Double = 1.2, b: Double = 0.75,
      excludeSelf: Boolean = false): DataFrame = {
    val spark = queries.sparkSession
    val buckets = spark.read.parquet(s"$dir/meta").head().getInt(0)
    val store = Compaction.snapshot(spark, dir)
    val lists = store("lists")
    val stats = store("stats")
      .agg(sum(col("n_docs")).as("n_docs"), sum(col("tot_dl")).as("tot_dl"))
    val qb = queries.withColumn("bucket", termBucket(buckets))
    val matched = lists.join(broadcast(qb), Seq("bucket", "term"))
      .persistScoped() // feeds the df derivation AND the scoring pass
    // a term's postings live wholly inside its bucket, so the pruned scan
    // sees every posting of every query term: its per-term distinct doc
    // count IS the corpus df (distinct because two queries sharing a term
    // duplicate its postings in `matched`)
    val dfq = matched.groupBy(col("term"))
      .agg(count_distinct(col("id")).as("df"))
    val cand = matched.join(broadcast(dfq), "term")
      .crossJoin(broadcast(stats))
    scoreAndRank(cand, k, k1, b, excludeSelf)
  }
}
