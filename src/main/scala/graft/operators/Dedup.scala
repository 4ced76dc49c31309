package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.CacheScope.ScopedPersist

/** Deduplication operators for large-scale training-data pipelines: exact,
  * MinHash+LSH, SimHash, exact n-gram Jaccard, embedding-cosine near-dup.
  *
  * The reference has no dedup capability (its closest shape is the
  * JoinValidate anti-join, tez-examples/.../JoinValidate.java:131-210); these
  * are the LLM-pipeline extensions of SURVEY.md §7.2 step 6.
  *
  * Scale design: candidate generation is always *banded* (LSH buckets or
  * hash-chunk buckets), never an O(n²) cross join — at 100 TB the only
  * shuffles are explode-by-band + band-key join + distinct, all AQE-friendly
  * hash exchanges. Verification (exact Jaccard / hamming) runs only on
  * bucket-collision pairs. On adversarial data a hot band key can skew the
  * join; AQE skew-join splitting handles that (Engine.configure).
  *
  * Determinism: the hash family is built on md5 (same bytes in any engine),
  * so the DuckDB oracle can run the *identical algorithm* — candidates and
  * all — rather than a weaker rows-only check. A production variant would
  * swap [[SharedHash.hash28]] for xxhash64 (native, faster); semantics are
  * unchanged.
  */
object Dedup {

  /** Cross-engine deterministic hashes: int from a prefix of md5's hex.
    * Spark: conv(hex,16,10); DuckDB: CAST('0x'||hex AS BIGINT).
    */
  object SharedHash {
    /** 28-bit hash (7 hex chars) — small enough that a*x+b stays in int64. */
    def hash28(c: Column): Column =
      conv(substring(md5(c), 1, 7), 16, 10).cast("long")
    def hash28Sql(e: String): String =
      s"CAST('0x' || substr(md5($e),1,7) AS BIGINT)"

    /** 60-bit hash (15 hex chars) for SimHash bit sampling. */
    def hash60(c: Column): Column =
      conv(substring(md5(c), 1, 15), 16, 10).cast("long")
    def hash60Sql(e: String): String =
      s"CAST('0x' || substr(md5($e),1,15) AS BIGINT)"
  }

  val P = 1000000007L
  /** MinHash family h_i(x) = (a_i·x + b_i) mod P — fixed, engine-neutral. */
  def hashA(i: Int): Long = (i.toLong * 2654435761L + 1L) % P
  def hashB(i: Int): Long = (i.toLong * 40503L + 17L) % P

  /** Exact dedup groups: one row per distinct text hash with group size and
    * the survivor id (min). A single hash-partitioned aggregate — the
    * canonical 100 TB exact-dedup plan (partial agg on md5, tiny shuffle).
    */
  def exactGroups(df: DataFrame, text: Column, id: Column): DataFrame =
    df.groupBy(md5(text).as("text_hash"))
      .agg(count(lit(1)).as("n_dups"), min(id).as("keep_id"))

  /** MinHash signatures as a pure narrow map — zero shuffle: the shingle
    * hash array is materialized ONCE per row (as an attribute, so the slot
    * expressions share it instead of re-running md5 per slot), then the
    * whole signature comes from ONE native kernel call
    * (`NativeKernels.minhashSig` — tight JVM loop inside codegen; the
    * equivalent 64 × array_min(transform(...)) tree is interpreted HOF
    * soup with a huge first-run analysis/JIT bill).
    */
  def minhashSignatures(docs: DataFrame, numHashes: Int): DataFrame = {
    val sig = docs
      .withColumn("__xs", transform(col("shingles"), s => SharedHash.hash28(s)))
      .withColumn("__sig", graft.functions.minhash_sig(col("__xs"), numHashes))
    sig.select(
      col("id") +: (0 until numHashes).map(i =>
        element_at(col("__sig"), i + 1).as(s"m$i")): _*)
  }

  /** MinHash+LSH near-dup pairs with exact-Jaccard verification.
    *
    * Signatures come from the fused native kernel (words → shingles → md5
    * → numHashes mins in one pass, no materialized shingle strings);
    * candidates from band-key equi-joins; verification re-joins the
    * materialized distinct-shingle arrays for exact Jaccard ≥ `threshold`.
    *
    * Plan shape: scan → narrow signature kernel (zero shuffle) → explode
    * bands (×bands) → hash join on (band, key) → distinct pair ids →
    * re-join shingle arrays → narrow verify. No O(n²) stage anywhere.
    */
  /** Fused words→shingles→md5→minhash signature (id, m0..m{num-1}) — the
    * shared front half of every LSH variant. Pure narrow map.
    */
  private def lshSignatures(docs: DataFrame, n: Int, numHashes: Int): DataFrame =
    docs
      .withColumn("__w", split(lower(col("text")), """\s+"""))
      .withColumn("__sig", graft.functions.minhash_words(col("__w"), n, numHashes))
      .filter(col("__sig").isNotNull)
      .select(col("id") +: (0 until numHashes).map(i =>
        element_at(col("__sig"), i + 1).as(s"m$i")): _*)

  /** Explode a signature row into its `bands` (band, key) bucket rows. */
  private def bandKeys(sig: DataFrame, numHashes: Int, bands: Int): DataFrame = {
    val rows = numHashes / bands
    sig.select(
      col("id"),
      explode(array((0 until bands).map { b =>
        struct(lit(b).as("band"),
          concat_ws("_", (0 until rows).map(r =>
            col(s"m${b * rows + r}").cast("string")): _*).as("key"))
      }: _*)).as("bk"))
      .select(col("id"), col("bk.band").as("band"), col("bk.key").as("key"))
  }

  /** Sorted distinct-shingle arrays (id, sh, n_sh) for exact-Jaccard
    * verification with the one-pass merge kernel.
    */
  private[graft] def shingleArrays(docs: DataFrame, n: Int): DataFrame =
    TextOps.withShingles(docs, col("text"), n, "shingles")
      .withColumn("n_sh", size(col("shingles")))
      .filter(col("n_sh") > 0)
      .select(col("id"), sort_array(col("shingles")).as("sh"), col("n_sh"))

  def minhashLshPairs(
      docs: DataFrame, // columns: id, text
      n: Int,
      numHashes: Int,
      bands: Int,
      threshold: Double): DataFrame = {
    val rows = numHashes / bands
    require(bands * rows == numHashes, "bands must divide numHashes")
    // The shingled corpus feeds both sides of the verify join; caching it
    // avoids re-shingling. MEMORY_AND_DISK spills gracefully at scale —
    // same tradeoff Spark ML's MinHashLSH makes.
    val sh = shingleArrays(docs, n)
      .persistScoped()
    // sig is tiny (numHashes longs per doc) and feeds both sides of the
    // band self-join — persisting it pins exchange reuse instead of hoping
    // AQE's ReusedExchange fires.
    val sig = lshSignatures(docs, n, numHashes)
      .persistScoped()
    val banded = bandKeys(sig, numHashes, bands)
    val cand = banded.as("x")
      .join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"))
      .distinct()
    jaccardPairs(cand, sh, threshold)
  }

  /** Candidate pairs (id_a, id_b) verified by exact shingle Jaccard
    * against the sorted shingle arrays `sh` (id, sh, n_sh) of both sides:
    * (id_a, id_b, jaccard) with the 4-place jaccard ≥ `threshold`. The
    * one-pass sorted-merge kernel gives array_intersect's exactness over
    * the distinct shingle sets without a per-pair hash-set build (see
    * ngramJaccardPairsPrefix).
    */
  private def jaccardPairs(cand: DataFrame, sh: DataFrame,
      threshold: Double): DataFrame =
    cand
      .join(sh.as("a"), col("id_a") === col("a.id"))
      .join(sh.as("b"), col("id_b") === col("b.id"))
      .withColumn("n_common",
        graft.functions.sorted_intersect_count(col("a.sh"), col("b.sh")))
      .withColumn("jaccard",
        round(col("n_common").cast("double") /
          (col("a.n_sh") + col("b.n_sh") - col("n_common")), 4))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))

  /** Exact n-gram Jaccard pairs via the inverted-index (shared-shingle)
    * join: explode distinct shingles, self-join on shingle, count shared
    * occurrences per pair = |A∩B|, then J = c/(|A|+|B|-c).
    *
    * Exact (no banding) — the standard set-similarity join. Candidate count
    * is bounded by Σ df(s)², so at open-web scale a df cap / prefix filter
    * is mandatory; `maxDf` drops shingles seen in more than maxDf docs from
    * candidate generation (a shingle that common cannot push a pair over
    * `threshold` alone and only inflates candidates; 0 = no cap for exact
    * parity with the oracle).
    */
  def ngramJaccardPairs(
      docs: DataFrame, // columns: id, shingles
      threshold: Double,
      maxDf: Long = 0L): DataFrame = {
    // inverted index feeds both sides of the self-join — cache it.
    val sized = docs.withColumn("n_sh", size(col("shingles"))).filter(col("n_sh") > 0)
    val inv0 = sized.select(col("id"), col("n_sh"), explode(col("shingles")).as("s"))
      .persistScoped()
    val inv =
      if (maxDf <= 0) inv0
      else {
        val df_ = inv0.groupBy("s").agg(count(lit(1)).as("df"))
        inv0.join(broadcast(df_.filter(col("df") <= maxDf).select("s")), "s")
      }
    inv.as("x")
      .join(inv.as("y"), col("x.s") === col("y.s") && col("x.id") < col("y.id"))
      .groupBy(col("x.id").as("id_a"), col("y.id").as("id_b"),
        col("x.n_sh").as("na"), col("y.n_sh").as("nb"))
      .agg(count(lit(1)).as("n_common"))
      .withColumn("jaccard",
        round(col("n_common").cast("double") / (col("na") + col("nb") - col("n_common")), 4))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Exact n-gram Jaccard pairs via LOSSLESS prefix filtering — the
    * AllPairs/PPJoin scheme (Bayardo et al., WWW'07; Xiao et al., WWW'08):
    * order every doc's shingles by ascending global document frequency
    * (ties by shingle — a total order), keep only the first
    * `n_sh − ⌈t·n_sh⌉ + 1` as the doc's *prefix*, and generate candidates
    * from the prefix inverted index only. The prefix-filtering principle
    * guarantees this drops NO qualifying pair: J(A,B) ≥ t requires overlap
    * α = ⌈t/(1+t)·(|A|+|B|)⌉ ≥ ⌈t·|A|⌉ and ≥ ⌈t·|B|⌉, and two sets whose
    * prefixes (of length |x| − α + 1 or longer) are disjoint can overlap at
    * most α − 1 elements. Exact verification over the full shingle arrays
    * then returns rows IDENTICAL to [[ngramJaccardPairs]] — but candidate
    * generation sees only rare-shingle collisions (frequent shingles sit at
    * the tail of the order, outside every prefix), so the Σ df² stop-
    * shingle blow-up that makes the naive form a scale-killer on open-web
    * data never materializes. This is the default/benched form; the naive
    * form remains as the small-scale cross-check.
    */
  def ngramJaccardPairsPrefix(
      docs: DataFrame, // columns: id, shingles (distinct within a doc)
      threshold: Double): DataFrame = {
    val sized = sizedShingles(docs)
    val prefInv = rarestFirstPrefix(sized, threshold, selfJoin = true)
    // size filter: J ≥ t' forces t'·|B| ≤ |A| ≤ |B|/t' — a codegen'd
    // predicate on the raw collision rows, applied before the distinct.
    // t' = pruneT(t): acceptance is round(J, 4) ≥ t, which admits TRUE
    // J down to t − 5e-5, so every pruning bound uses the slacked t'
    val pt = pruneT(threshold)
    val cand = prefInv.as("x")
      .join(prefInv.as("y"),
        col("x.s") === col("y.s") && col("x.id") < col("y.id") &&
          col("x.n_sh") >= lit(pt) * col("y.n_sh") &&
          col("y.n_sh") >= lit(pt) * col("x.n_sh"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"))
    verifyPairs(sized, sized, cand)
      .withColumn("jaccard",
        round(col("n_common").cast("double") /
          (col("a.n_sh") + col("b.n_sh") - col("n_common")), 4))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
      .distinct()
  }

  /** Pruning-side threshold: acceptance filters compare `round(sim, 4) >=
    * t`, which admits pairs whose TRUE similarity is as low as t − 5e-5
    * (half-ULP of the 4-digit round). Every candidate-pruning bound —
    * prefix length and the |A|/|B| size pre-filters — must therefore be
    * computed against this slacked threshold, or a pair sitting in
    * [t − 5e-5, t) could be pruned by the index yet accepted by the
    * full-index oracle: an impl-vs-oracle divergence that only shows up
    * on large documents (≳4000 shingles), i.e. exactly at production
    * scale. Verification is exact and unaffected — the slack only widens
    * the candidate set by the razor-thin boundary band.
    */
  private def pruneT(threshold: Double): Double =
    math.max(threshold - 5e-5, 1e-9)

  /** `docs` with per-doc shingle counts, empty docs dropped, persisted
    * (feeds both candidate generation and the verify join).
    */
  private def sizedShingles(docs: DataFrame): DataFrame =
    docs.withColumn("n_sh", size(col("shingles"))).filter(col("n_sh") > 0)
      .persistScoped()

  /** The prefix inverted index (id, n_sh, s): each doc's shingles ordered
    * by ascending global document frequency (ties by shingle — a total
    * order), truncated to the first `n_sh − ⌈t·n_sh⌉ + 1`. Shared by the
    * Jaccard and containment prefix filters — the required overlap is
    * ⌈t·|A|⌉ in both, so the prefix length formula is identical.
    *
    * Per-doc df-ascending order via one aggregation (collect_list order is
    * nondeterministic; sort_array imposes the total (df, s) order). The
    * 1e-6 slack keeps an FP-rounded-up ceil from shortening the prefix —
    * a longer prefix only adds candidates, a shorter one could lose pairs.
    * The prefix length is computed against [[pruneT]], not the raw
    * threshold: acceptance rounds to 4 digits, so the prefix must stay
    * lossless down to t − 5e-5.
    *
    * `selfJoin = true` persists the result (it feeds BOTH sides of the
    * Jaccard candidate self-join); the containment forms consume it once
    * and must not pay a materialization + session cache entry for it.
    */
  private def rarestFirstPrefix(sized: DataFrame, threshold: Double,
      selfJoin: Boolean): DataFrame = {
    val inv = sized.select(col("id"), col("n_sh"), explode(col("shingles")).as("s"))
    val dfs = inv.groupBy("s").agg(count(lit(1)).as("df"))
    val pref = inv.join(dfs, "s")
      .groupBy(col("id"), col("n_sh"))
      .agg(sort_array(collect_list(struct(col("df"), col("s")))).as("ord"))
      .withColumn("p",
        (col("n_sh") - ceil(lit(pruneT(threshold)) * col("n_sh") - lit(1e-6)) + 1).cast("int"))
      .select(col("id"), col("n_sh"),
        explode(slice(col("ord"), lit(1), col("p")).getField("s")).as("s"))
    if (selfJoin)
      pref.persistScoped()
    else pref
  }

  /** Candidates (id_a, id_b) joined against both docs' SORTED shingle
    * arrays with the exact one-pass native merge count
    * (`NativeKernels.sortedIntersectCount`) — identical count to
    * size(array_intersect(...)) but no per-row hash-set build. A pair
    * colliding on several prefix shingles is verified that many times
    * (verify is cheap); callers run their `distinct()` on the tiny
    * qualifying output instead of the full candidate stream — one less
    * wide exchange. `sizedA`/`sizedB` are the id_a/id_b corpora (the same
    * frame for self-joins). Output: cand columns + `a.n_sh`, `b.n_sh`,
    * `n_common`.
    */
  private def verifyPairs(sizedA: DataFrame, sizedB: DataFrame,
      cand: DataFrame): DataFrame = {
    def sorted(s: DataFrame) =
      s.select(col("id"), sort_array(col("shingles")).as("sh"), col("n_sh"))
    cand
      .join(sorted(sizedA).as("a"), col("id_a") === col("a.id"))
      .join(sorted(sizedB).as("b"), col("id_b") === col("b.id"))
      .withColumn("n_common",
        graft.functions.sorted_intersect_count(col("a.sh"), col("b.sh")))
  }

  /** Cross-corpus containment — the decontamination form: for each PROBE
    * doc (the benchmark/eval set, typically small), every CORPUS doc that
    * contains it at C(probe→corpus) = |P∩C|/|P| ≥ threshold. This is the
    * detector n-gram-overlap decontamination (q71's shape) understates:
    * a short eval item pasted into a long page keeps containment ≈ 1.0
    * while its share of the page's shingles — and its Jaccard — vanishes.
    * Probe prefixes (rarest-first, over the probe corpus's OWN df order)
    * join the train corpus's full inverted index; |C| ≥ t·|P| is the only
    * index-side filter containment admits. Same lossless argument as
    * [[containmentPairs]].
    *
    * `smallProbe = true` (the decontamination contract: the probe IS the
    * eval suite — thousands of items against a trillion-doc corpus)
    * broadcast-hints the probe side of every join, so the train corpus's
    * inverted index and shingle arrays are NEVER shuffled: the whole
    * operator is (corpus scan + broadcast probe) → map-side candidate
    * join → verify, shuffle-free on the corpus side. Set it false only
    * when the probe is itself corpus-sized (then the equi-join shuffles
    * both sides, which is the right plan at that shape — and AQE would
    * refuse the broadcast anyway at runtime if the hint lied).
    */
  def containmentAgainst(probe: DataFrame, corpus: DataFrame,
      threshold: Double, smallProbe: Boolean = true): DataFrame = {
    def hinted(df: DataFrame): DataFrame =
      if (smallProbe) broadcast(df) else df
    val sizedP = sizedShingles(probe)
    val sizedC = sizedShingles(corpus)
    val prefProbe = rarestFirstPrefix(sizedP, threshold, selfJoin = false)
    val invC = sizedC.select(col("id"), col("n_sh"), explode(col("shingles")).as("s"))
    val cand = hinted(prefProbe).as("x")
      .join(invC.as("y"),
        col("x.s") === col("y.s") &&
          col("y.n_sh") >= lit(pruneT(threshold)) * col("x.n_sh"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"))
    // Verify inline rather than via verifyPairs: the probe-side result of
    // each join stays small (≤ prefix collisions of the eval set), so the
    // hint must sit on the JOINED probe side too — hinting only the
    // inputs would leave the second verify join unhinted (hints bind to
    // the nearest ancestor join) and shuffle the corpus's sorted arrays.
    def sortedSh(s: DataFrame) =
      s.select(col("id"), sort_array(col("shingles")).as("sh"), col("n_sh"))
    val withProbe = hinted(
      cand.join(hinted(sortedSh(sizedP)).as("a"), col("id_a") === col("a.id")))
    withProbe
      .join(sortedSh(sizedC).as("b"), col("id_b") === col("b.id"))
      .withColumn("n_common",
        graft.functions.sorted_intersect_count(col("a.sh"), col("b.sh")))
      .withColumn("containment",
        round(col("n_common").cast("double") / col("a.n_sh"), 4))
      .filter(col("containment") >= threshold)
      .select(col("id_a"), col("id_b"), col("containment"))
      .distinct()
  }

  /** Asymmetric containment pairs: (id_a, id_b, containment) where
    * C(A→B) = |A ∩ B| / |A| ≥ threshold and a ≠ b — "A's shingles are
    * mostly inside B". This is the QUOTE/SUBSET detector Jaccard misses:
    * a paragraph copied into a much larger page scores near-zero Jaccard
    * (union is huge) but containment 1.0. Prefix filtering adapts
    * losslessly to the asymmetric case with the probe-side-only prefix:
    * C ≥ t needs overlap α ≥ ⌈t·|A|⌉, so if none of A's first
    * |A| − ⌈t·|A|⌉ + 1 shingles (rarest-first order) hits B, the overlap
    * is ≤ ⌈t·|A|⌉ − 1 — B must collide with A's prefix to qualify. The
    * INDEX side stays full (α depends on |A|, unknown at index time),
    * but join keys come only from probe prefixes — rare shingles — so
    * the df² stop-shingle blow-up still never materializes. The only
    * index-side pre-filter containment admits is |B| ≥ t·|A| (overlap
    * can't exceed |B|), applied as a codegen'd predicate on the
    * collision rows. Verify is the exact native sorted-merge count over
    * the full arrays, divided by |A| only.
    */
  def containmentPairs(
      docs: DataFrame, // columns: id, shingles (distinct within a doc)
      threshold: Double): DataFrame = {
    val sized = sizedShingles(docs)
    // probe side: the shared rarest-first prefix (required overlap is
    // ⌈t·|A|⌉, same as Jaccard); index side: the FULL inverted index —
    // containment puts no size-dependent prefix on B, only |B| ≥ t·|A|
    val prefProbe = rarestFirstPrefix(sized, threshold, selfJoin = false)
    val inv = sized.select(col("id"), col("n_sh"), explode(col("shingles")).as("s"))
    val cand = prefProbe.as("x")
      .join(inv.as("y"),
        col("x.s") === col("y.s") && col("x.id") =!= col("y.id") &&
          col("y.n_sh") >= lit(pruneT(threshold)) * col("x.n_sh"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"))
    verifyPairs(sized, sized, cand)
      .withColumn("containment",
        round(col("n_common").cast("double") / col("a.n_sh"), 4))
      .filter(col("containment") >= threshold)
      .select(col("id_a"), col("id_b"), col("containment"))
      .distinct()
  }

  /** End-to-end corpus dedup: drop exact duplicates (keep min id per
    * identical text) then near-duplicates (drop any doc similar to a
    * lower-id doc at Jaccard ≥ threshold via MinHash-LSH). The keep-lowest
    * policy is deterministic and fully distributed: two anti-joins, no
    * driver-side union-find — at 100 TB the survivors never leave the
    * executors.
    */
  def dedupCorpus(docs: DataFrame, // columns: id, text
      n: Int = 3, numHashes: Int = 64, bands: Int = 16,
      threshold: Double = 0.8): DataFrame = {
    // Exact stage = the same partial-min hash aggregate as [[exactGroups]]
    // + a semi-join on the surviving ids — O(1) aggregation state per text
    // hash, so a pathological duplicate (site boilerplate repeated 10⁹×)
    // costs one combiner cell per partition, never a windowed sort of the
    // hot group in a single task (the previous window-min form's fragility).
    // Persisted because it feeds THREE consumers (shingling + signatures
    // inside minhashLshPairs, and the final anti-join).
    val keepIds = exactGroups(docs, col("text"), col("id"))
      .select(col("keep_id").as("id"))
    val exactSurvivors = docs
      .join(keepIds, Seq("id"), "left_semi")
      .persistScoped()
    val nearPairs = minhashLshPairs(exactSurvivors, n, numHashes, bands, threshold)
      .select(col("id_b").as("drop_id")).distinct()
    exactSurvivors.join(nearPairs, col("id") === col("drop_id"), "left_anti")
  }

  /** Incremental (cross-corpus) dedup: of the `newDocs` batch, keep only
    * documents that are neither an exact copy nor a near-duplicate
    * (MinHash-LSH, Jaccard ≥ threshold) of ANY document already in
    * `existing` — the ingestion-time step that keeps a continuously
    * crawled 100 TB corpus duplicate-free without re-deduping the whole
    * corpus per batch. Within-batch duplicates are out of scope here
    * (compose with [[dedupCorpus]] on the batch).
    *
    * Scale design: both corpora flow through the same narrow signature
    * kernel; candidates come from the band-key equi-join ACROSS corpora
    * (new × existing — no self-joins, no id ordering), verification runs
    * only on bucket collisions. The existing side is touched once for
    * signatures + once for shingle arrays of candidate ids; in production
    * both are precomputed-and-stored once per corpus, making a batch's
    * marginal cost proportional to the batch, not the corpus.
    */
  def dedupAgainst(newDocs: DataFrame, existing: DataFrame, // columns: id, text
      n: Int = 3, numHashes: Int = 64, bands: Int = 16,
      threshold: Double = 0.8): DataFrame =
    dedupAgainstParts(newDocs,
      existing.select(md5(col("text")).as("h")),
      bandKeys(lshSignatures(existing, n, numHashes), numHashes, bands),
      shingleArrays(existing, n),
      n, numHashes, bands, threshold)

  /** Store views of the versioned corpus index (the `hashes` view is
    * shared with the aHash store, whose rows differ but whose write does
    * not).
    */
  private val Hashes = Compaction.View("hashes")
  private val CorpusBands = Compaction.View.partitioned("bands", "band")
  private val Shingles = Compaction.View("shingles")
  private val Chunks = Compaction.View("chunks")

  /** The versioned corpus index's views for one doc batch; the chunk view
    * only when `chunks` is set.
    */
  private def corpusViews(docs: DataFrame, n: Int, numHashes: Int,
      bands: Int, chunks: Option[(Int, Int)])
      : Seq[(Compaction.View, DataFrame)] =
    Seq(Hashes -> docs.select(col("id"), md5(col("text")).as("h")),
      CorpusBands -> bandKeys(lshSignatures(docs, n, numHashes), numHashes, bands),
      Shingles -> shingleArrays(docs, n)) ++
      chunks.map { case (w, m) => Chunks -> cdcChunkView(docs, w, m) }

  /** Build the stored dedup index: the derived views of a corpus that
    * [[dedupAgainst]] actually joins against — `hashes` (doc id, exact-text
    * hash), `bands` (LSH band keys, partitioned by band so a probe scans
    * only colliding bands), `shingles` (shingle arrays) and `chunks`
    * ([[cdcChunkView]]) — as [[Compaction]] store views with the build as
    * batch 0. At 100 TB this is the production shape: the index is built
    * (or incrementally ingested) when documents arrive, and each new
    * batch's dedup cost is then proportional to the BATCH, never the
    * corpus. The doc id in `hashes` is what lets [[deleteFromCorpusIndex]]
    * erase a document's hash row. The band view's rebalance shuffles
    * (band, key, id) band keys — index metadata, never the corpus text.
    */
  def writeCorpusIndexVersioned(docs: DataFrame, dir: String,
      n: Int = 3, numHashes: Int = 64, bands: Int = 16,
      cdcWindow: Int = 3, cdcModulus: Int = 8): Unit =
    Compaction.build(docs.sparkSession, dir,
      corpusViews(docs, n, numHashes, bands, Some((cdcWindow, cdcModulus))): _*)

  /** The (id, chunk_idx, chunk_md5) CDC-chunk view of a doc batch — the
    * fourth index view ([[cdcChunks]]'s content-anchored boundaries), so
    * an incremental ingest can dedup INSERTION-EDITED documents against
    * prior batches: fixed segments all shift after an edit, CDC chunks
    * re-synchronize, so chunk-hash overlap against the stored view finds
    * the near-copy the shingle views see only probabilistically.
    */
  private[graft] def cdcChunkView(docs: DataFrame, window: Int,
      modulus: Int): DataFrame =
    cdcChunks(docs, col("id"), col("text"), window, modulus)
      .select(col("id"), col("chunk_idx"), col("chunk_md5"))

  /** Replay-safe incremental ingestion into a [[writeCorpusIndexVersioned]]
    * index ([[Compaction.ingest]]); per-ingest cost stays ∝ batch. The
    * chunk view is ingested only when the build wrote one (the fourth
    * view is round-12+; older three-view stores keep ingesting three — no
    * silent half-indexed view).
    */
  def ingestIntoCorpusIndex(docs: DataFrame, dir: String, batchId: Long,
      n: Int = 3, numHashes: Int = 64, bands: Int = 16,
      cdcWindow: Int = 3, cdcModulus: Int = 8): Unit = {
    val spark = docs.sparkSession
    val chunks =
      if (Compaction.hasView(spark, dir, Chunks.name)) Some((cdcWindow, cdcModulus))
      else None
    Compaction.ingest(spark, dir, batchId,
      corpusViews(docs, n, numHashes, bands, chunks): _*)
  }

  /** The live views of a stored corpus index (three or four). */
  private def liveCorpusViews(spark: org.apache.spark.sql.SparkSession,
      dir: String): Seq[Compaction.View] =
    Seq(Hashes, CorpusBands, Shingles) ++
      (if (Compaction.hasView(spark, dir, Chunks.name)) Seq(Chunks) else Nil)

  /** Compact a batch-versioned dedup index ([[Compaction.compact]] of
    * every view): bands re-pack to one file per band directory — the
    * probe's DPP unit. Probe results identical pre/post (spec-pinned).
    *
    * @return the new epoch number
    */
  def compactCorpusIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String): Int =
    Compaction.compact(spark, dir, liveCorpusViews(spark, dir): _*)

  /** Auto-compaction trigger for the dedup index ([[Compaction.compactIfNeeded]]),
    * thresholding on the bands store — the probe's DPP-pruned view, where
    * listing cost bites first.
    *
    * @return the new epoch, or None when under threshold (no-op)
    */
  def compactCorpusIndexIfNeeded(spark: org.apache.spark.sql.SparkSession,
      dir: String, maxBatches: Int): Option[Int] =
    Compaction.compactIfNeeded(spark, dir, "bands", maxBatches)(
      compactCorpusIndex(spark, dir))

  /** Physically DELETE documents from a stored dedup index — the erasure
    * op the BM25/IVF/PQ families have, owed here just as much: the index
    * stores text hashes and shingle arrays, i.e. DERIVED PERSONAL DATA
    * under the same right-to-be-forgotten obligation as the documents
    * themselves. The [[Compaction.delete]] anti-join rewrite of every
    * view; a post-delete probe is identical to probing an index built
    * from the survivors (spec-pinned — band keys and shingles are
    * per-document, nothing cross-document to recount).
    *
    * @param ids one column `id`; absent ids are ignored (idempotent)
    * @return the new epoch number
    */
  def deleteFromCorpusIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String, ids: DataFrame): Int =
    Compaction.delete(spark, dir, "id", ids, liveCorpusViews(spark, dir): _*)

  /** CDC duplicate-chunk report straight off a stored index's `chunks/`
    * view — [[cdcChunks]]'s q201-shaped output (id, n_chunks, dup_chunks,
    * dup_frac) with first-owner election across EVERY batch in the live
    * epoch, so ingested documents dedup against prior batches (and vice
    * versa: an earlier doc re-ranks as owner over a later near-copy).
    * Chunking is per-document, so a build+ingest index reports EXACTLY
    * what a one-shot corpus run reports — the store+ingest ≡ one-shot
    * contract (q197's CountMin linearity argument, here by per-doc
    * decomposition).
    *
    * Cost: one scan of the chunk view + one (chunk_md5 → min id) hash
    * aggregate (map-side combined) + one hash join back — never the
    * documents themselves.
    */
  def cdcReportFromIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    cdcReport(Compaction.snapshot(spark, dir)("chunks")
      .select(col("id"), col("chunk_md5")))

  /** The CDC duplicate-chunk report of an (id, chunk_md5) frame — other
    * columns are ignored, and the frame is read twice, so persist a
    * computed one: per doc, its chunk count, the chunks whose first owner
    * (lowest id with that chunk, the q81 election at chunk level) is
    * another doc, and the duplicated fraction. Output: doc_id, n_chunks,
    * dup_chunks, dup_frac.
    */
  private[graft] def cdcReport(ch: DataFrame): DataFrame = {
    val own = ch.groupBy(col("chunk_md5")).agg(min(col("id")).as("owner"))
    ch.join(own, "chunk_md5")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("owner") =!= col("id"), 1L).otherwise(0L))
          .as("dup_chunks"))
      .select(col("id").as("doc_id"), col("n_chunks"), col("dup_chunks"),
        round(col("dup_chunks").cast("double") / col("n_chunks"), 4)
          .as("dup_frac"))
  }

  /** Batch `batchId` of the three-view corpus index (hashes with doc ids,
    * band keys, shingles): the build (batch 0) of a store whose probes
    * never read the CDC chunk view, and every batch of a stream whose
    * first micro-batch is the store's build — later batches overwrite
    * their own directories ([[Compaction]]'s replay-safe ingest). The
    * views are the ones [[writeCorpusIndexVersioned]] writes, so such a
    * store compacts, probes and deletes like a built one.
    */
  private[graft] def writeCorpusIndexBatch(docs: DataFrame, dir: String,
      batchId: Long, n: Int, numHashes: Int, bands: Int): Unit =
    Compaction.writeBatch(docs.sparkSession, dir, batchId,
      corpusViews(docs, n, numHashes, bands, None): _*)

  /** The store batches before `beforeBatch` of a versioned view (all of
    * it when None) — the pre-batch state a replayed batch must probe.
    */
  private def priorBatches(view: DataFrame,
      beforeBatch: Option[Long]): DataFrame = beforeBatch match {
    case Some(b) => view.filter(col("batch").cast("long") < b)
    case None => view
  }

  /** [[dedupAgainst]] against a stored [[writeCorpusIndexVersioned]] —
    * identical output, corpus-side compute replaced by three parquet
    * scans. `beforeBatch` restricts the index side to batches < b, so a
    * crash-replayed batch probes exactly what its first attempt probed,
    * even after its own index batch landed.
    */
  def dedupAgainstIndex(newDocs: DataFrame, dir: String,
      n: Int = 3, numHashes: Int = 64, bands: Int = 16,
      threshold: Double = 0.8, beforeBatch: Option[Long] = None): DataFrame = {
    // an epoch-resolved read. Columns are selected explicitly: the views
    // carry `batch` (and hashes an `id`) the probe's joins must not
    // capture.
    val store = Compaction.snapshot(newDocs.sparkSession, dir)
    dedupAgainstParts(newDocs,
      priorBatches(store("hashes"), beforeBatch).select(col("h")),
      priorBatches(store("bands"), beforeBatch)
        .select(col("id"), col("band"), col("key")),
      priorBatches(store("shingles"), beforeBatch)
        .select(col("id"), col("sh"), col("n_sh")),
      n, numHashes, bands, threshold)
  }

  private[graft] def dedupAgainstParts(newDocs: DataFrame, exHashes: DataFrame,
      exBands: DataFrame, exShingles: DataFrame,
      n: Int, numHashes: Int, bands: Int, threshold: Double): DataFrame = {
    val nd = newDocs.persistScoped()
    val exactDrops = nd.select(col("id"), md5(col("text")).as("h"))
      .join(exHashes, "h")
      .select(col("id"))
    val nearDrops = crossIndexPairs(nd, exBands, exShingles,
      n, numHashes, bands, threshold)
      .select(col("id_n").as("id"))
    nd.join(exactDrops.union(nearDrops).distinct(),
      Seq("id"), "left_anti")
  }

  /** Verified near-dup PAIRS of a batch against a stored corpus index —
    * within-batch pairs ([[minhashLshPairs]]) plus (existing, new) cross
    * pairs (band-key candidates verified by exact shingle Jaccard): the
    * EDGE FEED for the incremental clustering ([[ingestIntoCcLabels]]).
    * `beforeBatch` restricts the index side to batches < b so a
    * crash-replayed batch derives the IDENTICAL pair
    * set even after its own corpus-index ingest landed — the
    * pre-batch-state contract the CC ingest itself follows.
    */
  def nearDupPairsAgainstIndex(newDocs: DataFrame, dir: String,
      n: Int = 3, numHashes: Int = 64, bands: Int = 16,
      threshold: Double = 0.8, beforeBatch: Option[Long] = None): DataFrame = {
    val store = Compaction.snapshot(newDocs.sparkSession, dir)
    val nd = newDocs.persistScoped()
    val within = minhashLshPairs(nd, n, numHashes, bands, threshold)
      .select(col("id_a"), col("id_b"))
    val exBands = priorBatches(store("bands"), beforeBatch)
      .select(col("id"), col("band"), col("key"))
    val exShingles = priorBatches(store("shingles"), beforeBatch)
      .select(col("id"), col("sh"), col("n_sh"))
    val cross = crossIndexPairs(nd, exBands, exShingles,
      n, numHashes, bands, threshold)
      .select(col("id_e").as("id_a"), col("id_n").as("id_b"))
    within.unionByName(cross)
  }

  /** The new docs' band-key candidates against a stored corpus index's
    * band (id, band, key) and shingle (id, sh, n_sh) views, verified by
    * exact shingle Jaccard ≥ `threshold`: the (id_n, id_e) pairs of a
    * new doc and an existing near-dup of it.
    */
  private def crossIndexPairs(nd: DataFrame, exBands: DataFrame,
      exShingles: DataFrame, n: Int, numHashes: Int, bands: Int,
      threshold: Double): DataFrame = {
    val bandedNew = bandKeys(lshSignatures(nd, n, numHashes), numHashes, bands)
    val cand = bandedNew.as("x")
      .join(exBands.as("y"),
        col("x.band") === col("y.band") && col("x.key") === col("y.key"))
      .select(col("x.id").as("id_n"), col("y.id").as("id_e"))
      .distinct()
    cand
      .join(shingleArrays(nd, n).as("a"), col("id_n") === col("a.id"))
      .join(exShingles.as("b"), col("id_e") === col("b.id"))
      .withColumn("n_common",
        graft.functions.sorted_intersect_count(col("a.sh"), col("b.sh")))
      .filter(round(col("n_common").cast("double") /
        (col("a.n_sh") + col("b.n_sh") - col("n_common")), 4) >= threshold)
      .select(col("id_n"), col("id_e"))
  }

  /** Distributed connected components over a near-dup pair graph:
    * cluster id = min doc id reachable through the similarity relation.
    *
    * HYBRID implementation, tuned for the two graph shapes that actually
    * occur: (1) a few rounds of cheap min-label propagation — near-dup
    * clusters are dense (diameter 1-2), so the common case converges here
    * at one join + one aggregate per round; (2) if not converged, the
    * residue is deep (chain-shaped), so the remaining work runs as the
    * ALTERNATING-STAR algorithm (Kiveris et al., "Connected Components in
    * MapReduce and Beyond", SoCC'14) on the QUOTIENT graph (edges between
    * phase-1 labels — no larger than the input, usually much smaller).
    * Star rounds contract paths multiplicatively, so a diameter-d chain
    * finishes in O(log d) alternating rounds vs d propagation rounds
    * (`DedupSpec` pins the round-count gap on a 1000-node path). Phase-1
    * labels are valid partial contractions (each label is the min id of a
    * connected subset, and every component min labels itself), so
    * composing the quotient's labels through phase 1's is exact.
    *
    * The driver observes only per-round convergence counts, never the
    * data; eager `localCheckpoint` truncates lineage each round. At
    * 100 TB: |E| is the (banded, verified) pair set — orders of magnitude
    * smaller than the corpus; each round shuffles O(|E|) rows of two
    * longs. This is the transitive-closure step that [[dedupCorpus]]'s
    * one-shot keep-lowest policy deliberately skips — use it when
    * "A≈B≈C ⇒ one survivor for all three" must hold even though A≉C
    * directly.
    */
  def connectedComponents(edges: DataFrame, // columns: id_a, id_b
      maxIter: Int = 50): DataFrame = {
    val und = symmetrized(edges)
      .persistScoped()
    val (labels, _, converged) = minLabelLoop(und, maxRounds = 3)
    val out =
      if (converged) labels
      else {
        val q = und
          .join(labels.select(col("id").as("src"), col("comp").as("__qa")), Seq("src"))
          .join(labels.select(col("id").as("dst"), col("comp").as("__qb")), Seq("dst"))
          .filter(col("__qa") =!= col("__qb"))
          .select(col("__qa").as("id_a"), col("__qb").as("id_b"))
          .distinct()
        val (qlabels, _) = connectedComponentsAltStarRounds(q, maxIter)
        labels.join(
            qlabels.select(col("id").as("__c1"), col("comp").as("__c2")),
            col("comp") === col("__c1"), "left")
          .select(col("id"), coalesce(col("__c2"), col("comp")).as("comp"))
      }
    und.unpersist(blocking = false)
    out
  }

  /** Undirected view of an (id_a, id_b) pair set — ONE pass over `edges`
    * (explode of a 2-element array) instead of union(edges,
    * edges.flipped): a union evaluates its input twice, and `edges` is
    * typically the whole LSH candidate pipeline.
    */
  private def symmetrized(edges: DataFrame): DataFrame =
    edges.select(explode(array(
        struct(col("id_a").as("src"), col("id_b").as("dst")),
        struct(col("id_b").as("src"), col("id_a").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))

  /** [[connectedComponents]] exposing the number of alternating rounds
    * actually run — one round = one large-star + one small-star + the
    * fixpoint check.
    */
  private[operators] def connectedComponentsAltStarRounds(edges: DataFrame,
      maxIter: Int): (DataFrame, Int) = {
    // Undirected edge set, deduped, self-loops dropped; the vertex set is
    // captured ONCE up front (star rounds erase converged singleton stars'
    // roots from the src side, and self-loop-only vertices entirely).
    val e0 = edges.select(col("id_a").as("src"), col("id_b").as("dst"))
      .filter(col("src") =!= col("dst"))
    // eager checkpoint, not a lazy persist: the final labels join must not
    // re-derive the (possibly expensive) upstream edge pipeline after the
    // caller has released it
    val verts = e0.select(explode(array(col("src"), col("dst"))).as("id"))
      .distinct().localCheckpoint(true)
    // large-star: for every u, m = min(Γ(u) ∪ {u}); emit (v, m) for each
    // neighbor v > u. small-star: orient edges large→small, m = min of u's
    // smaller neighborhood (∪ {u}); emit (v, m) for the smaller neighbors
    // AND u itself. Both are one aggregate + one join, both keep every
    // edge's endpoints connected through m (connectivity-preserving).
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.select(explode(array(
          struct(col("src"), col("dst")),
          struct(col("dst").as("src"), col("src").as("dst")))).as("p"))
        .select(col("p.src").as("src"), col("p.dst").as("dst"))
      val mins = sym.groupBy(col("src").as("u"))
        .agg(least(col("u"), min(col("dst"))).as("m"))
      sym.join(mins, col("src") === col("u"))
        .filter(col("dst") > col("src"))
        .select(col("dst").as("src"), col("m").as("dst"))
        .distinct()
    }
    def smallStar(e: DataFrame): DataFrame = {
      val oriented = e.select(
        greatest(col("src"), col("dst")).as("src"),
        least(col("src"), col("dst")).as("dst"))
      val mins = oriented.groupBy(col("src").as("u")).agg(min(col("dst")).as("m"))
      oriented.join(mins, col("src") === col("u"))
        .select(explode(array(col("dst"), col("src"))).as("src"), col("m").as("dst"))
        .filter(col("src") =!= col("dst"))
        .distinct()
    }
    var e = e0.distinct().localCheckpoint(true)
    var iter = 0
    var changed = 1L
    while (changed > 0 && iter < maxIter) {
      // lazy: the fixpoint counts below materialize it (one job fewer
      // per round); the init checkpoint above stays EAGER — largeStar
      // reads its input twice before any count could materialize it
      val next = smallStar(largeStar(e)).localCheckpoint(eager = false)
      // fixpoint test on the checkpointed sets: tiny long-pair frames,
      // two anti-joins (set equality), executor-side
      changed = next.join(e, Seq("src", "dst"), "left_anti").count() +
        e.join(next, Seq("src", "dst"), "left_anti").count()
      e = next
      iter += 1
    }
    // At the fixpoint e is min-rooted stars: every non-root is a src
    // exactly once. groupBy-min instead of a bare select guards the
    // maxIter-hit case (multiple tentative parents → take the min).
    val parents = e.groupBy(col("src").as("id")).agg(min(col("dst")).as("p"))
    val labels = verts.join(parents, Seq("id"), "left")
      .select(col("id"), coalesce(col("p"), col("id")).as("comp"))
    (labels, iter)
  }

  // ===== Incremental connected-components labeling ========================

  /** Persist a near-dup CLUSTERING artifact — (id, comp) labels with
    * comp = min member id, [[connectedComponents]]' canonical form — in
    * the [[Compaction]] store layout: the `labels` view plus an
    * (initially empty) `remap` view of MERGE EVENTS. The clustering
    * every leakage-safe op downstream consumes (q170's split, q194's
    * batches, q135's reps) becomes maintainable under ingestion instead
    * of recomputed from scratch per batch.
    *
    * The incremental contract (min-label algebra): a stored component's
    * label is the min id of its members, so merging components {A, B}
    * with new docs N yields label min(label(A), label(B), min(N)) — the
    * exact from-scratch label of the union component. Ingest therefore
    * only needs CC over the QUOTIENT graph (batch ids + touched
    * component labels), which is batch-sized; existing rows are never
    * rewritten — label changes land as (from_comp → to_comp) remap rows
    * that readers apply in batch order and compaction folds in.
    *
    * Every doc id gets a row (isolated docs label themselves).
    */
  def writeCcLabels(ids: DataFrame, edges: DataFrame, dir: String): Unit = {
    val spark = ids.sparkSession
    // Mirror the ingest's dangling-endpoint require: an endpoint outside
    // `ids` would silently become a component label (min id) with no row
    // in the store. Batch-bounded: explode(edges) anti-joined to ids.
    val dangling = edges
      .select(explode(array(col("id_a"), col("id_b"))).as("id")).distinct()
      .join(ids.select(col("id")), Seq("id"), "left_anti").count()
    require(dangling == 0,
      s"$dangling edge endpoint(s) not present in the id set")
    val labels = connectedComponents(edges.select(col("id_a"), col("id_b")))
      .withColumnRenamed("id", "lid")
    Compaction.build(spark, dir,
      CcLabels -> ids.select(col("id"))
        .join(labels, col("id") === col("lid"), "left")
        .select(col("id"), coalesce(col("comp"), col("id")).as("comp")),
      CcRemap -> emptyCcRemap(spark))
  }

  /** The CC store's views; merge events are tiny, so every remap batch is
    * one file.
    */
  private val CcLabels = Compaction.View("labels")
  private val CcRemap = Compaction.View("remap",
    ingestLayout = _.coalesce(1), rewriteLayout = _.coalesce(1))

  /** Schema-carrying empty remap frame (one empty file still writes). */
  private def emptyCcRemap(spark: org.apache.spark.sql.SparkSession): DataFrame =
    spark.range(0).select(col("id").as("from_comp"), col("id").as("to_comp"))

  /** Replay-safe incremental ingestion into a [[writeCcLabels]] store:
    * `edges` are the batch's near-dup pairs (≥ one endpoint in
    * `batchIds`; the other may be an existing doc — e.g. from a stored
    * dedup-index probe). Each endpoint maps to its QUOTIENT node (itself
    * if new, its current resolved component label if existing), CC runs
    * on that batch-sized quotient graph, and the batch writes:
    *
    *  - `labels`: the new docs' labels;
    *  - `remap`: (from_comp → to_comp) rows for every EXISTING component
    *    the batch merged (the merge events; usually empty or tiny).
    *
    * Cost ∝ batch: resolved labels are semi-filtered to the touched ids
    * under a broadcast of the batch's endpoint set before anything
    * joins, so the corpus-sized label store is scanned once and never
    * shuffled; the quotient CC runs on ≤ |batch edges| edges.
    */
  def ingestIntoCcLabels(batchIds: DataFrame, edges: DataFrame, dir: String,
      batchId: Long): Unit = {
    require(batchId >= 1, s"batch 0 is the build (got $batchId)")
    val spark = batchIds.sparkSession
    import graft.CacheScope.ScopedPersist
    val bIds = batchIds.select(col("id")).persistScoped()
    val ed = edges.select(col("id_a"), col("id_b")).persistScoped()
    val touched = ed.select(explode(array(col("id_a"), col("id_b"))).as("id"))
      .distinct().persistScoped() // ≤ 2·|batch edges| — batch-bounded
    // resolve against batches < batchId ONLY: a replayed batch must
    // recompute from the PRE-BATCH state, or it would observe its own
    // earlier remap as already-applied, re-derive an EMPTY merge set,
    // and overwrite-erase the recorded merge events (the replay-
    // convergence bug the lifecycle spec caught)
    val curT = ccLabelsResolvedBefore(spark, dir, batchId)
      .join(broadcast(touched), Seq("id"), "left_semi")
      .persistScoped() // batch-bounded: only touched existing ids survive
    val qe = ed
      .join(broadcast(bIds.select(col("id").as("id_a"),
        lit(true).as("__na"))), Seq("id_a"), "left")
      .join(broadcast(bIds.select(col("id").as("id_b"),
        lit(true).as("__nb"))), Seq("id_b"), "left")
      .join(broadcast(curT.select(col("id").as("id_a"),
        col("comp").as("__ca"))), Seq("id_a"), "left")
      .join(broadcast(curT.select(col("id").as("id_b"),
        col("comp").as("__cb"))), Seq("id_b"), "left")
      .select(
        when(col("__na"), col("id_a")).otherwise(col("__ca")).as("id_a"),
        when(col("__nb"), col("id_b")).otherwise(col("__cb")).as("id_b"))
      .persistScoped()
    val dangling = qe.filter(col("id_a").isNull || col("id_b").isNull).count()
    require(dangling == 0,
      s"$dangling edge endpoint(s) neither in the batch nor in the stored labels")
    val qlabels = connectedComponents(qe.filter(col("id_a") =!= col("id_b")))
      .persistScoped() // quotient-sized
    Compaction.ingest(spark, dir, batchId,
      CcLabels -> bIds
        .join(qlabels.select(col("id"), col("comp")), Seq("id"), "left")
        .select(col("id"), coalesce(col("comp"), col("id")).as("comp")),
      CcRemap -> curT.select(col("comp").as("from_comp")).distinct()
        .join(qlabels.select(col("id").as("from_comp"),
          col("comp").as("to_comp")), Seq("from_comp"))
        .filter(col("from_comp") =!= col("to_comp")))
  }

  /** The store's current (id, comp) labeling: base labels with every
    * batch's remap applied IN BATCH ORDER (each remap maps labels as
    * resolved at its own ingest time, so sequential application
    * composes exactly). Remap tables are merge events — tiny — and
    * broadcast; chain depth is bounded by the batches since the last
    * [[compactCcLabels]].
    */
  def ccLabelsResolved(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    ccResolve(Compaction.snapshot(spark, dir), Long.MaxValue)

  /** Resolution over batches < `beforeBatch` only — the pre-batch view an
    * ingest derives its quotient from (replay convergence demands the
    * batch's output be a pure function of the PRE-batch store).
    */
  private def ccLabelsResolvedBefore(spark: org.apache.spark.sql.SparkSession,
      dir: String, beforeBatch: Long): DataFrame =
    ccResolve(Compaction.snapshot(spark, dir), beforeBatch)

  private def ccResolve(store: String => DataFrame,
      beforeBatch: Long): DataFrame = {
    val labels = store(CcLabels.name)
      .filter(col("batch").cast("long") < beforeBatch)
      .select(col("id"), col("comp"))
    val remap = store(CcRemap.name)
    val batches = remap.select(col("batch").cast("long")).distinct()
      .collect().map(_.getLong(0)).filter(_ < beforeBatch).sorted
    batches.foldLeft(labels) { (acc, b) =>
      acc.join(broadcast(remap.filter(col("batch") === b)
          .select(col("from_comp"), col("to_comp"))),
          col("comp") === col("from_comp"), "left")
        .select(col("id"), coalesce(col("to_comp"), col("comp")).as("comp"))
    }
  }

  /** Fold the remap chain into the labels ([[Compaction.rewrite]]): one
    * fully resolved labels batch, an empty remap view.
    */
  def compactCcLabels(spark: org.apache.spark.sql.SparkSession,
      dir: String): Int =
    Compaction.rewrite(spark, dir, CcLabels, CcRemap)(cur =>
      Seq(ccResolve(cur, Long.MaxValue), emptyCcRemap(spark)))

  /** Auto-compaction trigger on the CC label store
    * ([[Compaction.compactIfNeeded]]): the resolution cost grows with every
    * ingest (each batch adds one broadcast remap join to
    * [[ccLabelsResolved]]'s chain plus one batch dir to the listing), so
    * compact when the live `remap` view holds more than `maxBatches`
    * sealed batches.
    */
  def compactCcLabelsIfNeeded(spark: org.apache.spark.sql.SparkSession,
      dir: String, maxBatches: Int): Option[Int] =
    Compaction.compactIfNeeded(spark, dir, "remap", maxBatches)(
      compactCcLabels(spark, dir))

  /** Physical deletion from the labels store: the ids' rows are GONE and
    * every component re-canonicalizes to its surviving min id (a deleted
    * label id cannot keep naming a component). HONEST LIMIT, documented:
    * the store holds labels, not edges — deleting a BRIDGE doc does not
    * split its component (re-deriving connectivity needs the pair
    * source; that is a rebuild-and-swap, exactly like quantizer drift in
    * the SQ8/PQ families).
    */
  def deleteFromCcLabels(spark: org.apache.spark.sql.SparkSession,
      dir: String, ids: DataFrame): Int =
    Compaction.rewrite(spark, dir, CcLabels, CcRemap) { cur =>
      val survivors = ccResolve(cur, Long.MaxValue)
        .join(ids.select(col("id")), Seq("id"), "left_anti")
      val relabel = survivors.groupBy(col("comp")).agg(min(col("id")).as("__nc"))
      Seq(survivors.join(relabel, Seq("comp"))
        .select(col("id"), col("__nc").as("comp")), emptyCcRemap(spark))
    }

  /** Plain iterative min-label propagation — the pre-alternating-star
    * implementation, kept for round-count comparison and as the simpler
    * shape for dense dup-cluster graphs (diameter ~1-2, where star rounds
    * buy nothing). Rounds needed = graph diameter; maxIter bounds
    * adversarial chains.
    */
  def connectedComponentsMinLabel(edges: DataFrame, // columns: id_a, id_b
      maxIter: Int = 20): DataFrame =
    connectedComponentsMinLabelRounds(edges, maxIter)._1

  private[operators] def connectedComponentsMinLabelRounds(edges: DataFrame,
      maxIter: Int): (DataFrame, Int) = {
    val und = symmetrized(edges)
      .persistScoped()
    val (labels, iter, _) = minLabelLoop(und, maxIter)
    und.unpersist(blocking = false)
    (labels, iter)
  }

  /** Min-label propagation rounds over a pre-symmetrized, persisted edge
    * view. Returns (labels, rounds run, converged).
    */
  private def minLabelLoop(und: DataFrame,
      maxRounds: Int): (DataFrame, Int, Boolean) = {
    // Eager localCheckpoint each round: an iterative DataFrame loop that
    // only persists still embeds every prior round's plan inside the next
    // one (InMemoryRelation keeps its producing plan), so analysis/codegen
    // cost and driver memory grow per iteration until the JVM dies on long
    // chains. Checkpointing truncates the lineage to the materialized
    // partitions — plans stay O(1) per round. (On a cluster with an
    // unreliable executor fleet, prefer `checkpoint()` to a reliable dir.)
    // init = min over the 1-hop closed neighborhood (folds the first
    // propagation round into the distinct-vertices aggregation)
    var labels = und.groupBy(col("src").as("id"))
      .agg(least(col("id"), min(col("dst"))).as("comp"))
      .localCheckpoint(true)
    var iter = 0
    var changed = 1L
    while (changed > 0 && iter < maxRounds) {
      // one aggregation yields BOTH the new label (min over self +
      // neighbors) and the old one (the self row's value — unique per id),
      // so convergence is a cheap filter over the checkpointed result
      // instead of a second shuffled join per round
      val selfRows = labels.select(col("id"), col("comp"), lit(1).as("__self"))
      val nbrRows = und.join(labels, col("dst") === col("id"))
        .select(col("src").as("id"), col("comp"), lit(0).as("__self"))
      val step = selfRows.union(nbrRows)
        .groupBy(col("id"))
        .agg(min(col("comp")).as("comp"),
          max(when(col("__self") === 1, col("comp"))).as("old"))
        // lazy: the convergence filter-count below materializes it; the
        // INIT labels checkpoint stays eager (two same-round readers)
        .localCheckpoint(eager = false)
      changed = step.filter(col("comp") < col("old")).count()
      labels = step.select(col("id"), col("comp"))
      iter += 1
    }
    (labels, iter, changed == 0)
  }

  val SimHashBits = 60

  /** 60-bit SimHash fingerprints as a pure narrow map (same shape and
    * rationale as [[minhashSignatures]]): bit j is set when the majority of
    * token hashes have bit j set. Token hashes are materialized once per
    * row; the 60 per-bit counts are folds over that attribute.
    * Input: (id, tokens array with duplicates); output: (id, fp).
    */
  def simhashFingerprints(docs: DataFrame): DataFrame =
    docs.select(col("id"),
      graft.functions.simhash_words(col("tokens"), SimHashBits).as("fp"))

  /** SimHash near-dup pairs with hamming distance ≤ maxHamming.
    *
    * Scale path: split the 60-bit fingerprint into maxHamming+1 chunks; by
    * pigeonhole any pair within maxHamming differs in zero bits of at least
    * one chunk, so an equi-join per chunk finds *all* such pairs (lossless
    * banding) — then verify with bit_count(xor). Output is therefore
    * identical to the O(n²) scan the oracle runs.
    */
  def simhashPairs(docs: DataFrame, maxHamming: Int): DataFrame = {
    // docs: id, fp
    val chunks = maxHamming + 1
    val width = (SimHashBits + chunks - 1) / chunks
    val mask = (1L << width) - 1
    val banded = docs.select(
      col("id"), col("fp"),
      explode(array((0 until chunks).map { c =>
        struct(lit(c).as("chunk"),
          shiftright(col("fp"), c * width).bitwiseAND(lit(mask)).as("key"))
      }: _*)).as("ck"))
      .select(col("id"), col("fp"), col("ck.chunk").as("chunk"), col("ck.key").as("key"))
    banded.as("x")
      .join(banded.as("y"),
        col("x.chunk") === col("y.chunk") && col("x.key") === col("y.key") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"),
        col("x.fp").as("fp_a"), col("y.fp").as("fp_b"))
      .distinct()
      .withColumn("hamming", expr("bit_count(fp_a ^ fp_b)"))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /** Perceptual-hash near-dup pairs over a 64-bit fingerprint carried as
    * (hi, lo) 32-bit halves — the image twin of [[simhashPairs]], built
    * for [[Multimodal.decodeImageAHash]] output but generic over any
    * two-half fingerprint. Same lossless banding: split the 64 bits into
    * maxHamming+1 equal chunks; by pigeonhole any pair within maxHamming
    * matches at least one chunk exactly, so one equi-join per chunk finds
    * ALL such pairs, then exact hamming (bit_count of both xors)
    * verifies. Chunk width must divide 32 so no band straddles the
    * hi/lo boundary (maxHamming ∈ {1, 3, 7, 15, 31, 63}).
    *
    * Input: (id, ah_hi, ah_lo) — null fingerprints (undecodable images)
    * are dropped, not paired. Output: (id_a, id_b, hamming), identical
    * to the O(n²) scan the oracle runs.
    */
  def ahashPairs(docs: DataFrame, maxHamming: Int): DataFrame = {
    val chunks = maxHamming + 1
    require(64 % chunks == 0 && (64 / chunks <= 32) && 32 % (64 / chunks) == 0,
      s"chunk width 64/$chunks must divide 32 (maxHamming in {1, 3, 7, 15, 31, 63})")
    val width = 64 / chunks
    val mask = (1L << width) - 1
    val banded = docs
      .filter(col("ah_hi").isNotNull && col("ah_lo").isNotNull)
      .select(col("id"), col("ah_hi"), col("ah_lo"),
        explode(array((0 until chunks).map { c =>
          val bit = c * width
          val key =
            if (bit < 32) shiftright(col("ah_lo"), bit).bitwiseAND(lit(mask))
            else shiftright(col("ah_hi"), bit - 32).bitwiseAND(lit(mask))
          struct(lit(c).as("chunk"), key.as("key"))
        }: _*)).as("ck"))
      .select(col("id"), col("ah_hi"), col("ah_lo"),
        col("ck.chunk").as("chunk"), col("ck.key").as("key"))
    banded.as("x")
      .join(banded.as("y"),
        col("x.chunk") === col("y.chunk") && col("x.key") === col("y.key") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"),
        col("x.ah_hi").as("hi_a"), col("x.ah_lo").as("lo_a"),
        col("y.ah_hi").as("hi_b"), col("y.ah_lo").as("lo_b"))
      .distinct()
      .withColumn("hamming",
        expr("bit_count(hi_a ^ hi_b) + bit_count(lo_a ^ lo_b)"))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  // ===== stored image-fingerprint (aHash) index lifecycle ================
  // The image twin of the text dedup index: a crawler dedups every new
  // image against the corpus ON ARRIVAL, so the fingerprints live in a
  // versioned store with the same lifecycle the text/BM25/IVF families
  // have — batch-partitioned replay-safe ingest, epoch-swap compaction,
  // physical erasure. Two store views: `hashes` (id, ah_hi, ah_lo — the
  // erasure unit) and `bands` partitioned by `bkt` (the banded
  // rows a probe's equi-join DPP-prunes to the probe keys' buckets — at
  // billions of stored images a probe batch must read its candidate
  // buckets, never the store). Band geometry (maxHamming, buckets) is
  // FROZEN at build in `params/` and re-read by ingest and probe, so the
  // layout cannot drift between producers.

  /** The banded rows of a fingerprint batch: one row per (band, key)
    * with the full fingerprint carried so the probe verifies hamming
    * without a second fetch join. bkt = key % buckets is the DPP
    * partition unit.
    */
  private def ahashBandRows(fps: DataFrame, maxHamming: Int,
      buckets: Int): DataFrame = {
    val chunks = maxHamming + 1
    val width = 64 / chunks
    val mask = (1L << width) - 1
    fps.filter(col("ah_hi").isNotNull && col("ah_lo").isNotNull)
      .select(col("id"), col("ah_hi"), col("ah_lo"),
        explode(array((0 until chunks).map { c =>
          val bit = c * width
          val key =
            if (bit < 32) shiftright(col("ah_lo"), bit).bitwiseAND(lit(mask))
            else shiftright(col("ah_hi"), bit - 32).bitwiseAND(lit(mask))
          struct(lit(c).as("band"), key.as("key"))
        }: _*)).as("bk"))
      .select(col("id"), col("ah_hi"), col("ah_lo"),
        col("bk.band").as("band"), col("bk.key").as("key"),
        (col("bk.key") % buckets).as("bkt"))
  }

  /** Build the stored aHash index (batch 0). Input: (id, ah_hi, ah_lo)
    * from [[Multimodal.decodeImageAHash]]; null fingerprints (corrupt
    * images) are not indexed.
    */
  def writeAHashIndex(fps: DataFrame, dir: String, maxHamming: Int = 3,
      buckets: Int = 64): Unit = {
    val chunks = maxHamming + 1
    require(64 % chunks == 0 && (64 / chunks <= 32) && 32 % (64 / chunks) == 0,
      s"chunk width 64/$chunks must divide 32 (maxHamming in {1, 3, 7, 15, 31, 63})")
    val spark = fps.sparkSession
    import spark.implicits._
    Seq((maxHamming, buckets)).toDF("max_hamming", "buckets")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/params")
    Compaction.build(spark, dir, ahashViews(fps, maxHamming, buckets): _*)
  }

  /** The aHash store's bands view: every write repartitions on `bkt`. */
  private val AHashBands = Compaction.View("bands", Some("bkt"),
    _.repartition(col("bkt")), _.repartition(col("bkt")))

  private def ahashViews(fps: DataFrame, maxHamming: Int, buckets: Int)
      : Seq[(Compaction.View, DataFrame)] =
    Seq(Hashes -> fps.filter(col("ah_hi").isNotNull && col("ah_lo").isNotNull)
        .select(col("id"), col("ah_hi"), col("ah_lo")),
      AHashBands -> ahashBandRows(fps, maxHamming, buckets))

  /** The frozen band geometry of a stored index. */
  private[graft] def ahashParams(spark: org.apache.spark.sql.SparkSession,
      dir: String): (Int, Int) = {
    val r = spark.read.parquet(s"$dir/params")
      .select(col("max_hamming"), col("buckets")).head()
    (r.getInt(0), r.getInt(1))
  }

  /** Replay-safe incremental ingest ([[Compaction.ingest]]); per-ingest
    * cost ∝ batch. Band geometry comes from the frozen `params/` — never
    * from the caller.
    */
  def ingestIntoAHashIndex(fps: DataFrame, dir: String,
      batchId: Long): Unit = {
    val spark = fps.sparkSession
    val (maxHamming, buckets) = ahashParams(spark, dir)
    Compaction.ingest(spark, dir, batchId,
      ahashViews(fps, maxHamming, buckets): _*)
  }

  /** Probe a fingerprint batch against the stored index: every stored
    * image within the index's frozen maxHamming of a probe, as
    * (id, match_id, hamming), self-matches (id = match_id) excluded.
    * Lossless banding (the [[ahashPairs]] pigeonhole) against the
    * stored band rows — the equi-join carries `bkt`, so partition
    * pruning reads only the probe keys' buckets, and the stored rows
    * carry their fingerprint, so verification needs no second join.
    * `beforeBatch` restricts to batches < b (the pre-batch-state
    * contract a replayed streaming producer needs).
    */
  def ahashAgainstIndex(fps: DataFrame, dir: String,
      beforeBatch: Option[Long] = None): DataFrame = {
    import graft.CacheScope.ScopedPersist
    val spark = fps.sparkSession
    val (maxHamming, buckets) = ahashParams(spark, dir)
    val store = Compaction.snapshot(spark, dir)
    val probe = ahashBandRows(fps, maxHamming, buckets)
      .persistScoped() // bucket-set derivation + the candidate join
    // STATIC partition pruning on the stored bands: Spark's dynamic
    // pruning declines this join (the probe side is a mapPartitions
    // decode with no selective predicate), so the probe's distinct
    // bucket set — BOUNDED by `buckets` (≤ 64 rows by construction,
    // never by probe size) — collects and pushes down as an IN
    // partition filter. At a billion stored images a probe batch then
    // opens only its candidate bucket directories, never the store.
    val probeBkts = probe.select(col("bkt")).distinct()
      .collect().map(_.getLong(0)).sorted
    val stored0 = store("bands")
      .filter(col("bkt").isin(probeBkts: _*))
    val stored = beforeBatch.fold(stored0)(b =>
      stored0.filter(col("batch") < b))
    probe.as("x")
      .join(stored.as("y"),
        col("x.band") === col("y.band") && col("x.bkt") === col("y.bkt") &&
          col("x.key") === col("y.key") && col("x.id") =!= col("y.id"))
      .select(col("x.id").as("id"), col("y.id").as("match_id"),
        col("x.ah_hi").as("hi_a"), col("x.ah_lo").as("lo_a"),
        col("y.ah_hi").as("hi_b"), col("y.ah_lo").as("lo_b"))
      .distinct()
      .withColumn("hamming",
        expr("bit_count(hi_a ^ hi_b) + bit_count(lo_a ^ lo_b)"))
      .filter(col("hamming") <= maxHamming)
      .select(col("id"), col("match_id"), col("hamming"))
  }

  /** Compact ([[Compaction.compact]] of both views): bands re-pack one
    * file per bucket — the probe's DPP unit. Probe results identical
    * pre/post (spec-pinned).
    */
  def compactAHashIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String): Int =
    Compaction.compact(spark, dir, Hashes, AHashBands)

  /** Auto-compaction trigger ([[Compaction.compactIfNeeded]]), thresholding
    * on the bands view (the probe's DPP-pruned side, where batch-listing
    * cost bites first).
    */
  def compactAHashIndexIfNeeded(spark: org.apache.spark.sql.SparkSession,
      dir: String, maxBatches: Int): Option[Int] =
    Compaction.compactIfNeeded(spark, dir, "bands", maxBatches)(
      compactAHashIndex(spark, dir))

  /** Physically DELETE images from the store ([[Compaction.delete]] of
    * both views) — perceptual fingerprints are derived personal data
    * under the same erasure obligation as the images. A post-delete probe
    * ≡ probing an index built from the survivors (fingerprints are
    * per-image — nothing cross-image to recount). Absent ids are ignored
    * (idempotent).
    *
    * @return the new epoch number
    */
  def deleteFromAHashIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String, ids: DataFrame): Int =
    Compaction.delete(spark, dir, "id", ids, Hashes, AHashBands)

  /** Segment-level (paragraph-level) dedup: split every document into
    * consecutive `segLen`-token segments, keep each distinct segment only
    * at its globally-first occurrence (lowest (id, position)), and
    * reassemble the surviving text per document in original order. This is
    * the C4/CCNet-style "drop repeated paragraphs across the corpus" step —
    * finer-grained than document dedup, catches boilerplate shared by
    * otherwise-distinct pages. Documents whose every segment is owned
    * elsewhere disappear entirely. Input: (id, text); output:
    * (id, n_kept, text).
    *
    * Scale design: the explode is a narrow map bounded by n_tokens/segLen
    * rows per doc (total rows ≈ corpus token count / segLen). First-owner
    * election is ONE hash-partitioned aggregate on the segment hash with
    * partial min — a hot segment (site boilerplate repeated 10^9 times)
    * costs O(1) aggregation state per partition, never a windowed sort of
    * the hot group. The winner set joins back on the hash (AQE skew-join
    * splits hot hashes) and reassembly is one shuffle by doc id. Total:
    * two hash shuffles of segment-sized rows, no O(n²) stage, no window
    * over an unbounded group.
    */
  /** Content-defined chunking (the FastCDC/LBFS idea at the token level):
    * chunk boundaries fall where the hash of the local w-word window
    * satisfies a modulus condition — so boundaries are anchored to
    * CONTENT, not to offsets. This is the property fixed-length
    * segmentation ([[segmentDedup]]) lacks: inserting one word near a
    * doc's start shifts EVERY fixed segment after it (zero segment-level
    * dup detection against the original), while CDC boundaries
    * re-synchronize right after the edit and every later chunk matches
    * again — the reason dedup storage systems chunk this way.
    *
    * Boundary rule: a chunk starts at word 0 and at every word i ≥ 1
    * with hash28(words[i..i+w−1] joined) ≡ 0 (mod m) — expected chunk
    * length m words, window w. Returns one row per (doc, chunk):
    * (id, chunk_idx, chunk_words, chunk_md5).
    *
    * 100 TB posture: boundaries and chunks are built INSIDE one narrow
    * map per document (boundary positions via one filter over the native
    * `md5_windows` kernel's window-hash array — a tight codegen'd loop,
    * where the composable md5(array_join(slice(…))) lambda paid
    * interpreted per-window dispatch (measured −46% on q84's identical
    * swap); chunks via slices between consecutive boundaries — O(words)
    * work, no per-word join, no window); the only exchange is whatever
    * the caller aggregates afterwards. A production byte-level variant
    * would swap the per-window md5 for a native gear-hash expression;
    * the md5 form is the engine-neutral oracle-replayable one (the house
    * SharedHash discipline). `nativeKernel = false` keeps the interpreted
    * lambda form as the spec's boundary-identity witness.
    */
  def cdcChunks(docs: DataFrame, id: Column, text: Column, window: Int,
      modulus: Int, nativeKernel: Boolean = true): DataFrame = {
    require(window >= 1 && modulus >= 1)
    // boundary BEFORE word i (0-based, 1 ≤ i ≤ n−w): the w-word window
    // starting at i hashes to ≡ 0 (mod m); guard the empty range —
    // Spark's sequence(1, 0) would step DOWNWARD, not return empty.
    // hw[k] (1-based) = md5 of the window starting at 0-based k−1, so the
    // window starting at word i is hw[i + 1].
    val boundaries =
      if (nativeKernel) expr(
        s"""CASE WHEN size(ws) - $window >= 1 THEN
              filter(transform(sequence(1, size(ws) - $window),
                i -> CASE WHEN
                  CAST(conv(substring(element_at(hw, i + 1), 1, 7), 16, 10)
                    AS BIGINT) % $modulus = 0 THEN i END),
                p -> p IS NOT NULL)
            ELSE CAST(array() AS ARRAY<INT>) END""")
      else expr(
        s"""CASE WHEN size(ws) - $window >= 1 THEN
              filter(transform(sequence(1, size(ws) - $window),
                i -> CASE WHEN
                  CAST(conv(substring(md5(
                    array_join(slice(ws, i + 1, $window), ' ')), 1, 7), 16, 10)
                    AS BIGINT) % $modulus = 0 THEN i END),
                p -> p IS NOT NULL)
            ELSE CAST(array() AS ARRAY<INT>) END""")
    docs
      .select(id.as("id"), TextOps.wordsOf(text).as("ws"))
      .filter(size(col("ws")) > 0)
      .withColumn("hw",
        if (nativeKernel) graft.functions.md5_windows(col("ws"), window)
        else lit(null).cast("array<string>"))
      .withColumn("bp",
        concat(array(lit(0)), boundaries, array(size(col("ws")))))
      .select(col("id"), col("ws"),
        posexplode(expr(
          s"""transform(sequence(0, size(bp) - 2),
              k -> array_join(slice(ws, bp[k] + 1, bp[k + 1] - bp[k]), ' '))"""))
          .as(Seq("chunk_idx", "chunk")))
      .select(col("id"), col("chunk_idx").cast("long").as("chunk_idx"),
        size(split(col("chunk"), " ")).cast("long").as("chunk_words"),
        md5(col("chunk")).as("chunk_md5"))
  }

  /** Packed first-owner election key id·2²⁰ + pos (one long — trivially
    * reproducible in any SQL engine). The packing is only injective while
    * pos < 2²⁰ (tokens-per-doc) AND id < 2⁴³; sequential harness ids are
    * fine, but hash-derived 64-bit ids would SILENTLY corrupt first-owner
    * election, so out-of-range inputs fail loudly per row instead
    * (raise_error — one exact-integer comparison pair in the hot path).
    */
  /** Public face of [[electionKey]] for composite-unit fingerprints —
    * e.g. per-frame video hashes keyed by (doc, frame) flowing through
    * [[ahashPairs]], whose `id` is one long. Same injectivity guard.
    */
  def packedKey(id: Column, pos: Column): Column = electionKey(id, pos)

  private def electionKey(id: Column, pos: Column): Column =
    when(id < 0 || id >= lit(1L << 43) || pos < 0 || pos >= lit(1L << 20),
      raise_error(concat_ws(" ",
        lit("election key overflow (0 <= id < 2^43 and 0 <= pos < 2^20 required): id ="),
        id.cast("string"), lit("pos ="), pos.cast("string"))).cast("long"))
      .otherwise(id * lit(1048576L) + pos)

  def segmentDedup(docs: DataFrame, segLen: Int): DataFrame = {
    val segs = docs
      .withColumn("__w", split(lower(col("text")), """\s+"""))
      .filter(size(col("__w")) > 0)
      .select(col("id"), col("__w"),
        explode(expr(s"sequence(0, size(__w) - 1, $segLen)")).as("__st"))
      .select(col("id"), col("__st").cast("long").as("pos"),
        concat_ws(" ", slice(col("__w"), col("__st") + 1, lit(segLen))).as("seg"))
      .withColumn("h", md5(col("seg")))
      // first-owner key: (id, pos) packed into one long ([[electionKey]] —
      // loud on id/pos outside the injective range)
      .withColumn("fk", electionKey(col("id"), col("pos")))
      .persistScoped()
    val firstOwner = segs.groupBy(col("h")).agg(min(col("fk")).as("mfk"))
    segs.join(firstOwner,
        segs("h") === firstOwner("h") && segs("fk") === firstOwner("mfk"))
      .groupBy(segs("id"))
      .agg(count(lit(1)).as("n_kept"),
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("pos"), col("seg")))),
          e => e.getField("seg"))).as("text"))
  }

  /** Cross-document duplicated passages: every `passLen`-token window
    * (stride 1 — EVERY alignment, unlike [[segmentDedup]]'s fixed grid or
    * winnowing's sampled fingerprints) that occurs in ≥ 2 distinct
    * documents, with its document frequency, total occurrence count, and
    * first owner. This is the detection half of exact substring dedup
    * (Lee et al., "Deduplicating Training Data Makes Language Models
    * Better" — their suffix-array pass finds repeated spans; fixed-length
    * rolling windows are the shuffle-friendly distributed equivalent).
    * Input: (id, text); output: (h, n_docs, n_occ, first_id).
    *
    * Scale design: the window hashes are produced by ONE narrow map — the
    * native `md5_windows` kernel (`NativeKernels.md5Grams`, a tight
    * codegen'd loop; the composable transform/slice/md5 lambda form pays
    * interpreted per-window expression dispatch) materializes only the
    * md5s (~n_tokens rows per doc after explode, each a 32-char hash,
    * never the windows themselves), so the exploded volume is a constant
    * factor of the token count, independent of passLen. The rest is a
    * single hash-partitioned aggregate with partial combine — a
    * boilerplate passage repeated 10^9 times costs O(1) state per
    * partition. No window function, no self-join.
    */
  def duplicatePassages(docs: DataFrame, passLen: Int): DataFrame =
    docs
      .withColumn("__w", split(lower(col("text")), """\s+"""))
      .filter(size(col("__w")) >= passLen)
      .select(col("id"),
        explode(graft.functions.md5_windows(col("__w"), passLen)).as("h"))
      .groupBy(col("h"))
      .agg(countDistinct(col("id")).as("n_docs"),
        count(lit(1)).as("n_occ"),
        min(col("id")).as("first_id"))
      .filter(col("n_docs") >= 2)

  /** MAXIMAL cross-document duplicated spans per doc — the output shape of
    * exact substring dedup (Lee et al. 2021, "Deduplicating Training Data
    * Makes Language Models Better", public paper): for every document, the
    * maximal token ranges covered by `passLen`-gram windows that also occur
    * in at least one OTHER document. [[duplicatePassages]] reports the
    * duplicated GRAMS; this merges their positions into the spans a
    * pipeline actually cuts out (consecutive duplicated windows whose
    * ranges overlap or touch — gap ≤ passLen — coalesce into one island).
    *
    * 100 TB design: (1) the same md5_windows kernel explodes ~n_tokens
    * 32-char hashes per doc (never the windows themselves); (2) ONE
    * hash-partitioned aggregate finds cross-doc hashes (countDistinct id
    * ≥ 2 — partial+final, boilerplate passages cost O(1) combiner state);
    * (3) a semi-join keeps each doc's duplicated positions; (4) the island
    * merge is a lag + running-sum window PARTITIONED BY DOC — per-partition
    * work is bounded by one document's gram count, so the window never
    * sees cross-document volume (the only safe window shape at corpus
    * scale). Output: (id, span_start, span_end, n_grams), token positions
    * 0-based inclusive.
    */
  def duplicateSpans(docs: DataFrame, passLen: Int): DataFrame = {
    val grams = docs
      .withColumn("__w", split(lower(col("text")), """\s+"""))
      .filter(size(col("__w")) >= passLen)
      .select(col("id"),
        posexplode(graft.functions.md5_windows(col("__w"), passLen))
          .as(Seq("pos", "h")))
      .select(col("id"), col("pos").cast("long").as("pos"), col("h"))
    val crossDoc = grams.groupBy(col("h"))
      .agg(countDistinct(col("id")).as("nd"))
      .filter(col("nd") >= 2)
      .select(col("h"))
    val dupPos = grams.join(crossDoc, Seq("h"), "left_semi")
    val byDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id")).orderBy(col("pos"))
    dupPos
      .withColumn("__new",
        when(coalesce(col("pos") - lag(col("pos"), 1).over(byDoc),
          lit(Long.MaxValue)) > passLen, 1L).otherwise(0L))
      .withColumn("__isl", sum(col("__new")).over(byDoc))
      .groupBy(col("id"), col("__isl"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + (passLen - 1)).as("span_end"),
        count(lit(1)).as("n_grams"))
      .drop("__isl")
  }

  /** Exact substring dedup's CLEANING transform — the stage that actually
    * edits the corpus (Lee et al. 2021: their ExactSubstr dedup cuts
    * repeated spans out of the training text; [[duplicateSpans]] is the
    * detection half, this is the transform): every token covered by a
    * cross-document duplicated `passLen`-gram window is REMOVED unless the
    * window is its gram's FIRST OWNER (min (id, pos), packed as
    * id·2²⁰+pos — the [[segmentDedup]] election key), so exactly one copy
    * of each duplicated passage survives in the corpus; per doc the
    * remaining tokens reassemble in original order.
    *
    * Output: (id, n_tokens, n_cut, clean_text) — n_cut is the exact count
    * of removed token positions.
    *
    * Scale design: grams from the native `md5_windows` kernel (ONE narrow
    * map), owner election is ONE hash aggregate with partial min (a
    * 10⁹-copy passage costs O(1) combiner state), and the cut windows
    * merge to ISLANDS under the per-doc window ([[duplicateSpans]]'s only
    * safe window shape) so the per-doc range array is bounded by the
    * doc's island count — reassembly is then one narrow filter over the
    * token array (O(|w|·|ranges|) per doc), never a corpus-wide
    * token-position join.
    */
  def removeDuplicateSpans(docs: DataFrame, passLen: Int): DataFrame = {
    val base = docs
      .withColumn("__w", split(lower(col("text")), """\s+"""))
      .persistScoped() // feeds gram generation AND the reassembly join
    val grams = base
      .filter(size(col("__w")) >= passLen)
      .select(col("id"),
        posexplode(graft.functions.md5_windows(col("__w"), passLen))
          .as(Seq("pos", "h")))
      .select(col("id"), col("pos").cast("long").as("pos"), col("h"))
      .persistScoped() // feeds the dup/owner aggregate AND the cut join
    val owners = grams.groupBy(col("h"))
      .agg(countDistinct(col("id")).as("nd"),
        min(electionKey(col("id"), col("pos"))).as("ofk"))
      .filter(col("nd") >= 2)
      .select(col("h"), col("ofk"))
    val cuts = grams.join(owners, Seq("h"))
      .filter(electionKey(col("id"), col("pos")) =!= col("ofk"))
      .select(col("id"), col("pos"))
    val byDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id")).orderBy(col("pos"))
    val ranges = cuts
      .withColumn("__new",
        when(coalesce(col("pos") - lag(col("pos"), 1).over(byDoc),
          lit(Long.MaxValue)) > passLen, 1L).otherwise(0L))
      .withColumn("__isl", sum(col("__new")).over(byDoc))
      .groupBy(col("id"), col("__isl"))
      .agg(min(col("pos")).as("s"),
        (max(col("pos")) + (passLen - 1)).as("e"))
      .groupBy(col("id"))
      .agg(sort_array(collect_list(struct(col("s"), col("e")))).as("rs"))
    base.join(ranges, Seq("id"), "left")
      .withColumn("rs", coalesce(col("rs"),
        expr("CAST(array() AS array<struct<s:bigint,e:bigint>>)")))
      .select(col("id"),
        size(col("__w")).cast("long").as("n_tokens"),
        expr("CAST(aggregate(rs, 0L, (a, r) -> a + r.e - r.s + 1) AS BIGINT)")
          .as("n_cut"),
        expr(
          """array_join(filter(transform(sequence(0, size(__w) - 1), i ->
            |  CASE WHEN exists(rs, r -> i >= r.s AND i <= r.e) THEN NULL
            |       ELSE element_at(__w, i + 1) END),
            |  x -> x IS NOT NULL), ' ')""".stripMargin).as("clean_text"))
  }

  /** Edit-distance similarity self-join (PassJoin-style segment
    * filtering): all pairs (id_a, id_b, dist) with
    * levenshtein(s_a, s_b) ≤ `maxDist`, id_a < id_b — the FUZZY exact-dup
    * detector for short keys (titles, openings, normalized URLs) that
    * hash dedup misses by one typo and shingle Jaccard can't see at all
    * on strings this short.
    *
    * Candidate generation is LOSSLESS (the PassJoin pigeonhole, Li et
    * al., VLDB'11): partition every INDEXED string t into k+1 contiguous
    * segments (even split). An optimal alignment of ed(s,t) ≤ k has ≤ k
    * edits, which can touch at most k of the k+1 segments — so at least
    * one segment of t survives unedited and appears in s EXACTLY, shifted
    * by at most the net indels before it (≤ k). The PROBE side therefore
    * enumerates, for each candidate target length ℓ ∈ [|s|−k, |s|+k] and
    * each segment index j, the substrings of s with segment-j geometry of
    * a length-ℓ string at start offsets within ±k of that segment's home
    * position — O(k²) probe rows per string, length-independent. The
    * equi-join on (ℓ, j, substring) is the only wide operation; exact
    * levenshtein (codegen'd) verifies collisions.
    *
    * SHORT-STRING COMPLETION (the edge the seeded-random spec caught in
    * development): a string of length n ≤ k has an EMPTY even-split
    * segment, so only k nonempty segments remain and k edits can touch
    * them all — the pigeonhole gives nothing. The lemma therefore covers
    * a pair whenever AT LEAST ONE side has n ≥ k+1 (that side indexes;
    * the survivor segment's length is ≤ the probe's length by virtue of
    * being its substring, so the probe windows always cover it). Pairs
    * with BOTH sides ≤ k chars route through a direct pair join over the
    * length-≤-k key set — bounded by |alphabet|^k DISTINCT strings, a
    * broadcast-sized set at any corpus scale.
    *
    * KEYS MUST BE DISTINCT per id (collapse identical strings first —
    * e.g. group by the key with min(id) as representative, the same
    * exact-before-fuzzy order as [[dedupCorpus]]): identical-string
    * groups would make candidate pairs quadratic in the multiplicity,
    * exactly the hot-group blow-up exact dedup exists to remove.
    */
  def editDistancePairs(
      strings: DataFrame, // columns: id, s (s distinct across rows)
      maxDist: Int): DataFrame = {
    require(maxDist >= 1)
    val k = maxDist
    val kk = k + 1
    val sized = strings.select(col("id"), col("s"), length(col("s")).as("n"))
      .filter(col("n") > 0)
      .persistScoped() // feeds segments, probes and the verify join
    // index side: the k+1 even-split segments of every string
    val segs = sized.select(col("id").as("id_b"), col("n").as("l"),
      explode(expr(
        s"""filter(transform(sequence(0, $k), j -> struct(
           |  j AS j,
           |  substring(s, CAST(j * n DIV $kk + 1 AS INT),
           |            CAST((j + 1) * n DIV $kk - j * n DIV $kk AS INT)) AS seg,
           |  (j + 1) * n DIV $kk - j * n DIV $kk AS sl)),
           |x -> x.sl > 0)""".stripMargin)).as("g"))
      .select(col("id_b"), col("l"), col("g.j").as("j"), col("g.seg").as("seg"))
    // probe side: substrings of s matching the segment geometry of every
    // candidate target length, within the ±k offset window
    val probes = sized.select(col("id").as("id_a"), explode(expr(
      s"""flatten(transform(sequence(greatest(1, n - $k), n + $k), l ->
         |  flatten(transform(sequence(0, $k), j ->
         |    filter(transform(sequence(j * l DIV $kk + 1 - $k, j * l DIV $kk + 1 + $k), st ->
         |      struct(l AS l, j AS j, st AS st,
         |             (j + 1) * l DIV $kk - j * l DIV $kk AS sl)),
         |      x -> x.st >= 1 AND x.sl > 0 AND x.st + x.sl - 1 <= n)))))""".stripMargin))
      .as("p"),
      col("s"))
      .select(col("id_a"), col("p.l").as("l"), col("p.j").as("j"),
        expr("substring(s, CAST(p.st AS INT), CAST(p.sl AS INT))").as("seg"))
    val segCand = probes.join(segs, Seq("l", "j", "seg"))
      .filter(col("id_a") =!= col("id_b"))
      .select(least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"))
    // both-short pairs: bounded |alphabet|^k distinct keys → the
    // inequality-only join is a tiny broadcast nested loop by design
    val shorts = sized.filter(col("n") <= k).select(col("id"))
    val shortCand = shorts.as("x")
      .join(shorts.as("y"), col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"))
    val cand = segCand.unionByName(shortCand).distinct()
    cand
      .join(sized.select(col("id").as("id_a"), col("s").as("__sa")), Seq("id_a"))
      .join(sized.select(col("id").as("id_b"), col("s").as("__sb")), Seq("id_b"))
      // thresholded levenshtein = banded O(k·n) DP with early exit (-1
      // past the threshold) instead of the full O(n²) table — the verify
      // cost per candidate stays linear in string length at fixed k
      .withColumn("dist", levenshtein(col("__sa"), col("__sb"), k))
      .filter(col("dist") >= 0)
      .select(col("id_a"), col("id_b"), col("dist").cast("long").as("dist"))
  }

  /** Multi-pass sorted-neighborhood near-dup detection (Hernández &
    * Stolfo's merge/purge blocking): sort the corpus by a blocking key,
    * pair every document with its `window − 1` successors in that order,
    * verify candidates exactly with n-gram Jaccard. Two passes with
    * complementary keys — raw normalized text, and the word-order-
    * insensitive sorted-word form — union their candidates, the published
    * remedy for a single sort's blind spot (near-dups differing in their
    * leading characters sort apart; they rarely do so under BOTH keys).
    * Complements LSH ([[minhashLshPairs]]): SNM's candidate count is
    * exactly N·(window−1) per pass by construction — no hot-band blowup on
    * adversarially self-similar corpora — at the price of order-locality
    * recall, the stated trade.
    *
    * Scale design: a pass is one range partition + per-partition rank scan
    * (the distributed-scan discipline of Curation.packBinsScalable — no
    * global-order window funneling the corpus through one task), then ONE
    * equi-join on overlapping rank blocks; with block size = `window`, rows
    * within `window − 1` ranks land in the same or adjacent blocks, so
    * duplicating each probe row into 2 blocks makes every qualifying pair
    * meet exactly once. Verification reuses the one-pass sorted-merge
    * kernel on bucket-collision pairs only.
    *
    * Input: (id, text); output: (id_a, id_b, jaccard), id_a < id_b.
    */
  def sortedNeighborhoodPairs(docs: DataFrame, n: Int, window: Int,
      threshold: Double, scanParts: Int): DataFrame = {
    require(window >= 2, s"window must be >= 2, got $window")
    val sh = shingleArrays(docs, n).persistScoped()
    val keyText = docs.select(col("id"), lower(col("text")).as("bkey"))
    val keySorted = docs.select(col("id"),
      concat_ws(" ", sort_array(TextOps.wordsOf(col("text")))).as("bkey"))
    val cand = snmPassPairs(keyText, window, scanParts)
      .unionByName(snmPassPairs(keySorted, window, scanParts))
      .distinct()
    jaccardPairs(cand, sh, threshold)
  }

  /** One SNM pass: unordered id pairs whose global ranks in (bkey, id)
    * order differ by 1..window−1, via the overlapping-block equi-join
    * (see [[sortedNeighborhoodPairs]]).
    */
  private def snmPassPairs(keyed: DataFrame, window: Int,
      scanParts: Int): DataFrame = {
    val ranked = globalRanks(keyed, scanParts).persistScoped()
    val probe = ranked.select(col("id"), col("rnk"),
      explode(array(expr(s"rnk div $window"), expr(s"rnk div $window") + 1))
        .as("blk"))
    val home = ranked.select(col("id").as("id_r"), col("rnk").as("rnk_r"),
      expr(s"rnk div $window").as("blk"))
    probe.join(home, Seq("blk"))
      .filter(col("rnk_r") - col("rnk") >= 1 &&
        col("rnk_r") - col("rnk") <= window - 1)
      .select(least(col("id"), col("id_r")).as("id_a"),
        greatest(col("id"), col("id_r")).as("id_b"))
  }

  /** Global 0-based rank of each row in (bkey, id) order, without a
    * global-order window: range-partition (global order holds across
    * partitions), count positions locally per partition in one sequential
    * pass, cumulate one subtotal per partition into starting offsets
    * (a window over the |partitions|-row table only) and broadcast them
    * back. Rank depends only on the total order, not partition boundaries.
    */
  private def globalRanks(keyed: DataFrame, scanParts: Int): DataFrame = {
    val spark = keyed.sparkSession
    import spark.implicits._
    // persist BEFORE the range exchange: RangePartitioner's boundary
    // sampling is its own job over the exchange's child, and this child is
    // a scan + bkey projection with no shuffle below it — unpersisted, the
    // expensive key derivation (the sorted-words pass tokenizes and sorts
    // every document) runs TWICE per pass, once for sampling and once for
    // the shuffle map (guide §1.2 "don't compute things twice")
    val keyedP = keyed
      .select(col("bkey").cast("string").as("bkey"), col("id").cast("long").as("id"))
      .persistScoped()
    val local = keyedP
      .repartitionByRange(scanParts, col("bkey"), col("id"))
      .sortWithinPartitions(col("bkey"), col("id"))
      .as[(String, Long)]
      .mapPartitions { it =>
        val pid = org.apache.spark.TaskContext.getPartitionId()
        var i = 0L
        it.map { case (_, id) => val r = i; i += 1; (id, pid, r) }
      }
      .toDF("id", "__pid", "__local")
      .persistScoped() // feeds the offsets aggregate AND the final join
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("__pid"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val offsets = local.groupBy(col("__pid")).agg(count(lit(1)).as("__ptot"))
      .withColumn("__off", coalesce(sum(col("__ptot")).over(w), lit(0L)))
      .select(col("__pid"), col("__off"))
    local.join(broadcast(offsets), Seq("__pid"))
      .select(col("id"), (col("__local") + col("__off")).as("rnk"))
  }
}
