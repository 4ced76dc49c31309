package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** Text-analysis operators for large-scale training-data pipelines.
  *
  * The reference has no text operators at all — its record-level computation
  * is arbitrary Java in processors (e.g. StringTokenizer in
  * tez-examples/src/main/java/org/apache/tez/examples/WordCount.java:93).
  * These re-express that capability as codegen'd Catalyst expressions
  * (`org.apache.spark.sql.functions`) so they stay inside whole-stage codegen
  * with no UDFs — every op here is a narrow map over the scan, shuffling
  * nothing, which is exactly what you want at 100 TB.
  *
  * Determinism contract: every fractional output is `round(x, 4)` of a ratio
  * of exact integer counts, so the DuckDB oracle (same IEEE division, same
  * round) matches bit-for-bit.
  */
object TextOps {

  /** Whitespace token count (the WordCount tokenizer's cardinality). */
  def wsTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("""\S+"""), lit(0)))

  /** The lower-cased whitespace words of `text`, with the empty strings a
    * leading or doubled separator leaves dropped — the word array of the
    * LM, classifier, segment and repetition-signal operators.
    */
  private[graft] def wordsOf(text: Column): Column =
    filter(split(lower(text), """\s+"""), x => length(x) > 0)

  /** BPE-ish subword token count: letter runs, digit runs, single
    * punctuation — the standard pre-tokenizer split.
    */
  val bpeTokenPattern = """[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"""
  def bpeTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit(bpeTokenPattern), lit(0)))

  /** The byte-level trainer's pre-tokenizer: the same letter-run /
    * digit-run / single-punctuation split, UNICODE-aware (`\p{L}`/`\p{N}`
    * — identical classes in Java regex and RE2), so a non-ASCII letter
    * stays inside its word run and only its BYTES split below it.
    */
  val byteLevelTokenPattern = """[\p{L}]+|[\p{N}]+|[^\p{L}\p{N}\s]"""

  /** The pre-tokens of `text` every subword tokenizer starts from: the
    * lower-cased [[byteLevelTokenPattern]] matches with `byteLevel`, else
    * the whitespace words ([[wordsOf]]).
    */
  private[operators] def pretokens(text: Column, byteLevel: Boolean): Column =
    if (byteLevel)
      regexp_extract_all(lower(text), lit(byteLevelTokenPattern), lit(0))
    else wordsOf(text)

  /** The persisted pre-token frame (keys…, ws) of `docs` — the input of
    * [[tokenCounts]], [[roundTrip]] and [[tokenArrays]], and with
    * `byteLevel` of [[bpeMergesByteLevelFromPretokens]]. It persists by
    * the q245 persist-boundary rule: the distinct-word encode and the
    * per-doc rejoin both read it, so unpersisted the pre-tokenize (the
    * regex pass is expensive per row) ran twice per execution.
    */
  def pretokenize(docs: DataFrame, keys: Seq[Column], text: Column,
      byteLevel: Boolean): DataFrame = {
    import graft.CacheScope.ScopedPersist
    docs.select(keys :+ pretokens(text, byteLevel).as("ws"): _*).persistScoped()
  }

  /** Per-language stopword alternations for the n-gram/stopword language-ID
    * heuristic. `zh` is detected by CJK codepoint presence instead.
    */
  val stopwords: Seq[(String, String)] = Seq(
    "en" -> """\b(the|of|and|to|a|in|is|it)\b""",
    "fr" -> """\b(le|la|les|de|des|un|une|et|est)\b""",
    "de" -> """\b(der|die|das|und|ein|ist|zu|den)\b""",
    "es" -> """\b(el|los|las|de|un|una|y|es|en)\b"""
  )
  val cjkPattern = "[一-鿿]"

  def stopwordHits(text: Column, pattern: String): Column =
    size(regexp_extract_all(lower(text), lit(pattern), lit(0)))

  /** Language-ID: argmax of per-language stopword hit counts; CJK chars win
    * outright (weight 3 per char); ties break in `stopwords` declaration
    * order. Pure codegen'd expressions — no UDF.
    */
  def langId(text: Column): Column = {
    val scores: Seq[(String, Column)] =
      ("zh" -> (size(regexp_extract_all(text, lit(cjkPattern), lit(0))) * lit(3))) +:
        stopwords.map { case (l, p) => l -> stopwordHits(text, p) }
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    // first-declared lang whose score equals the max and is > 0
    scores.foldRight(lit("und")) { case ((l, s), acc) =>
      when(s === best && best > 0, lit(l)).otherwise(acc)
    }
  }

  /** Quality-score feature vector: exact integer counts + round-4 ratios. */
  def qualityFeatures(df: DataFrame, text: Column): DataFrame = {
    val nChars = length(text)
    val nAlpha = length(regexp_replace(text, "[^A-Za-z]", ""))
    val nPunct = length(regexp_replace(text, """[A-Za-z0-9\s]""", ""))
    val nWs    = wsTokenCount(text)
    val nStop  = stopwordHits(text, stopwords.head._2)
    df.withColumn("n_chars_c", nChars)
      .withColumn("n_tokens", nWs)
      .withColumn("alpha_ratio", round(nAlpha.cast("double") / nChars, 4))
      .withColumn("punct_ratio", round(nPunct.cast("double") / nChars, 4))
      .withColumn("stopword_ratio", round(nStop.cast("double") / nWs, 4))
      .withColumn("avg_token_len",
        round((nChars - (nWs - lit(1))).cast("double") / nWs, 4))
  }

  /** Polynomial rolling-hash document fingerprint:
    * fold chars: h = (h*31 + ascii(c)) mod 1e9+7, seed 7. A codegen'd
    * `aggregate` higher-order function — no UDF, no shuffle.
    */
  def fingerprint(text: Column): Column =
    aggregate(
      regexp_extract_all(text, lit("."), lit(0)),
      lit(7L),
      (h, c) => (h * lit(31L) + ascii(c)) % lit(1000000007L))

  /** PII patterns for scrub/report passes (no lookarounds — portable across
    * regex engines). Deliberately simple: production filters would add
    * locale-specific variants; the pipeline shape is identical.
    */
  val emailPattern = """[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"""
  val urlPattern = """https?://[^\s]+"""
  val phonePattern = """\+?[0-9][0-9()\-. ]{7,}[0-9]"""

  /** Count + scrub the PII patterns: returns df with per-doc match counts
    * and a redacted text column — the standard safety pre-filter stage.
    */
  def withPiiScrub(df: DataFrame, text: Column): DataFrame =
    df.withColumn("n_emails", size(regexp_extract_all(text, lit(emailPattern), lit(0))).cast("long"))
      .withColumn("n_urls", size(regexp_extract_all(text, lit(urlPattern), lit(0))).cast("long"))
      .withColumn("n_phones", size(regexp_extract_all(text, lit(phonePattern), lit(0))).cast("long"))
      .withColumn("scrubbed",
        regexp_replace(regexp_replace(regexp_replace(text,
          emailPattern, "<EMAIL>"), urlPattern, "<URL>"), phonePattern, "<PHONE>"))

  /** Word-BLOCKLIST content filter — the wordlist stage every published
    * curation pipeline runs before its model-based filters (C4 removed
    * any page containing a "List of Dirty, Naughty…" word, Raffel et al.
    * 2020 §2.2; Dolma and RefinedWeb keep the document but gate on the
    * blocked-token FRACTION, which is the form here): count whitespace
    * tokens hitting a bounded blocklist and keep the document only while
    * the blocked fraction stays under the threshold.
    *
    * The keep decision is EXACT-INTEGER — n_blocked·10⁴ <
    * maxTenThousandths·n_words — so two engines cannot diverge on a float
    * boundary; the round-4 ratio rides along for reporting only. An empty
    * document keeps (vacuously clean), reported with ratio 0.
    *
    * 100 TB design: the blocklist is expression data (one literal array
    * inside a codegen'd lambda filter — no join, no broadcast); the whole
    * operator is one narrow map over the scan, zero shuffles.
    *
    * Output: (id, n_words, n_blocked, blocked_ratio, kept).
    */
  def blocklistFilter(df: DataFrame, id: Column, text: Column,
      blocklist: Seq[String], maxTenThousandths: Long): DataFrame = {
    val bl = typedLit(blocklist.map(_.toLowerCase).distinct)
    df.select(id.cast("long").as("id"),
        regexp_extract_all(lower(text), lit("""\S+"""), lit(0)).as("__ws"))
      .select(col("id"),
        size(col("__ws")).cast("long").as("n_words"),
        size(filter(col("__ws"), w => array_contains(bl, w)))
          .cast("long").as("n_blocked"))
      .select(col("id"), col("n_words"), col("n_blocked"),
        when(col("n_words") === 0, lit(0.0))
          .otherwise(round(col("n_blocked").cast("double") / col("n_words"), 4))
          .as("blocked_ratio"),
        (col("n_words") === 0 ||
          col("n_blocked") * lit(10000L) < lit(maxTenThousandths) * col("n_words"))
          .as("kept"))
  }

  /** The COMPLETE Gopher A1.1 document-shape rule set (Rae et al. 2021,
    * appendix A1.1 — public paper), as exact-integer thresholds so two
    * engines cannot diverge on a float boundary. Fractions are in
    * ten-thousandths (the [[blocklistFilter]] convention); the
    * mean-word-length band is integer chars, compared as
    * Σlen ∈ [min·n, max·n]. Defaults are Gopher's published values
    * (50–100 000 words, mean length 3–10, 10% symbols, 90% bullet
    * lines, 30% ellipsis lines) plus a 30% duplicate-line bound (the
    * Gopher repetition-section line rule).
    */
  final case class GopherRules(
      minWords: Long = 50L,
      maxWords: Long = 100000L,
      minMeanWordLen: Long = 3L,
      maxMeanWordLen: Long = 10L,
      symbolTau: Long = 1000L,
      bulletTau: Long = 9000L,
      ellipsisTau: Long = 3000L,
      dupLineTau: Long = 3000L,
      dupCharTau: Long = 2000L)

  /** The Dolma-style TAGGER TABLE + mixer decision — the published
    * curation architecture (Dolma: "taggers" emit per-document
    * attributes, a config-driven "mixer" applies the keep rules;
    * RefinedWeb/C4 fuse the same checks inline): SEVEN safety/quality
    * taggers evaluated in ONE pass — word blocklist
    * ([[blocklistFilter]]'s exact-integer rule), PII exposure
    * (emails + urls + phones ≤ piiMax), Gopher repetition (the
    * [[repetitionFilter]] signals off the native kernel),
    * stopword-ratio quality, and the remaining Gopher A1.1
    * document-shape rules ([[GopherRules]]): word-count bounds +
    * mean-word-length band (`keep_doclen`), symbol-to-word ratio for
    * `#`/`...`/`…` (`keep_symbols`), and the line rules — bullet-start
    * fraction, ellipsis-end fraction, duplicate-line fraction
    * (`keep_lines`) — plus the conjunction `kept` and a `reasons`
    * audit string naming every failed tagger, the attribute
    * provenance a curation team actually debugs with.
    *
    * The tagger table carries EVERY input row — a zero-token document
    * fails repetition (Gopher's ≥1-token contract), quality
    * (undefined ratio → false) and doclen (below any minWords ≥ 1),
    * and says so in `reasons`, never a silent drop; a downstream mixer
    * re-run with different rules therefore needs no re-tagging (Dolma's
    * tagger/mixer split). Line rules — all
    * comparisons keep-iff-≤ (Rae et al. drop only when the fraction
    * EXCEEDS the threshold): n_bullet·10⁴ ≤ bulletTau·n_lines AND
    * n_ellipsis·10⁴ ≤ ellipsisTau·n_lines AND
    * (n_lines − n_distinct)·10⁴ ≤ dupLineTau·n_lines AND the
    * duplicate-line CHARACTER fraction
    * (Σlen(lines) − Σlen(distinct lines))·10⁴ ≤ dupCharTau·Σlen(lines)
    * (vacuous at zero chars); the symbol rule tests EACH symbol's
    * ratio separately (Gopher's per-symbol contract): keep iff
    * n_hash·10⁴ ≤ symbolTau·n_words AND n_ellipsis_sym·10⁴ ≤
    * symbolTau·n_words (empty doc: vacuously clean, the blocklist
    * convention).
    *
    * 100 TB design: zero shuffles, zero joins — every tagger is a
    * codegen'd expression over the same projected row; the repetition
    * kernel is per-document. Composing the standalone operators via
    * joins would re-scan and re-shuffle seven times for what one
    * projection computes.
    *
    * Output: (id, keep_blocklist, keep_pii, keep_repetition,
    * keep_quality, keep_doclen, keep_symbols, keep_lines, kept,
    * reasons).
    */
  def taggerTable(df: DataFrame, id: Column, text: Column,
      blocklist: Seq[String], blockTau: Long, piiMax: Long,
      maxTopTokFrac: Double, maxTopBigramFrac: Double, minTtr: Double,
      minStopwordRatio: Double,
      gopher: GopherRules = GopherRules()): DataFrame = {
    val bl = typedLit(blocklist.map(_.toLowerCase).distinct)
    val bulletStart = (l: Column) => {
      val t = ltrim(l)
      t.startsWith("-") || t.startsWith("*") || t.startsWith("•")
    }
    val ellipsisEnd = (l: Column) => {
      val t = rtrim(l)
      t.endsWith("...") || t.endsWith("…")
    }
    val base = df.select(id.cast("long").as("id"), text.as("__t"),
        regexp_extract_all(lower(text), lit("""\S+"""), lit(0)).as("__ws"),
        split(text, "\n").as("__ls"))
      .select(col("id"), col("__t"), col("__ws"),
        size(col("__ws")).cast("long").as("__nw"),
        size(filter(col("__ws"), w => array_contains(bl, w)))
          .cast("long").as("__nb"),
        (size(regexp_extract_all(col("__t"), lit(emailPattern), lit(0))) +
          size(regexp_extract_all(col("__t"), lit(urlPattern), lit(0))) +
          size(regexp_extract_all(col("__t"), lit(phonePattern), lit(0))))
          .cast("long").as("__npii"),
        stopwordHits(col("__t"), stopwords.head._2).cast("long").as("__nstop"),
        graft.functions.repetition_signals(col("__ws"), 1).as("__s1"),
        graft.functions.repetition_signals(col("__ws"), 2).as("__s2"),
        aggregate(col("__ws"), lit(0L), (a, x) => a + length(x).cast("long"))
          .as("__sumlen"),
        size(regexp_extract_all(col("__t"), lit("#"), lit(0)))
          .cast("long").as("__nhash"),
        size(regexp_extract_all(col("__t"), lit("""\.\.\.|…"""), lit(0)))
          .cast("long").as("__nellsym"),
        size(col("__ls")).cast("long").as("__nl"),
        size(filter(col("__ls"), bulletStart)).cast("long").as("__nbul"),
        size(filter(col("__ls"), ellipsisEnd)).cast("long").as("__nell"),
        size(array_distinct(col("__ls"))).cast("long").as("__ndist"),
        aggregate(col("__ls"), lit(0L), (a, l) => a + length(l).cast("long"))
          .as("__lentot"),
        aggregate(array_distinct(col("__ls")), lit(0L),
          (a, l) => a + length(l).cast("long")).as("__lendist"))
    val ttr = round(element_at(col("__s1"), 2).cast("double") / col("__nw"), 4)
    val tokFrac = round(element_at(col("__s1"), 1).cast("double") / col("__nw"), 4)
    val bgFrac = when(col("__s2").isNotNull,
      round(element_at(col("__s2"), 1).cast("double") / (col("__nw") - 1), 4))
      .otherwise(lit(0.0))
    val g = gopher
    val scored = base.select(col("id"),
      (col("__nw") === 0 ||
        col("__nb") * lit(10000L) < lit(blockTau) * col("__nw"))
        .as("keep_blocklist"),
      (col("__npii") <= piiMax).as("keep_pii"),
      coalesce(col("__s1").isNotNull &&
        tokFrac <= maxTopTokFrac && bgFrac <= maxTopBigramFrac &&
        ttr >= minTtr, lit(false)).as("keep_repetition"),
      when(col("__nw") === 0, lit(false))
        .otherwise(round(col("__nstop").cast("double") / col("__nw"), 4)
          >= minStopwordRatio).as("keep_quality"),
      (col("__nw") >= g.minWords && col("__nw") <= g.maxWords &&
        col("__sumlen") >= lit(g.minMeanWordLen) * col("__nw") &&
        col("__sumlen") <= lit(g.maxMeanWordLen) * col("__nw"))
        .as("keep_doclen"),
      (col("__nw") === 0 ||
        (col("__nhash") * lit(10000L) <= lit(g.symbolTau) * col("__nw") &&
          col("__nellsym") * lit(10000L) <= lit(g.symbolTau) * col("__nw")))
        .as("keep_symbols"),
      (col("__nbul") * lit(10000L) <= lit(g.bulletTau) * col("__nl") &&
        col("__nell") * lit(10000L) <= lit(g.ellipsisTau) * col("__nl") &&
        (col("__nl") - col("__ndist")) * lit(10000L)
          <= lit(g.dupLineTau) * col("__nl") &&
        (col("__lentot") === 0 ||
          (col("__lentot") - col("__lendist")) * lit(10000L)
            <= lit(g.dupCharTau) * col("__lentot")))
        .as("keep_lines"))
    scored.select(col("id"), col("keep_blocklist"), col("keep_pii"),
      col("keep_repetition"), col("keep_quality"), col("keep_doclen"),
      col("keep_symbols"), col("keep_lines"),
      (col("keep_blocklist") && col("keep_pii") &&
        col("keep_repetition") && col("keep_quality") &&
        col("keep_doclen") && col("keep_symbols") && col("keep_lines"))
        .as("kept"),
      array_join(filter(array(
        when(!col("keep_blocklist"), lit("blocklist")),
        when(!col("keep_pii"), lit("pii")),
        when(!col("keep_repetition"), lit("repetition")),
        when(!col("keep_quality"), lit("quality")),
        when(!col("keep_doclen"), lit("doclen")),
        when(!col("keep_symbols"), lit("symbols")),
        when(!col("keep_lines"), lit("lines"))),
        x => x.isNotNull), ",").as("reasons"))
  }

  /** Word n-gram shingles (lowercased), distinct, first-occurrence order —
    * the unit of MinHash and exact-Jaccard dedup. Appended as column `out`.
    * Native kernel (`NativeKernels.shinglesOf`): the composable
    * array_distinct(transform(sequence…, slice+concat_ws)) equivalent runs
    * interpreted and cost ~7s of every dedup query at sf0.1.
    */
  def withShingles(df: DataFrame, text: Column, n: Int, out: String): DataFrame =
    df.withColumn(out,
      graft.functions.shingles_of(split(lower(text), """\s+"""), n))

  /** BPE vocabulary induction (Sennrich et al.'s byte-pair encoding
    * trainer): learn `rounds` merge rules from the corpus. Returns the
    * merge table — (merge_round, sym_a, sym_b, pair_count), the artifact a
    * tokenizer ships — picking each round the most frequent adjacent
    * symbol pair (ties: lexicographic (sym_a, sym_b)) and applying it
    * greedily left-to-right to every word.
    *
    * Scale design — the classic trainer decomposition (HF tokenizers,
    * SentencePiece): ONE distributed pass aggregates the corpus to its
    * word-frequency table (hash agg with partial combine; a
    * 10^9-occurrence word costs O(1) combiner state), the table is
    * collected to the driver, and every merge round runs there in memory
    * — pair counting, argmax and the fold — so a trainer call costs a
    * fixed number of jobs whatever `rounds` is, and the corpus is never
    * rescanned. Driver memory is bounded by the number of DISTINCT
    * pre-tokens, not by the corpus: a table above [[MaxTrainerWords]]
    * fails with an error naming the bound instead of exhausting the
    * driver. Merge application is the encoders' exact greedy
    * left-to-right stack fold ([[graft.functions.NativeKernels.bpeMergeStep]]).
    *
    * `byteLevel` selects the production tokenizer boundary (GPT-2, Llama):
    * pre-tokens come from the regex splitter ([[byteLevelTokenPattern]])
    * instead of bare whitespace, and every pre-token starts from its UTF-8
    * BYTES instead of its characters, so any string in any script
    * tokenizes with a closed 256-symbol base alphabet and no OOV symbol
    * can exist. Symbols are hex byte pairs ("68", "C3", …); a merged
    * symbol is the concatenation of its parts' hex, so the merge table is
    * engine-neutral text (the oracle replays `hex()` of the same bytes).
    *
    * Determinism: pair counts are exact integer sums of word frequencies;
    * the argmax order (cnt desc, sym_a, sym_b) compares symbols as UTF-8
    * bytes (Spark's string sort order); both the order and the fold are
    * replayed verbatim by the DuckDB oracle (unrolled rounds, same stack
    * fold via list_reduce over singleton lists).
    */
  def bpeMerges(docs: DataFrame, text: Column, rounds: Int,
      requireFull: Boolean = false, byteLevel: Boolean = false): DataFrame =
    mergeTable(docs.sparkSession, trainBpe(wordSymbols(
      docs.select(text.as("__t"))
        .select(explode(pretokens(col("__t"), byteLevel)).as("w")),
      byteLevel), rounds, requireFull))

  /** Byte-level [[bpeMerges]] over a [[pretokenize]] frame, returning the
    * ordered (sym_a, sym_b) merge list. The shard-packing family tokenizes
    * the same corpus right after training, so the trainer's word counts
    * and the packing tokenize both read ONE persisted regex pass instead
    * of two (the guide §1.2 "don't compute it twice" form); the counts
    * are identical by construction, so the learned merges are too.
    */
  def bpeMergesByteLevelFromPretokens(pre: DataFrame, rounds: Int,
      requireFull: Boolean = false): Seq[(String, String)] =
    trainBpe(wordSymbols(pre.select(explode(col("ws")).as("w")),
      byteLevel = true), rounds, requireFull).map(m => (m._2, m._3))

  /** The trainer's (syms, n) word table of a pre-token frame (column `w`,
    * one row per occurrence): the word's characters, or with `byteLevel`
    * the uppercase hex pairs of its UTF-8 bytes (Spark's hex-of-string;
    * DuckDB's hex(varchar) matches both).
    */
  private def wordSymbols(words: DataFrame, byteLevel: Boolean): DataFrame =
    words
      .groupBy(col("w")).agg(count(lit(1)).as("n"))
      .select(expr(if (byteLevel)
          """transform(sequence(1, length(hex(w)) div 2),
            |  i -> substring(hex(w), 2 * i - 1, 2))""".stripMargin
        else "transform(sequence(1, length(w)), i -> substring(w, i, 1))")
        .as("syms"),
        col("n"))

  private def mergeTable(spark: SparkSession,
      merges: Seq[(Long, String, String, Long)]): DataFrame = {
    import spark.implicits._
    merges.toDF("merge_round", "sym_a", "sym_b", "pair_count")
  }

  /** Most distinct pre-tokens a trainer holds in driver memory: above it
    * training fails with an error naming the bound, not a driver OOM.
    */
  private val MaxTrainerWords = 1 << 20

  /** Symbol order of the trainers' tie-breaks: UTF-8 bytes, Spark's string
    * sort order — NOT `String.compareTo`'s UTF-16 order above the BMP.
    */
  private implicit val utf8Order: Ordering[UTF8String] = (x, y) => x.compareTo(y)

  /** The BPE trainer over a (syms, n) word table ([[bpeMerges]]' contract;
    * both symbolizations end here): (merge_round, sym_a, sym_b, pair_count).
    */
  private[graft] def trainBpe(wc: DataFrame, rounds: Int, requireFull: Boolean,
      maxWords: Int = MaxTrainerWords): Seq[(Long, String, String, Long)] =
    trainMerges(wc, rounds, requireFull, maxWords, "BPE") { (r, pairs, _) =>
      val ((a, b), cnt) = pairs.minBy { case ((a, b), cnt) => (-cnt, a, b) }
      (a, b, UTF8String.concat(a, b), (r.toLong, a.toString, b.toString, cnt))
    }

  /** The merge-round loop both trainers share. The (syms, n) table is
    * collected under the `maxWords` bound (limit maxWords + 1 detects an
    * oversized table without collecting it whole). Each round `pick`
    * chooses the merge (a, b) → ab from the exact pair counts (symbol
    * counts on demand), and the encoders' fold step applies it to every
    * word. requireFull: callers whose oracle unrolls EXACTLY `rounds` CTE
    * rounds (q156/q157) must fail loudly when the corpus runs out of pairs
    * — the oracle's empty p_i CROSS JOIN would diverge silently.
    */
  private def trainMerges[M](wc: DataFrame, rounds: Int, requireFull: Boolean,
      maxWords: Int, trainer: String)(
      pick: (Int, mutable.Map[(UTF8String, UTF8String), Long],
        () => mutable.Map[UTF8String, Long]) => (UTF8String, UTF8String, UTF8String, M))
      : Seq[M] = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val (syms, ns) = {
      val rows = wc.select(col("syms"), col("n")).limit(maxWords + 1).collect()
      require(rows.length <= maxWords,
        s"$trainer trainer word table exceeds the in-memory bound of " +
          s"$maxWords distinct words (MaxTrainerWords)")
      val interned = mutable.HashMap.empty[String, UTF8String]
      (rows.map(r => Option(r.getSeq[String](0)).getOrElse(Nil)
        .map(s => interned.getOrElseUpdate(s, UTF8String.fromString(s))).toArray),
        rows.map(_.getLong(1)))
    }
    val lens = syms.map(_.length)
    def counts[K](keys: Int => Iterator[K]): mutable.Map[K, Long] = {
      val m = mutable.HashMap.empty[K, Long]
      for (w <- syms.indices; k <- keys(w)) m(k) = m.getOrElse(k, 0L) + ns(w)
      m
    }
    def pairCounts() = counts(w =>
      Iterator.range(1, lens(w)).map(i => (syms(w)(i - 1), syms(w)(i))))
    val learned = Vector.newBuilder[M]
    var r = 1
    var pairs = pairCounts()
    while (r <= rounds && pairs.nonEmpty) {
      val (a, b, ab, m) = pick(r, pairs, () => counts(w => syms(w).iterator.take(lens(w))))
      for (w <- syms.indices)
        lens(w) = graft.functions.NativeKernels.bpeMergeStep(syms(w), lens(w), a, b, ab)
      learned += m
      r += 1
      if (r <= rounds) pairs = pairCounts()
    }
    val out = learned.result()
    if (requireFull) require(out.size == rounds,
      s"corpus exhausted after ${out.size} of $rounds $trainer merges; " +
        "the unrolled oracle CTE chain assumes exactly `rounds` rounds")
    out
  }

  /** The WordPiece word table: (w, syms, n) with BERT's symbolization —
    * the word-initial character bare, every later character
    * '##'-prefixed. Whitespace pre-tokenization (the q156 word-level
    * convention). Serving derives its vocabulary from these initial
    * symbols, so the table is shared by trainer and tokenizer.
    */
  def wordPieceWordTable(docs: DataFrame, text: Column): DataFrame =
    docs
      .select(text.as("__t"))
      .select(explode(pretokens(col("__t"), byteLevel = false)).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("n"))
      .select(col("w"), expr(
        """transform(sequence(1, length(w)),
          |  i -> CASE WHEN i = 1 THEN substring(w, 1, 1)
          |       ELSE concat('##', substring(w, i, 1)) END)""".stripMargin)
        .as("syms"),
        col("n"))

  /** A merged WordPiece symbol keeps the LEFT part's prefix: the right
    * part is always a continuation, so its '##' marker is consumed
    * ("a" + "##b" → "ab", "##a" + "##b" → "##ab").
    */
  private def wpMergedSym(a: String, b: String): String =
    a + (if (b.startsWith("##")) b.substring(2) else b)

  /** WORDPIECE vocabulary induction (Schuster & Nakajima 2012 — BERT's
    * tokenizer; selection rule per the public HuggingFace trainer): the
    * third member of the tokenizer family next to BPE ([[bpeMerges]])
    * and unigram-LM ([[graft.operators.Unigram]]). Same decomposition as
    * BPE — ONE corpus pass to the word-frequency table, then vocab-sized
    * merge rounds — but each round merges the adjacent pair maximizing
    * the LIKELIHOOD score count(ab)/(count(a))·count(b)), the pair whose
    * fusion most improves a unigram LM of the symbol stream, instead of
    * BPE's raw count: a pair that is frequent only because its parts are
    * ("th"+"e") loses to a pair whose parts rarely occur apart.
    *
    * Determinism: counts are exact integer sums; the score is ONE
    * correctly-rounded double division of exact-in-double integers
    * (counts < 2⁵³, products < 2⁵³ on any real vocabulary since both
    * factors are symbol counts of a bounded table) — identical in both
    * engines; ties break (sym_a, sym_b) compared as UTF-8 bytes, the same
    * rule replayed by the oracle. Application is the BPE trainer's own
    * fold step, shared verbatim.
    *
    * 100 TB design: ONE distributed aggregate reduces the corpus to the
    * word table, which is collected to the driver; every round (pair and
    * symbol counts, argmax, fold) then runs in driver memory bounded by
    * the number of distinct words, so the job count is fixed whatever
    * `rounds` is and the corpus is never rescanned. A table above
    * [[MaxTrainerWords]] fails with an error naming the bound.
    *
    * Output: (merge_round, sym_a, sym_b, pair_count, cnt_a, cnt_b) — the
    * merge table plus the exact integers the score derives from, so the
    * artifact is fully auditable (and the gate hash-checks every one).
    */
  def wordPieceMerges(docs: DataFrame, text: Column, rounds: Int,
      requireFull: Boolean = false): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    import scala.math.Ordering.Double.TotalOrdering
    trainMerges(wordPieceWordTable(docs, text), rounds, requireFull,
        MaxTrainerWords, "WordPiece") { (r, pairs, symbolCounts) =>
      val c = symbolCounts()
      val ((a, b), cnt) = pairs.minBy { case ((a, b), cnt) =>
        (-(cnt.toDouble / (c(a).toDouble * c(b).toDouble)), a, b)
      }
      (a, b, UTF8String.fromString(wpMergedSym(a.toString, b.toString)),
        (r.toLong, a.toString, b.toString, cnt, c(a), c(b)))
    }.toDF("merge_round", "sym_a", "sym_b", "pair_count", "cnt_a", "cnt_b")
  }

  /** The serving vocabulary a trained WordPiece tokenizer ships: the word
    * table's initial symbols (every word-initial character bare + every
    * non-initial character '##'-prefixed) plus each merge's product.
    * Driver-sized BY CONSTRUCTION (≤ 2·|alphabet| + rounds entries — the
    * merge-table / LM-model bounded-artifact contract).
    */
  def wordPieceVocab(wordTable: DataFrame, merges: Seq[(String, String)]): Seq[String] = {
    val spark = wordTable.sparkSession
    import spark.implicits._
    val init = wordTable.select(explode(col("syms")).as("s"))
      .distinct().as[String].collect().toSeq
    (init ++ merges.map { case (a, b) => wpMergedSym(a, b) }).distinct
  }

  /** Per-doc WordPiece counts (id, n_tokens, n_unk) of a corpus under a
    * stored vocabulary ([[loadWordPieceVocab]]): each distinct
    * lowercased whitespace word tokenizes once (the pass under
    * [[tokenCounts]]), and the counts sum per doc. An unsegmentable word
    * counts as ONE `[UNK]` token and is tallied in n_unk: a rising n_unk
    * is the drift signal that triggers a retrain-and-swap, never an
    * in-stream vocabulary update. EVERY input doc gets a row — a doc with
    * no words (empty or whitespace text) reports (id, 0, 0) rather than a
    * silent gap.
    */
  def wordPieceDocCounts(docs: DataFrame, id: Column, text: Column,
      vocab: Seq[String]): DataFrame = {
    val perDoc = distinctWordPass(
        docs.select(id.as("id"), wordsOf(text).as("ws")),
        Encoder.WordPiece(vocab), positions = false)(toks =>
      Seq(size(toks).cast("long").as("nt"),
        when(element_at(toks, 1) === lit("[UNK]"), 1L).otherwise(0L).as("unk")))(
      sum(col("nt")).as("nt"), sum(col("unk")).as("unk"))
    docs.select(id.as("id"))
      .join(perDoc, Seq("id"), "left")
      .select(col("id"), coalesce(col("nt"), lit(0L)).as("n_tokens"),
        coalesce(col("unk"), lit(0L)).as("n_unk"))
  }

  /** Invert a WordPiece token array back to its source word: the first
    * piece verbatim, every continuation piece with its `##` marker
    * stripped, concatenated — the standard WordPiece detokenization. An
    * `[UNK]` word does NOT round-trip (the vocabulary lost it — exactly
    * what a round-trip gate exists to count). One codegen'd expression,
    * no UDF.
    */
  def wordPieceDetokenize(toks: Column): Column =
    concat(element_at(toks, 1),
      concat_ws("", transform(slice(toks, lit(2), size(toks) - 1),
        x => when(x.startsWith("##"), x.substr(lit(3), length(x)))
          .otherwise(x))))

  /** Persist a trained WordPiece tokenizer to `dir` — `vocab/` (the flat
    * serving vocabulary, one symbol per row with a stable `ord` for
    * deterministic reload order) and `merges/` (the audit trail of how
    * it was built, [[wordPieceMerges]]' output). The model-artifact
    * pattern ([[writeBpeModel]]'s sibling): strings round-trip parquet
    * losslessly and greedy longest-match-first depends only on SET
    * membership, so stored-and-applied ≡ freshly-trained.
    */
  def writeWordPieceModel(wordTable: DataFrame, merges: DataFrame,
      dir: String): Unit = {
    val spark = wordTable.sparkSession
    import spark.implicits._
    val ms = merges.orderBy(col("merge_round"))
      .select(col("sym_a"), col("sym_b"))
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    wordPieceVocab(wordTable, ms).zipWithIndex
      .toDF("sym", "ord").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/vocab")
    merges.coalesce(1).write.mode("overwrite").parquet(s"$dir/merges")
    spark.catalog.refreshByPath(dir)
  }

  /** Load a [[writeWordPieceModel]] vocabulary — the bounded driver-side
    * artifact [[Encoder.WordPiece]] ships as expression data.
    */
  def loadWordPieceVocab(spark: org.apache.spark.sql.SparkSession,
      dir: String): Seq[String] =
    spark.read.parquet(s"$dir/vocab").orderBy(col("ord"))
      .select(col("sym")).collect().map(_.getString(0)).toSeq

  /** A trained subword encoder: the one part of [[encodeWords]],
    * [[tokenCounts]], [[roundTrip]] and [[tokenArrays]] that differs per
    * tokenizer family. `toks` is the token array of the pre-token column
    * `w`; `text(toks)` decodes a token array back to its pre-token (used
    * by [[roundTrip]]). Each model rides as expression DATA through one
    * native tree node ([[graft.functions.BpeEncodeExpr]] et al.): zero shuffles,
    * plan depth constant in the model's size.
    */
  sealed trait Encoder {
    private[operators] def toks: Column
    private[operators] def text(toks: Column): Column
  }

  object Encoder {

    /** BPE under an ordered merge list ([[bpeMerges]] output): per word,
      * start from its characters — or with `byteLevel` its UTF-8 bytes as
      * hex pairs — and apply each merge rule IN ORDER with the trainer's
      * exact greedy left-to-right stack fold. (The chained form,
      * [[bpeVocabTokensChained]], keeps a |merges|-deep plan as the spec's
      * bit-identity witness.)
      */
    final case class Bpe(merges: Seq[(String, String)], byteLevel: Boolean)
        extends Encoder {
      private[operators] def toks: Column =
        graft.functions.bpe_encode(col("w"), merges, byteLevel)
      private[operators] def text(toks: Column): Column =
        if (byteLevel) bpeDetokenizeByteLevel(toks) else concat_ws("", toks)
    }

    /** WordPiece under a flat vocabulary ([[wordPieceVocab]]) with BERT's
      * greedy longest-match-first rule — NOT the trainer's merge order:
      * serving from the flat vocabulary is WordPiece's defining difference
      * from BPE. A word unsegmentable under the vocabulary becomes `[UNK]`.
      */
    final case class WordPiece(vocab: Seq[String]) extends Encoder {
      private[operators] def toks: Column =
        graft.functions.wordpiece_encode(col("w"), vocab)
      private[operators] def text(toks: Column): Column =
        wordPieceDetokenize(toks)
    }

    /** Unigram-LM Viterbi segmentation under a trained (piece, score)
      * model ([[graft.operators.Unigram.loadModel]]). With `byteLevel`
      * the pre-token first maps to one code point per UTF-8 byte
      * ([[graft.operators.Unigram.byteChars]]), and decoding inverts that
      * map after concatenating the pieces (Viterbi SEGMENTS the word).
      */
    final case class Unigram(model: Seq[(String, Long)], byteLevel: Boolean,
        maxPieceLen: Int = graft.operators.Unigram.MaxPieceLen)
        extends Encoder {
      private[operators] def toks: Column =
        graft.functions.unigram_encode(
          if (byteLevel) graft.operators.Unigram.byteChars else col("w"),
          model, maxPieceLen, graft.operators.Unigram.UnkScoreMicro)
      private[operators] def text(toks: Column): Column =
        if (byteLevel)
          graft.operators.Unigram.byteCharsToStringCol(concat_ws("", toks))
        else concat_ws("", toks)
    }
  }

  /** Tokenize a word set (column `w`) with `enc`: (w, toks). */
  def encodeWords(words: DataFrame, enc: Encoder): DataFrame =
    words.select(col("w"), enc.toks.as("toks"))

  /** The composable chained-`aggregate` tokenizer — one codegen'd fold per
    * merge rule. Retained as the independent witness the BpeEncodeSpec
    * pins [[encodeWords]] with [[Encoder.Bpe]] against (bit-identical
    * outputs); plan depth is linear in |merges|, so production use goes
    * through the native form.
    */
  private[graft] def bpeVocabTokensChained(words: DataFrame,
      merges: Seq[(String, String)]): DataFrame = {
    val sq = (s: String) => s.replace("\\", "\\\\").replace("'", "\\'")
    var v = words.select(col("w"), expr(
      "transform(sequence(1, length(w)), i -> substring(w, i, 1))").as("toks"))
    for ((a, b) <- merges)
      v = v.select(col("w"), expr(
        s"""aggregate(transform(toks, s -> array(s)),
           |  cast(array() as array<string>),
           |  (acc, x) -> CASE WHEN size(acc) > 0
           |      AND element_at(acc, -1) = '${sq(a)}' AND x[0] = '${sq(b)}'
           |    THEN concat(slice(acc, 1, size(acc) - 1), array('${sq(a + b)}'))
           |    ELSE concat(acc, x) END)""".stripMargin).as("toks"))
    v
  }

  /** Persist a learned merge table ([[bpeMerges]] output, either
    * boundary) to `dir/merges` — the model-artifact pattern
    * ([[writeLmModel]]/[[writeLinearModel]]) applied to the TOKENIZER:
    * train once, ship the merge list, tokenize forever. The table is
    * tiny (one row per merge rule) and loads driver-side into the
    * [[graft.functions.BpeEncodeExpr]] expression data, exactly like a
    * freshly-trained list — strings round-trip parquet losslessly, so
    * stored-and-applied ≡ freshly-trained (gate-pinned via q181's
    * verbatim q157 oracle).
    */
  def writeBpeModel(merges: DataFrame, dir: String): Unit = {
    merges.coalesce(1).write.mode("overwrite").parquet(s"$dir/merges")
    merges.sparkSession.catalog.refreshByPath(dir)
  }

  /** Load a [[writeBpeModel]] artifact as the ordered merge list the
    * appliers ([[Encoder.Bpe]]) consume. Bounded
    * driver action: the merge table IS driver-sized by construction.
    */
  def loadBpeMerges(spark: org.apache.spark.sql.SparkSession,
      dir: String): Seq[(String, String)] =
    spark.read.parquet(s"$dir/merges")
      .orderBy(col("merge_round"))
      .collect().map(r =>
        (r.getAs[String]("sym_a"), r.getAs[String]("sym_b"))).toSeq

  /** The frozen (piece → id) vocabulary of a BYTE-LEVEL BPE merge list —
    * what turns piece-string shards into the INT token-id arrays a
    * pretraining loader actually mmaps. Ids follow the GPT-2 layout: the
    * closed 256-symbol byte alphabet (uppercase hex pairs — Spark's
    * hex-of-string) takes ids 0..255 in byte order, then each merge's
    * product takes 256 + its round index. Should two merge products ever
    * collide on the same string (possible in principle: "AB"+"CDEF" ≡
    * "ABCD"+"EF"), the SMALLEST id wins — the map must be a function.
    * Driver-sized by construction (256 + |merges| entries).
    */
  def bpeVocabIdsByteLevel(merges: Seq[(String, String)]): Map[String, Long] = {
    val entries = (0 until 256).map(b => f"$b%02X" -> b.toLong) ++
      merges.zipWithIndex.map { case ((a, b), i) => (a + b) -> (256L + i) }
    entries.groupBy(_._1).view.mapValues(_.map(_._2).min).toMap
  }

  /** Persist a [[bpeVocabIdsByteLevel]] map as the `vocab_ids` artifact —
    * the loader-facing twin of [[writeBpeModel]]: one bounded parquet of
    * (piece, id) rows a trainer's data loader reads ONCE to interpret
    * every token-id shard ever produced under this tokenizer.
    */
  def writeBpeVocabIds(spark: org.apache.spark.sql.SparkSession,
      vocab: Map[String, Long], dir: String): Unit = {
    import spark.implicits._
    vocab.toSeq.sortBy(_._2).toDF("piece", "id")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/vocab_ids")
    spark.catalog.refreshByPath(dir)
  }

  /** Load a [[writeBpeVocabIds]] artifact back to the driver-sized map the
    * shard exporter ships as expression data.
    */
  def loadBpeVocabIds(spark: org.apache.spark.sql.SparkSession,
      dir: String): Map[String, Long] =
    spark.read.parquet(s"$dir/vocab_ids")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  /** Frozen (piece → id) vocabulary for a stored WordPiece model —
    * the BERT id convention: `[UNK]` takes id 0 (it IS a servable output
    * of [[Encoder.WordPiece]], so the id map must cover it), then the
    * stored vocabulary entries follow their persisted `ord` at id 1..
    * ([[loadWordPieceVocab]]'s order). Duplicate strings keep the
    * smallest id (the map must be a function). Feed to
    * [[graft.operators.Curation.packShardIds]] for WordPiece-family
    * token-id shard export.
    */
  def wordPieceVocabIds(vocab: Seq[String]): Map[String, Long] = {
    val entries = ("[UNK]" -> 0L) +:
      vocab.zipWithIndex.map { case (s, i) => s -> (i + 1L) }
    entries.groupBy(_._1).view.mapValues(_.map(_._2).min).toMap
  }

  /** The distinct-word pass under [[tokenCounts]], [[roundTrip]],
    * [[tokenArrays]] and [[wordPieceDocCounts]] — tokenize the VOCAB, not
    * the corpus: over a (keys…, ws) frame, the distinct pre-tokens derive
    * with one hash aggregate, each encodes ONCE (a 10^9-occurrence word is
    * tokenized once) and `perWord` maps its `toks` to per-word columns;
    * those join back onto the exploded corpus (an equi-join on `w`; AQE
    * broadcasts the vocab side when it fits — with each pre-token's
    * position `pos` when `positions`) and reduce per key with `agg`.
    * Exactly how production tokenizer pipelines amortize: cache per word,
    * never re-encode per occurrence. A key with no pre-tokens has no row.
    */
  private def distinctWordPass(pre: DataFrame, enc: Encoder,
      positions: Boolean)(perWord: Column => Seq[Column])(
      agg: Column*): DataFrame = {
    val keys = pre.columns.toSeq.filter(_ != "ws").map(col)
    val dw = pre.select(keys :+ (if (positions)
      posexplode(col("ws")).as(Seq("pos", "w"))
    else explode(col("ws")).as("w")): _*)
    val wt = dw.select(col("w")).distinct()
      .select(col("w"), enc.toks.as("toks"))
      .select(col("w") +: perWord(col("toks")): _*)
    dw.join(wt, "w").groupBy(keys: _*).agg(agg.head, agg.tail: _*)
  }

  /** The position-ordered per-key array of a per-word column `c`. */
  private def inPosOrder(c: String): String =
    s"transform(sort_array(collect_list(struct(pos, $c))), x -> x.$c)"

  /** Per-key token counts (keys…, n_tokens) of a (keys…, ws) pre-token
    * frame ([[pretokenize]]) under `enc` — the data-prep-time application
    * of a trained tokenizer (what decides sequence packing, token budgets
    * and mixture weights).
    */
  def tokenCounts(pre: DataFrame, enc: Encoder): DataFrame =
    distinctWordPass(pre, enc, positions = false)(toks =>
      Seq(size(toks).cast("long").as("nt")))(sum(col("nt")).as("n_tokens"))

  /** Tokenizer INTEGRITY check — encode∘decode ≡ identity over the real
    * corpus (the deploy gate a tokenizer artifact ships behind; a lossy
    * tokenizer silently corrupts every downstream token count and packed
    * sequence): every distinct pre-token of a [[pretokenize]] frame
    * encodes through `enc` and decodes back; per key, reports the
    * pre-token count, the number of pre-tokens whose round trip
    * mismatched (a WordPiece `[UNK]` is a mismatch unless the word IS the
    * unk literal), and the md5 of the POSITION-ORDERED concatenation of
    * the decoded pre-tokens — equal to the md5 of the original pre-token
    * stream iff the round trip is exact, which is what puts this on a
    * hash-compare oracle gate (the oracle computes the md5 from the
    * ORIGINAL pre-tokens and asserts 0 mismatches — the q45
    * guarantee-gate shape: oracle = ground truth, engine = the actual
    * round trip).
    *
    * @return (keys…, n_pretokens, n_mismatch, rt_md5), keys with ≥1
    *         pre-token only
    */
  def roundTrip(pre: DataFrame, enc: Encoder): DataFrame =
    distinctWordPass(pre, enc, positions = true)(toks =>
      Seq(enc.text(toks).as("dec")))(
      count(lit(1)).as("n_pretokens"),
      sum(when(col("dec") =!= col("w"), 1L).otherwise(0L)).as("n_mismatch"),
      md5(expr(s"array_join(${inPosOrder("dec")}, '')")).as("rt_md5"))

  /** Per-key token arrays (keys…, toks) of a [[pretokenize]] frame under
    * `enc`, in document order — the corpus tokenize shared by every
    * byte-BPE packing tail (q218/q222/q226/q230/q238/q251) and the shard
    * export sinks.
    */
  def tokenArrays(pre: DataFrame, enc: Encoder): DataFrame =
    distinctWordPass(pre, enc, positions = true)(toks => Seq(toks))(
      expr(s"flatten(${inPosOrder("toks")})").as("toks"))

  /** CCNet's head/middle/tail partition (Wenzek et al. 2019 §4.3 — the
    * published pipeline doesn't FILTER on perplexity, it BUCKETS: the
    * corpus splits per group into the best/middle/worst thirds and
    * downstream sampling draws mostly from the head): documents score
    * against the reference-slice bigram LM ([[lmPerplexityFilter]]'s
    * model, threshold-free), per-group tercile boundaries come from ONE
    * exact-percentile aggregate, and each doc compares against its
    * group's rounded boundaries. Bucket semantics: ppl ≤ b1 → head,
    * ≤ b2 → middle, else tail (boundary docs fall into the better
    * bucket). Both ppl and the boundaries are rounded to 4 dp BEFORE
    * comparison — engines replaying the same arithmetic compare the
    * same rounded values, the house float-determinism discipline.
    *
    * 100 TB posture: the model is bounded and broadcasts (q175); the
    * boundary table is TWO doubles per group (one percentile aggregate,
    * broadcast back); the bucket assignment is a narrow map — no
    * per-group sort, no window over unbounded groups.
    *
    * @return (id, group, ppl, bucket) for every ≥2-token doc
    */
  def perplexityPartition(docs: DataFrame, id: Column, text: Column,
      group: Column, refFilter: Column, maxV: Int, maxB: Int,
      lambda: Double): DataFrame = {
    import graft.CacheScope.ScopedPersist
    val scored = lmPerplexityFilter(docs, id, text, refFilter, maxV, maxB,
      lambda, Double.MaxValue).select(col("id"), col("ppl"))
    val j = scored
      .join(docs.select(id.as("id"), group.cast("string").as("group")), "id")
      .persistScoped() // feeds the boundary aggregate AND the assignment
    val bounds = j.groupBy(col("group")).agg(
      round(expr(s"percentile(ppl, ${1.0 / 3}D)"), 4).as("__b1"),
      round(expr(s"percentile(ppl, ${2.0 / 3}D)"), 4).as("__b2"))
    j.join(broadcast(bounds), "group")
      .select(col("id"), col("group"), col("ppl"),
        when(col("ppl") <= col("__b1"), "head")
          .when(col("ppl") <= col("__b2"), "middle")
          .otherwise("tail").as("bucket"))
  }

  /** Pairwise Jensen-Shannon divergence between per-GROUP unigram
    * distributions — the LEXICAL domain-drift map (the embedding-space
    * sibling is [[Similarity.groupCentroidCosine]]): which sources speak
    * the same language of tokens, which have drifted — the diagnostic
    * mixture design and dataset-shift monitoring read. Distributions
    * live on a BOUNDED support: the global top-`vocabSize` terms plus
    * ONE OOV bucket (term "" — real tokens are non-empty by the zero-
    * length filter, and the empty string gives the bucket a fixed sort
    * position), with add-one smoothing over the |V|+1 cells so every
    * cell is positive and JSD is finite. JSD(P,Q) =
    * ½·Σ p·ln(2p/(p+q)) + ½·Σ q·ln(2q/(p+q)) in nats, folded over cells
    * in sorted term order (the house float-determinism discipline: all
    * probabilities derive from exact integer counts, the sum order is
    * total).
    *
    * 100 TB posture: ONE token explode feeding three partial-aggregated
    * integer counts (global vocab via bounded TakeOrdered, per-group
    * totals, per-(group, vocab-term) counts); the distribution grid is
    * |groups|·(|V|+1) rows, the pair table |groups|²·(|V|+1)/2 — both
    * broadcast-scale; no window over unbounded groups, no global sort.
    *
    * @return (g_a, g_b, jsd) for every pair g_a < g_b, round-4 nats
    */
  def unigramJsDivergence(docs: DataFrame, text: Column, group: Column,
      vocabSize: Int): DataFrame = {
    import graft.CacheScope.ScopedPersist
    require(vocabSize >= 1)
    val toks = docs.select(group.cast("string").as("g"),
        explode(wordsOf(text)).as("w"))
      .persistScoped() // feeds the vocab, totals and counts
    val vocab = toks.groupBy(col("w")).agg(count(lit(1)).as("__c"))
      .orderBy(col("__c").desc, col("w")).limit(vocabSize)
      .select(col("w"))
      .persistScoped() // joined twice (counts, grid)
    // |V| is the ACTUAL vocab size (a corpus with fewer distinct terms
    // than requested smooths over fewer cells) — bounded driver action
    val vSize = vocab.count()
    val tot = toks.groupBy(col("g")).agg(count(lit(1)).as("n"))
    val cnt = toks.join(broadcast(vocab), Seq("w"))
      .groupBy(col("g"), col("w")).agg(count(lit(1)).as("c"))
    val grid = tot.select(col("g")).crossJoin(broadcast(vocab))
      .join(cnt, Seq("g", "w"), "left")
      .select(col("g"), col("w"), coalesce(col("c"), lit(0L)).as("c"))
    val oov = grid.groupBy(col("g")).agg(sum(col("c")).as("__cv"))
      .join(tot, Seq("g"))
      .select(col("g"), lit("").as("w"), (col("n") - col("__cv")).as("c"))
    val cells = grid.unionAll(oov)
      .join(broadcast(tot), Seq("g"))
      .select(col("g"), col("w"),
        ((col("c") + 1).cast("double") /
          (col("n") + vSize + 1).cast("double")).as("p"))
    val a = cells.select(col("g").as("g_a"), col("w"), col("p").as("pa"))
    val b = cells.select(col("g").as("g_b"), col("w"), col("p").as("pb"))
    a.join(b, Seq("w"))
      .filter(col("g_a") < col("g_b"))
      .select(col("g_a"), col("g_b"), col("w"),
        (lit(0.5) * col("pa") * log(lit(2.0) * col("pa") / (col("pa") + col("pb")))
          + lit(0.5) * col("pb") * log(lit(2.0) * col("pb") / (col("pa") + col("pb"))))
          .as("t"))
      .groupBy(col("g_a"), col("g_b"))
      .agg(round(expr(
        "aggregate(transform(sort_array(collect_list(struct(w, t))), x -> x.t), 0D, (acc, v) -> acc + v)"),
        4).as("jsd"))
  }

  /** Persist a [[perplexityPartition]] boundary table (group, b1, b2) as
    * a parquet artifact — the stored-model discipline applied to the
    * bucketing thresholds: boundaries are derived ONCE from a reference
    * corpus snapshot and serving buckets against the FROZEN values
    * (recomputing terciles per serving batch would make a document's
    * bucket depend on what it arrived with). Rounded doubles round-trip
    * parquet losslessly, so stored-and-bucketed ≡ freshly-derived.
    */
  def writePplBoundaries(docs: DataFrame, id: Column, text: Column,
      group: Column, refFilter: Column, maxV: Int, maxB: Int,
      lambda: Double, dir: String): Unit = {
    val part = perplexityPartition(docs, id, text, group, refFilter,
      maxV, maxB, lambda)
    part.groupBy(col("group")).agg(
      round(expr(s"percentile(ppl, ${1.0 / 3}D)"), 4).as("b1"),
      round(expr(s"percentile(ppl, ${2.0 / 3}D)"), 4).as("b2"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/bounds")
    docs.sparkSession.catalog.refreshByPath(dir)
  }

  /** Bucket documents against a stored [[writePplBoundaries]] artifact:
    * score with the (also stored) reference LM, compare against the
    * frozen group boundaries — [[perplexityPartition]]'s serving form.
    * Both artifacts stay frozen: recomputing terciles per serving batch
    * would make a doc's bucket depend on its batch-mates.
    * A doc whose group has no stored boundary row gets a null bucket
    * (fail-visible: an unknown group is a contract violation to surface,
    * not a silent 'tail').
    */
  def pplBucketAgainstBoundaries(docs: DataFrame, id: Column, text: Column,
      group: Column, lmDir: String, boundsDir: String,
      lambda: Double): DataFrame = {
    val spark = docs.sparkSession
    val scored = lmScoreAgainstModel(docs, id, text, lmDir, lambda,
      Double.MaxValue).select(col("id"), col("ppl"))
    val bounds = spark.read.parquet(s"$boundsDir/bounds")
    scored
      .join(docs.select(id.as("id"), group.cast("string").as("group")), "id")
      .join(broadcast(bounds), Seq("group"), "left")
      .select(col("id"), col("group"), col("ppl"),
        when(col("b1").isNull, lit(null).cast("string"))
          .when(col("ppl") <= col("b1"), "head")
          .when(col("ppl") <= col("b2"), "middle")
          .otherwise("tail").as("bucket"))
  }

  /** Detokenize a BYTE-LEVEL token array back to its source pre-token:
    * byte-level tokens are hex-pair concatenations of UTF-8 bytes
    * ([[graft.functions.BpeEncodeExpr]] byte mode), so the inverse is
    * concat → unhex → UTF-8 decode. The concat happens BEFORE unhex — a
    * multi-byte character's bytes may be SPLIT ACROSS TOKENS by the
    * merge history, so per-token decoding would produce replacement
    * chars; the word-level byte string is always whole. One codegen'd
    * expression chain, no UDF.
    */
  def bpeDetokenizeByteLevel(toks: Column): Column =
    decode(unhex(concat_ws("", toks)), "UTF-8")

  /** CCNet-style perplexity filter (Wenzek et al. 2019, "CCNet:
    * Extracting High Quality Monolingual Datasets from Web Crawl Data" —
    * public paper): a word-bigram language model is trained on a
    * REFERENCE slice of the corpus (CCNet trains KenLM on Wikipedia; the
    * held-out-model discipline is the point — unlike corpus-self-scoring
    * (the q130 shape), the model never adapts to the junk it filters),
    * PRUNED to a bounded vocabulary and bigram table, and every document
    * is scored by its interpolated cross-entropy
    * H = −(1/m)·Σ ln(λ·p_bi(w₂|w₁) + (1−λ)·p_uni(w₂)), ppl = e^H.
    * High perplexity = far from the reference distribution (gibberish,
    * boilerplate, wrong register) — the filter keeps ppl ≤ threshold.
    * This is the teaching smoothing (constant-λ add-one interpolation);
    * [[knPerplexityFilter]] is the production one, over the same model.
    *
    * Smoothing: p_bi = B(w₁w₂)/U(w₁) over the pruned tables (0 when the
    * bigram is unseen/pruned), p_uni = (U(w₂)+1)/(T+V+1) add-one over
    * the pruned vocabulary (OOV → 1/(T+V+1) > 0), so every position has
    * positive probability. Exact integer counts; deterministic pruning
    * by (count desc, term) — a total order, no ties to break.
    *
    * 100 TB design: the MODEL is bounded by construction (maxV + maxB
    * rows — the top-k prunes are bounded-state TakeOrdered, never a
    * global sort) and BROADCASTS to the scoring join, so the corpus side
    * is one explode + per-(doc, bigram) partial aggregation; the per-doc
    * fold is over its distinct bigrams (q119 sorted-fold determinism).
    * Docs with < 2 tokens have no bigram positions and are dropped.
    *
    * Output: id, n_bigrams, h, ppl, keep.
    */
  def lmPerplexityFilter(docs: DataFrame, id: Column, text: Column,
      refFilter: Column, maxV: Int, maxB: Int, lambda: Double,
      pplThreshold: Double): DataFrame = {
    val (grams, vocab, pruned) =
      lmNFit(docs, id, text, refFilter, 2, maxV, maxB)
    lmScore(grams, vocab, pruned, lambda, pplThreshold)
  }

  /** Score per-doc bigrams with the add-one λ interpolation against an
    * order-2 (vocab, pruned) model — the shared serving core of the
    * direct and stored-model paths.
    */
  private def lmScore(grams: DataFrame, vocab: DataFrame, pruned: DataFrame,
      lambda: Double, pplThreshold: Double): DataFrame = {
    val vst = vocab.agg(sum(col("uc")).as("tt"), count(lit(1)).as("nv"))
    lmNPerplexity(grams, 2, pplThreshold)(_
      .join(broadcast(pruned), Seq("w1", "w2"), "left")
      .join(broadcast(vocab.select(col("w").as("w1"), col("uc").as("u1"))),
        Seq("w1"), "left")
      .join(broadcast(vocab.select(col("w").as("w2"), col("uc").as("u2"))),
        Seq("w2"), "left")
      .crossJoin(broadcast(vst))
      .withColumn("lp", log(
        lit(lambda) * coalesce(col("c").cast("double") / col("u1"), lit(0.0))
          + lit(1.0 - lambda)
            * (coalesce(col("u2"), lit(0L)) + 1).cast("double")
            / (col("tt") + col("nv") + 1).cast("double"))))
  }

  /** Persist a trained+pruned order-`order` LM to `dir` — `vocab/` (w, uc)
    * and `grams/` (w1..wN, c) parquet — the model-artifact sibling of the
    * stored retrieval indexes: train ONCE on the reference corpus, serve
    * forever. [[lmScoreAgainstModel]] (order 2) and [[knScoreAgainstModel]]
    * (any order) over the stored model are pinned identical to
    * [[lmPerplexityFilter]] / [[knPerplexityFilter]] over the live
    * reference (stored-and-scored ≡ freshly-trained, the index-integrity
    * contract applied to a model). Exact integer counts round-trip parquet
    * losslessly, so nothing drifts; the order is the number of `w`
    * columns in `grams/`, so the store describes itself.
    */
  def writeLmModel(docs: DataFrame, id: Column, text: Column, order: Int,
      maxV: Int, maxT: Int, dir: String): Unit = {
    import graft.CacheScope.ScopedPersist
    val base = lmNBase(docs, text, order, id.as("id"))
    val grams = lmNGrams(base, order).persistScoped()
    val (vocab, pruned) = lmNTrain(base, grams, order, maxV, maxT)
    vocab.coalesce(1).write.mode("overwrite").parquet(s"$dir/vocab")
    pruned.coalesce(1).write.mode("overwrite").parquet(s"$dir/grams")
    docs.sparkSession.catalog.refreshByPath(dir)
  }

  /** Score documents with add-one smoothing against an order-2
    * [[writeLmModel]] artifact: load the two bounded tables (they
    * broadcast — per-batch serving cost is the batch's explode + partial
    * agg, the model never retrains or shifts). The online form of the
    * q175/q176 filter: the model never adapts to the stream it filters,
    * so a replayed batch re-derives its scores. A store of another order
    * is refused, naming the order.
    */
  def lmScoreAgainstModel(docs: DataFrame, id: Column, text: Column,
      dir: String, lambda: Double, pplThreshold: Double): DataFrame = {
    val (grams, vocab, pruned, order) = lmNStored(docs, id, text, dir)
    require(order == 2, s"lmScoreAgainstModel: add-one smoothing serves " +
      s"order-2 models only; $dir holds an order-$order model")
    lmScore(grams, vocab, pruned, lambda, pplThreshold)
  }

  /** Interpolated KNESER-NEY n-gram LM — the smoothing KenLM ships and
    * therefore what the published CCNet pipeline actually scores with
    * (Kneser & Ney 1995; Chen & Goodman 1999's interpolated form) — at
    * any `order` ≥ 2: order 2 is [[lmPerplexityFilter]]'s model under the
    * production smoothing (the two rows differ ONLY in smoothing), 3 is
    * the smallest order with the full recursion, 5 is KenLM's PRODUCTION
    * order (the order CCNet's published filters ship). Two ideas it adds
    * over the add-one form:
    *
    *  - ABSOLUTE DISCOUNTING: every seen n-gram's count is discounted by
    *    a fixed D and exactly the freed mass is handed to the level
    *    below — the interpolation weight is per-context
    *    (D·N1+(ctx·)/c(ctx·)), not a global λ.
    *  - CONTINUATION PROBABILITY: every lower level asks "after how many
    *    DISTINCT contexts does this appear?" (N1+(·w)), not "how often?".
    *    The classic "Francisco" effect: a frequent word welded to one
    *    context ("francisco" after "san") gets low fallback mass, where
    *    a unigram fallback would rank it high everywhere.
    *
    * Same reference slice, pruning (maxV + maxT rows by (count desc,
    * terms)) and corpus plumbing at every order; docs with fewer than
    * `order` tokens have no n-gram positions and are dropped.
    *
    * Output: id, n_bigrams | n_trigrams | n_grams<order>, h, ppl, keep.
    */
  def knPerplexityFilter(docs: DataFrame, id: Column, text: Column,
      refFilter: Column, order: Int, maxV: Int, maxT: Int,
      pplThreshold: Double): DataFrame = {
    val (grams, vocab, pruned) =
      lmNFit(docs, id, text, refFilter, order, maxV, maxT)
    knScoreN(grams, vocab, pruned, order, pplThreshold)
  }

  /** Kneser-Ney scoring against a [[writeLmModel]] artifact of any order,
    * read from the schema of its `grams/` table. The discount statistics
    * derive from the pruned table at load (exact integers), so an order-2
    * artifact serves both smoothings and a serving stream can switch
    * add-one → KN without retraining or re-shipping a model.
    */
  def knScoreAgainstModel(docs: DataFrame, id: Column, text: Column,
      dir: String, pplThreshold: Double): DataFrame = {
    val (grams, vocab, pruned, order) = lmNStored(docs, id, text, dir)
    knScoreN(grams, vocab, pruned, order, pplThreshold)
  }

  // ===== the n-gram LM core (every order, both smoothings) ================
  // ONE order-parameterized generator serves every order: the KN
  // recursion is structural — raw counts discounted at the top order,
  // CONTINUATION type counts at every lower order (each level's table is
  // the distinct-context count of the level above), add-one continuation
  // unigram at the bottom — so the order is a loop bound, not a reason
  // for twin code. The oracle side generates its CASE chain recursively
  // from the same parameter (q246/q254), keeping the two sides from
  // drifting independently.

  /** ≥order-token docs: `cols` plus the token array `ws` — the n-gram
    * families' corpus base. `cols` evaluate BEFORE projection (a
    * reference filter references the caller's doc columns, which the
    * tokenized frame no longer carries).
    */
  private def lmNBase(docs: DataFrame, text: Column, order: Int,
      cols: Column*): DataFrame = {
    require(order >= 2, s"n-gram LM order must be >= 2, got $order")
    docs.select(cols :+ wordsOf(text).as("ws"): _*)
      .filter(size(col("ws")) >= order)
  }

  /** Adjacent n-gram explode: (id [, is_ref], w1..wN) — one row per
    * n-gram POSITION (multiplicity preserved for the counts).
    */
  private def lmNGrams(base: DataFrame, order: Int): DataFrame = {
    val extra = base.columns.filter(c => c != "id" && c != "ws").map(col)
    base.select((col("id") +: extra :+
        explode(transform(sequence(lit(1), size(col("ws")) - (order - 1)),
          i => struct((0 until order).map(k =>
            element_at(col("ws"), i + k).as(s"w${k + 1}")): _*))).as("p")): _*)
      .select((col("id") +: extra) ++
        (1 to order).map(k => col(s"p.w$k")): _*)
  }

  /** Train the pruned top-order table from reference tokens/grams:
    * (vocab(w, uc), pruned(w1..wN, c)) — both bounded by the
    * deterministic (count desc, terms) top-k.
    */
  private def lmNTrain(refBase: DataFrame, refGrams: DataFrame, order: Int,
      maxV: Int, maxT: Int): (DataFrame, DataFrame) = {
    import graft.CacheScope.ScopedPersist
    val vocab = refBase.select(explode(col("ws")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("uc"))
      .orderBy(col("uc").desc, col("w")).limit(maxV)
      .persistScoped() // bounded model artifact: ≤ maxV rows, reused per level
    val pruned = (1 to order).foldLeft(refGrams) { (acc, k) =>
      acc.join(broadcast(vocab.select(col("w").as(s"w$k"))),
        Seq(s"w$k"), "left_semi")
    }
      .groupBy((1 to order).map(k => col(s"w$k")): _*)
      .agg(count(lit(1)).as("c"))
      .orderBy((col("c").desc +: (1 to order).map(k => col(s"w$k"))): _*)
      .limit(maxT)
    (vocab, pruned)
  }

  /** The direct path: every doc's n-grams (persisted — they feed the
    * reference counts AND the doc scoring) and the model trained on the
    * `refFilter` slice: (grams, vocab, pruned).
    */
  private def lmNFit(docs: DataFrame, id: Column, text: Column,
      refFilter: Column, order: Int, maxV: Int,
      maxT: Int): (DataFrame, DataFrame, DataFrame) = {
    import graft.CacheScope.ScopedPersist
    val base = lmNBase(docs, text, order, id.as("id"), refFilter.as("is_ref"))
    val grams = lmNGrams(base, order).persistScoped()
    val (vocab, pruned) = lmNTrain(base.filter(col("is_ref")),
      grams.filter(col("is_ref")), order, maxV, maxT)
    (grams, vocab, pruned)
  }

  /** The stored path: the docs' n-grams, the [[writeLmModel]] artifact's
    * two tables, and its order (the `w` columns of `grams/`).
    */
  private def lmNStored(docs: DataFrame, id: Column, text: Column,
      dir: String): (DataFrame, DataFrame, DataFrame, Int) = {
    val spark = docs.sparkSession
    val vocab = spark.read.parquet(s"$dir/vocab")
    val pruned = spark.read.parquet(s"$dir/grams")
    val order = pruned.columns.count(_.matches("w\\d+"))
    (lmNGrams(lmNBase(docs, text, order, id.as("id")), order), vocab, pruned,
      order)
  }

  /** Per-doc perplexity of the n-grams in `grams` — both smoothings'
    * shared tail. `lp` turns the per-(doc, n-gram) counts (id, w1..wN, n)
    * into rows carrying the log-probability `lp`; the per-doc sum is the
    * q119 sorted fold over gram-keyed terms.
    * Output: id, n_bigrams | n_trigrams | n_grams<order>, h, ppl, keep.
    */
  private def lmNPerplexity(grams: DataFrame, order: Int,
      pplThreshold: Double)(lp: DataFrame => DataFrame): DataFrame = {
    val ws = (1 to order).map(k => col(s"w$k"))
    val nOut = order match {
      case 2 => "n_bigrams"
      case 3 => "n_trigrams"
      case n => s"n_grams$n"
    }
    lp(grams.groupBy(col("id") +: ws: _*).agg(count(lit(1)).as("n")))
      .groupBy(col("id"))
      .agg(sum(col("n")).as("m"),
        sort_array(collect_list(struct(ws :+
          (col("n").cast("double") * col("lp")).as("v"): _*))).as("ts"))
      .select(col("id"), col("m").as(nOut),
        round(-expr("aggregate(ts, 0D, (a, x) -> a + x.v)") / col("m"), 4)
          .as("h"))
      .withColumn("ppl", round(exp(col("h")), 4))
      .withColumn("keep", col("ppl") <= pplThreshold)
  }

  /** Score per-doc n-grams with interpolated Kneser-Ney against a
    * (vocab, pruned top-order table) model — the shared serving core of
    * the direct and stored paths at every order:
    *
    *   p(wN|w1..wN−1)  = max(c(w1..wN) − D, 0)/c(w1..wN−1·)
    *                     + D·N1+(w1..wN−1·)/c(w1..wN−1·) · p_c(level N−1)
    *   p_c(level k)    = max(N1+(·ctx_k) − D, 0)/N1+(·ctx_{k−1}·)
    *                     + D·N1+(ctx_{k−1}·)/N1+(·ctx_{k−1}·) · p_c(k−1)
    *   p_c(wN)         = (N1+(·wN) + 1)/(N1+(··) + |V| + 1)  (add-one: OOV > 0)
    *
    * where every N1+ is a TYPE count derived recursively from the ONE
    * pruned top-order table (the Kneser-Ney insight applied at every
    * level: lower orders ask "after how many distinct contexts", never
    * "how often"); a missing context at any level backs off to the level
    * below. At order 2 there is no middle level: p_c(w2) is the
    * continuation unigram of the pruned bigram table itself. D is fixed
    * at 3/4 (exact in binary), so every max(x − D, 0)/y is computed as
    * greatest(4x − 3, 0)/(4y) over exact integers. ALL model ingredients
    * derive from the pruned table at serving time (instead of being
    * stored), so the stored artifact reproduces serving exactly: stored ≡
    * fresh BY CONSTRUCTION.
    *
    * Determinism: the per-gram probability is a fixed tree of
    * correctly-rounded IEEE ops over exact integers, written identically
    * in the oracle (the q175/q211 discipline); the per-doc sum is
    * [[lmNPerplexity]]'s sorted fold.
    *
    * 100 TB design: the model is bounded (maxV + maxT rows; every
    * derived context/continuation table strictly smaller) and
    * BROADCASTS into the scoring joins; the corpus side is one explode
    * + per-(doc, n-gram) partial aggregation. Raising the order adds
    * bounded broadcast joins, never a corpus-sized shuffle.
    */
  private def knScoreN(grams: DataFrame, vocab: DataFrame,
      pruned: DataFrame, order: Int, pplThreshold: Double): DataFrame = {
    import graft.CacheScope.ScopedPersist
    val gN = pruned.persistScoped() // ≤ maxT rows; feeds every derivation
    // raw top order: c(w1..wN−1·) and N1+(w1..wN−1·)
    val ctxTop = gN.groupBy((1 until order).map(k => col(s"w$k")): _*)
      .agg(sum(col("c")).as("cb"), count(lit(1)).as("nf"))
    // continuation chain: m_{N−1} from the pruned table, then each m_k
    // from m_{k+1}, keyed by the LAST k words
    val ms: Seq[(Int, DataFrame)] = {
      var prev = gN
      (order - 1 to 2 by -1).map { k =>
        val keys = (order - k + 1) to order
        val m = prev.groupBy(keys.map(i => col(s"w$i")): _*)
          .agg(count(lit(1)).as(s"n$k")).persistScoped()
        prev = m
        k -> m
      }
    }
    val ctxs: Map[Int, DataFrame] = ms.map { case (k, m) =>
      val keys = (order - k + 1) until order
      k -> m.groupBy(keys.map(i => col(s"w$i")): _*)
        .agg(sum(col(s"n$k")).as(s"n${k}b"), count(lit(1)).as(s"nd$k"))
    }.toMap
    // the bigram-level continuation table: m_2, or the pruned table itself
    // at order 2
    val m2 = ms.lastOption.fold(gN)(_._2)
    // continuation unigram: N1+(·wN), N1+(··), |V|
    val cw = m2.groupBy(col(s"w$order")).agg(count(lit(1)).as("ncw"))
    val tot = m2.agg(count(lit(1)).as("ntot"))
      .crossJoin(vocab.agg(count(lit(1)).as("nv")))
    def disc(num: Column, den: Column, types: Column, lower: Column): Column =
      greatest(lit(4) * coalesce(num, lit(0L)) - 3, lit(0L)).cast("double") /
        (lit(4) * den).cast("double") +
        (lit(3) * types).cast("double") /
          (lit(4) * den).cast("double") * lower
    lmNPerplexity(grams, order, pplThreshold) { dn =>
      var scored = dn
        .join(broadcast(gN), (1 to order).map(k => s"w$k"), "left")
        .join(broadcast(ctxTop), (1 until order).map(k => s"w$k"), "left")
      for ((k, m) <- ms)
        scored = scored
          .join(broadcast(m), ((order - k + 1) to order).map(i => s"w$i"),
            "left")
          .join(broadcast(ctxs(k)),
            ((order - k + 1) until order).map(i => s"w$i"), "left")
      scored = scored
        .join(broadcast(cw), Seq(s"w$order"), "left")
        .crossJoin(broadcast(tot))
        // each level materializes as a column so every branch reuses the
        // identical double (same expression tree as the oracle's)
        .withColumn("pc1",
          (coalesce(col("ncw"), lit(0L)) + 1).cast("double") /
            (col("ntot") + col("nv") + 1).cast("double"))
      for (k <- 2 until order)
        scored = scored.withColumn(s"pc$k", when(col(s"n${k}b").isNotNull,
          disc(col(s"n$k"), col(s"n${k}b"), col(s"nd$k"), col(s"pc${k - 1}")))
          .otherwise(col(s"pc${k - 1}")))
      scored.withColumn("lp", log(when(col("cb").isNotNull,
        disc(col("c"), col("cb"), col("nf"), col(s"pc${order - 1}")))
        .otherwise(col(s"pc${order - 1}"))))
    }
  }

  /** fastText-style hashed linear quality classifier — the SERVING shape
    * (Joulin et al. 2016, "Bag of Tricks for Efficient Text
    * Classification"; the CCNet / GPT-3-style quality filters are this
    * exact model — all public papers): features are the HASHING TRICK
    * over unigrams + word bigrams (h(feature) mod dim indexes the weight
    * vector — no vocabulary, no lookup join), score = bias + Σ w[h(f)],
    * prob = σ(score), keep = prob ≥ threshold.
    *
    * `weights` IS the model artifact and rides as expression DATA (one
    * array literal — the q157 merge-table / PQ-codebook pattern), so a
    * trained model drops in unchanged.
    *
    * 100 TB design: scoring is a pure narrow map — two sequential
    * `aggregate` folds over the token array (unigrams, then bigrams
    * built by index, no explode), so there is NO per-(doc, feature)
    * shuffle and NO vocabulary join — hashing-trick serving exists
    * precisely to kill the vocab join at corpus scale. Fold order is
    * document order in both engines (sequential left fold), the hash is
    * the engine-neutral md5-derived [[Dedup.SharedHash.hash28]], and
    * score/prob round to 4 (σ applied to the ROUNDED score, so the
    * exp() input is identical across engines). Zero-token docs are
    * dropped (no features to score).
    *
    * Output: id, n_tokens, score, prob, keep.
    */
  def hashedLinearScore(docs: DataFrame, id: Column, text: Column,
      weights: Array[Double], bias: Double, threshold: Double): DataFrame = {
    val dim = weights.length
    val warr = typedLit(weights)
    def w(f: Column): Column = element_at(warr,
      (pmod(Dedup.SharedHash.hash28(f), lit(dim)) + 1).cast("int"))
    def foldW(arr: Column): Column =
      aggregate(arr, lit(0.0), (acc, x) => acc + w(x))
    val base = docs.select(id.as("id"), wordsOf(text).as("ws"))
      .filter(size(col("ws")) > 0)
      .withColumn("bg", when(size(col("ws")) >= 2,
        transform(sequence(lit(1), size(col("ws")) - 1),
          i => concat(element_at(col("ws"), i), lit(" "),
            element_at(col("ws"), i + 1))))
        .otherwise(array().cast("array<string>")))
    val score = round(lit(bias) + foldW(col("ws")) + foldW(col("bg")), 4)
    base.select(col("id"), size(col("ws")).cast("long").as("n_tokens"),
        score.as("score"))
      .withColumn("prob", round(lit(1.0) / (lit(1.0) + exp(-col("score"))), 4))
      .withColumn("keep", col("prob") >= threshold)
  }

  /** A trained hashed-linear model ([[trainHashedLinear]] output):
    * `weights(dim)` + `bias`, plus the per-iteration mean log-loss for
    * diagnostics (spec-pinned decreasing on a separable fixture).
    */
  final case class LinearModel(weights: Array[Double], bias: Double,
      losses: Seq[Double])

  /** TRAIN the [[hashedLinearScore]] model: distributed logistic
    * regression over the identical hashing-trick feature space (unigrams +
    * word bigrams, j = h(f) mod dim; bias rides as feature j = dim), fixed
    * `iters` full-batch gradient steps — the training half the serving op
    * was missing (fastText's supervised mode, Joulin et al. 2016; the
    * GPT-3/CCNet quality-filter training recipe).
    *
    * 100 TB design — the [[Similarity.centroidsKMeans]] cost discipline:
    * the corpus featurizes ONCE (one explode + two hash aggregates into a
    * persisted (id, y, fs) frame whose per-doc state is bounded by
    * min(dim+1, doc features)); each iteration is then (1) a narrow
    * scoring map over the persisted frame with the weights riding as an
    * array literal (the q157 merge-table pattern — no join), and (2) a
    * gradient hash-aggregate whose exchange carries AT MOST dim+1 partial
    * sums per task — the weight vector, never the corpus. One bounded
    * driver action per iteration (collect the dim+1 gradients: the model
    * IS driver-sized by construction).
    *
    * Determinism (what makes this trainer GATE-able where the float
    * k-means trainer is only spec-pinned): per-doc scores fold the sorted
    * (j, count) pairs sequentially (both engines replay the same order);
    * the residual p − y integerizes to round((p−y)·10⁴) BEFORE the
    * gradient sum, so each gradient is an EXACT INTEGER sum — order-free
    * across partitions and engines; and the weights themselves LIVE AS
    * INTEGERS in 10⁻⁴ units, updated by half-up INTEGER division
    * (lrNum·g)/(lrDen·n_j) — no float rounding anywhere in the update, so
    * there is no rounding grid for two engines to disagree on. (The float
    * form round(w − lr·g/(10⁴n), 4) measurably diverges: with p = 0.5
    * exactly at init, updates are small rationals that land ON the .00005
    * boundary, where BigDecimal-on-the-double and multiply-round
    * implementations split.) The only float surfaces left are the
    * fixed-order score folds and exp() on round-4 inputs — the q174/q175
    * precedent.
    *
    * `label` must evaluate on the caller's doc columns (it is projected
    * before tokenization), 0/1. The learning rate is the RATIONAL
    * lrNum/lrDen, kept as integers for the exact update.
    */
  def trainHashedLinear(docs: DataFrame, id: Column, text: Column,
      label: Column, dim: Int, iters: Int, lrNum: Long = 1L,
      lrDen: Long = 2L): LinearModel = {
    import graft.CacheScope.ScopedPersist
    require(iters >= 1 && dim >= 1 && lrNum >= 1 && lrDen >= 1)
    val base = docs.select(id.as("id"), label.cast("int").as("y"),
        wordsOf(text).as("ws"))
      .filter(size(col("ws")) > 0)
      .withColumn("bg", when(size(col("ws")) >= 2,
        transform(sequence(lit(1), size(col("ws")) - 1),
          i => concat(element_at(col("ws"), i), lit(" "),
            element_at(col("ws"), i + 1))))
        .otherwise(array().cast("array<string>")))
    val feats = base
      .select(col("id"), col("y"),
        explode(concat(col("ws"), col("bg"))).as("f"))
      .withColumn("j", pmod(Dedup.SharedHash.hash28(col("f")), lit(dim.toLong)))
      .groupBy(col("id"), col("y"), col("j")).agg(count(lit(1)).as("c"))
      .groupBy(col("id"), col("y"))
      .agg(sort_array(collect_list(struct(col("j"), col("c")))).as("fs0"))
      .select(col("id"), col("y"),
        concat(col("fs0"),
          array(struct(lit(dim.toLong).as("j"), lit(1L).as("c")))).as("fs"))
      .persistScoped() // featurize once; every iteration reads this frame
    require(!feats.isEmpty, "no trainable documents (all zero-token)")
    // per-feature normalizer n_j = total occurrences of bucket j (bias:
    // one per doc ⇒ n_bias = |docs|) — the per-coordinate step scaling
    // (Vowpal-Wabbit-style normalized GD) that lets RARE discriminative
    // features learn in few full-batch rounds instead of being drowned by
    // the global 1/N step the bias needs. An exact integer per j, so the
    // determinism story is unchanged.
    val nj = Array.fill(dim + 1)(1L)
    feats.select(explode(col("fs")).as("x"))
      .groupBy(col("x.j")).agg(sum(col("x.c")).as("nj"))
      .collect()
      .foreach(r => nj(r.getAs[Long]("j").toInt) = r.getAs[Long]("nj"))
    // weights as integer ten-thousandths (exact; zeros init); the double
    // view wInt/10⁴ is derived identically in both engines at use sites
    val wInt = Array.fill(dim + 1)(0L)
    def halfUpDiv(a: Long, b: Long): Long = // round-half-away-from-zero, b > 0
      if (a >= 0) (2 * a + b) / (2 * b) else -((2 * -a + b) / (2 * b))
    val losses = Seq.newBuilder[Double]
    for (_ <- 1 to iters) {
      val wlit = typedLit(wInt.map(_ / 10000.0).toSeq)
      val scored = feats
        .withColumn("s", round(aggregate(col("fs"), lit(0.0), (acc, x) =>
          acc + element_at(wlit, (x.getField("j") + 1).cast("int"))
            * x.getField("c")), 4))
        .withColumn("p", round(lit(1.0) / (lit(1.0) + exp(-col("s"))), 4))
        .withColumn("ri", round((col("p") - col("y")) * 10000).cast("long"))
      val g = new Array[Long](dim + 1)
      scored.select(explode(col("fs")).as("x"), col("ri"))
        .groupBy(col("x.j")).agg(sum(col("ri") * col("x.c")).as("g"))
        .collect()
        .foreach(r => g(r.getAs[Long]("j").toInt) = r.getAs[Long]("g"))
      // diagnostic mean log-loss (clamped; not part of the update math)
      losses += scored.agg(avg(-(col("y") * log(greatest(col("p"), lit(1e-6)))
        + (lit(1) - col("y")) * log(greatest(lit(1.0) - col("p"), lit(1e-6))))))
        .head().getDouble(0)
      // Δw in 10⁻⁴ units = lr·g_j/n_j, as one exact half-up integer division
      for (j <- 0 to dim)
        wInt(j) = wInt(j) - halfUpDiv(lrNum * g(j), lrDen * nj(j))
    }
    LinearModel(wInt.take(dim).map(_ / 10000.0), wInt(dim) / 10000.0,
      losses.result())
  }

  /** A trained multiclass hashed-linear model ([[trainHashedLangId]]):
    * one-vs-rest binary head per class over a SHARED hashed char-n-gram
    * feature space. `classes` is sorted (the id order every consumer
    * replays); `weights(ci)` has `dim` entries, bias separate.
    */
  final case class LangIdModel(classes: Seq[String],
      weights: Array[Array[Double]], biases: Array[Double],
      losses: Seq[Double])

  /** Char n-gram array (n consecutive code points of `t`, every offset) —
    * the fastText-langid feature family. Empty when the text is shorter
    * than n (guarded: Spark's sequence(1, 0) would count DOWN).
    */
  private def charGrams(t: Column, n: Int): Column =
    when(length(t) >= n,
      transform(sequence(lit(1), length(t) - (n - 1)),
        i => t.substr(i, lit(n))))
      .otherwise(array().cast("array<string>"))

  /** Whitespace-normalized lowercase text + its char 2-/3-gram features —
    * ONE definition shared by trainer and server (feature drift between
    * the two is the classic serving bug).
    */
  private def langIdBase(docs: DataFrame, id: Column, text: Column,
      extra: Seq[(String, Column)] = Nil): DataFrame = {
    val norm = trim(regexp_replace(lower(text), """\s+""", " "))
    // the no-gram filter is length(t) >= 2 (a 2-gram exists iff the
    // normalized text has >= 2 chars — exactly size(gs) > 0), NOT
    // size(gs) > 0: predicate pushdown substitutes projection
    // definitions into the predicate unconditionally, and a pushed-down
    // size(gs) predicate re-evaluates the normalize+gram tree PER LAMBDA
    // ELEMENT inside the filter — measured 40x on the serving bench.
    // length(norm) pushes down as one regex per row.
    docs.select((Seq(id.as("id"), norm.as("t")) ++
        extra.map { case (n, c) => c.as(n) }): _*)
      .filter(length(col("t")) >= 2)
      .withColumn("gs", concat(charGrams(col("t"), 2), charGrams(col("t"), 3)))
  }

  /** TRAIN the multiclass language-ID model — the actual CCNet/RefinedWeb
    * stage 0 (a trained fastText-style classifier over char n-grams;
    * [[langId]]'s stopword scorer is the rule-based teaching form): a
    * one-vs-rest logistic head per label over hashed char 2-/3-grams
    * (j = h28(gram) mod dim; bias rides as feature j = dim), trained with
    * [[trainHashedLinear]]'s EXACT integerized recipe — per-doc scores
    * fold sorted (j, count) pairs, residuals integerize to
    * round((p−y)·10⁴) before the gradient sum, weights live as integer
    * ten-thousandths updated by half-up integer division with the shared
    * per-feature normalizer n_j — so an oracle re-derives every class's
    * weights from scratch and must land on the identical model.
    *
    * 100 TB design: the corpus featurizes ONCE into a persisted
    * (id, yi, fs) frame; each iteration is one narrow scoring map (the
    * K class heads ride as ONE 2-D array literal, scored via a K-row
    * explode) and one gradient hash-aggregate whose exchange carries at
    * most K·(dim+1) partial sums per task. Classes = the sorted distinct
    * labels of the TRAINING slice (driver-sized by construction).
    */
  def trainHashedLangId(docs: DataFrame, id: Column, text: Column,
      label: Column, dim: Int, iters: Int, lrNum: Long = 1L,
      lrDen: Long = 2L): LangIdModel = {
    import graft.CacheScope.ScopedPersist
    require(iters >= 1 && dim >= 1 && lrNum >= 1 && lrDen >= 1)
    val base = langIdBase(docs, id, text,
      extra = Seq("y" -> label.cast("string")))
    val classes = base.select(col("y")).distinct()
      .collect().map(_.getString(0)).sorted.toSeq
    require(classes.nonEmpty, "no trainable documents")
    val k = classes.length
    val clsIdx = classes.zipWithIndex.map { case (c, i) => c -> i }.toMap
    val feats = base
      .select(col("id"), col("y"), explode(col("gs")).as("f"))
      .withColumn("j", pmod(Dedup.SharedHash.hash28(col("f")), lit(dim.toLong)))
      .groupBy(col("id"), col("y"), col("j")).agg(count(lit(1)).as("c"))
      .groupBy(col("id"), col("y"))
      .agg(sort_array(collect_list(struct(col("j"), col("c")))).as("fs0"))
      .select(col("id"),
        element_at(typedLit(clsIdx), col("y")).as("yi"),
        concat(col("fs0"),
          array(struct(lit(dim.toLong).as("j"), lit(1L).as("c")))).as("fs"))
      .persistScoped() // featurize once; every iteration reads this frame
    val nj = Array.fill(dim + 1)(1L)
    feats.select(explode(col("fs")).as("x"))
      .groupBy(col("x.j")).agg(sum(col("x.c")).as("nj"))
      .collect()
      .foreach(r => nj(r.getAs[Long]("j").toInt) = r.getAs[Long]("nj"))
    val wInt = Array.fill(k, dim + 1)(0L)
    def halfUpDiv(a: Long, b: Long): Long =
      if (a >= 0) (2 * a + b) / (2 * b) else -((2 * -a + b) / (2 * b))
    val losses = Seq.newBuilder[Double]
    for (_ <- 1 to iters) {
      val wlit = typedLit(wInt.map(_.map(_ / 10000.0).toSeq).toSeq)
      val scored = feats
        .select(col("id"), col("yi"), col("fs"),
          explode(sequence(lit(0), lit(k - 1))).as("ci"))
        .withColumn("s", round(aggregate(col("fs"), lit(0.0), (acc, x) =>
          acc + element_at(element_at(wlit, col("ci") + 1),
            (x.getField("j") + 1).cast("int")) * x.getField("c")), 4))
        .withColumn("p", round(lit(1.0) / (lit(1.0) + exp(-col("s"))), 4))
        .withColumn("yb", when(col("yi") === col("ci"), 1).otherwise(0))
        .withColumn("ri", round((col("p") - col("yb")) * 10000).cast("long"))
        .persistScoped()
      val g = Array.fill(k, dim + 1)(0L)
      scored.select(col("ci"), explode(col("fs")).as("x"), col("ri"))
        .groupBy(col("ci"), col("x.j")).agg(sum(col("ri") * col("x.c")).as("g"))
        .collect()
        .foreach(r => g(r.getAs[Int]("ci"))(r.getAs[Long]("j").toInt) =
          r.getAs[Long]("g"))
      losses += scored.agg(avg(-(col("yb") * log(greatest(col("p"), lit(1e-6)))
        + (lit(1) - col("yb"))
          * log(greatest(lit(1.0) - col("p"), lit(1e-6))))))
        .head().getDouble(0)
      for (ci <- 0 until k; j <- 0 to dim)
        wInt(ci)(j) = wInt(ci)(j) - halfUpDiv(lrNum * g(ci)(j), lrDen * nj(j))
    }
    LangIdModel(classes, wInt.map(_.take(dim).map(_ / 10000.0)),
      wInt.map(w => w(dim) / 10000.0), losses.result())
  }

  /** Serve a [[LangIdModel]]: per doc, each class's one-vs-rest score is
    * bias + the DOC-ORDER fold of hashed-gram weights (the q174 narrow
    * zero-shuffle form — K codegen'd folds per row, no join, no
    * explode); pred = argmax score with ties to the alphabetically first
    * class (max of (score, −ci) structs — deterministic, no window).
    * Output: (id, pred_lang, score).
    */
  def langIdScore(docs: DataFrame, id: Column, text: Column,
      model: LangIdModel): DataFrame = {
    val dim = model.weights(0).length
    // hash every gram ONCE into its 1-based bucket index — in its own
    // projection, so the K class folds below share it (CollapseProject
    // never inlines a non-cheap expression referenced K times; without
    // this boundary each class fold would recompute the md5-based hash
    // per gram — measured 8x on the serving bench at K = 5). The fold
    // ORDER is unchanged (gram order, bias first), so scores — and the
    // oracle — are bit-identical.
    val base = langIdBase(docs, id, text)
      .select(col("id"), transform(col("gs"), g =>
        (pmod(Dedup.SharedHash.hash28(g), lit(dim.toLong)) + 1).cast("int"))
        .as("js"))
    val scoreCols = model.classes.indices.map { ci =>
      val warr = typedLit(model.weights(ci).toSeq)
      round(lit(model.biases(ci)) + aggregate(col("js"), lit(0.0),
        (acc, j) => acc + element_at(warr, j)), 4)
    }
    val packed = array(scoreCols.zipWithIndex.map { case (s, ci) =>
      struct(s.as("s"), lit(-ci).as("ni")) }: _*)
    base.select(col("id"), array_max(packed).as("b"))
      .select(col("id"),
        element_at(typedLit(model.classes),
          (-col("b.ni") + 1).cast("int")).as("pred_lang"),
        col("b.s").as("score"))
  }

  /** Persist a [[LangIdModel]] to `dir/langid` (K bounded rows — the
    * model-artifact pattern): train once, classify forever.
    */
  def writeLangIdModel(spark: org.apache.spark.sql.SparkSession,
      model: LangIdModel, dir: String): Unit = {
    import spark.implicits._
    model.classes.indices
      .map(ci => (model.classes(ci), model.weights(ci).toSeq,
        model.biases(ci)))
      .toDF("cls", "weights", "bias")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/langid")
    spark.catalog.refreshByPath(dir)
  }

  /** Load a stored [[writeLangIdModel]] artifact (class-sorted — the
    * deterministic id order [[langIdScore]]'s tie-break depends on).
    */
  def loadLangIdModel(spark: org.apache.spark.sql.SparkSession,
      dir: String): LangIdModel = {
    val rows = spark.read.parquet(s"$dir/langid")
      .collect().map(r => (r.getString(0),
        r.getAs[scala.collection.Seq[Double]](1).toArray, r.getDouble(2)))
      .sortBy(_._1)
    LangIdModel(rows.map(_._1).toSeq, rows.map(_._2), rows.map(_._3), Nil)
  }

  /** Classify documents with a stored langid artifact: the K-row model
    * loads driver-side and rides into [[langIdScore]] as expression data
    * (one narrow zero-shuffle map, no join). The model never adapts to
    * the stream it serves: drift ([[langIdDriftReport]]) triggers a
    * retrain-and-swap. Docs whose normalized text has no char bigram are
    * dropped (nothing to classify), online as offline.
    */
  def langIdScoreAgainstModel(docs: DataFrame, id: Column, text: Column,
      dir: String): DataFrame =
    langIdScore(docs, id, text, loadLangIdModel(docs.sparkSession, dir))

  /** Persist the stage-0 gate THRESHOLD as a stored score-QUANTILE
    * artifact (`dir/gate`, one (prob, value) row): score `docs` under
    * the stored model and take the exact `prob`-quantile of the winning
    * scores via [[Profiling.exactQuantiles]] — lower-nearest element
    * semantics, no global sort, no per-group value buffering. One
    * artifact family now carries model AND threshold: τ is MEASURED on
    * the training corpus, versioned with the model, and replayed by the
    * gate — never a magic number in query code. (CCNet publishes the
    * gate on the probability — keep when p ≥ 0.5 ⟺ s ≥ 0 — but
    * one-vs-rest heads can be systematically over-confident, making
    * s ≥ 0 vacuous; a measured quantile pins the gate to an actual
    * split of the corpus it will run on.)
    */
  def writeLangIdGate(docs: DataFrame, id: Column, text: Column,
      modelDir: String, prob: Double, dir: String): Unit = {
    val spark = docs.sparkSession
    Profiling.exactQuantiles(
        langIdScoreAgainstModel(docs, id, text, modelDir), col("score"),
        Seq(prob))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/gate")
    spark.catalog.refreshByPath(dir)
  }

  /** The stored [[writeLangIdGate]] threshold (bounded 1-row artifact). */
  def loadLangIdGateTau(spark: org.apache.spark.sql.SparkSession,
      dir: String): Double =
    spark.read.parquet(s"$dir/gate").head().getAs[Double]("value")

  /** Persist the REFERENCE prediction distribution of a corpus under a
    * stored langid model — the baseline a drift monitor compares every
    * serving batch against (rows: (pred_lang, n), bounded at K).
    */
  def writeLangIdReference(docs: DataFrame, id: Column, text: Column,
      modelDir: String, dir: String): Unit = {
    val spark = docs.sparkSession
    langIdScoreAgainstModel(docs, id, text, modelDir)
      .groupBy(col("pred_lang")).agg(count(lit(1)).as("n"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/langid_ref")
    spark.catalog.refreshByPath(dir)
  }

  /** Language-ID DRIFT report — the retrain-trigger signal for the
    * stored classifier made first-class (the n_unk counterpart of the
    * tokenizer family): classify `docs` under the FROZEN model, compare
    * the per-class prediction distribution against the stored
    * [[writeLangIdReference]] baseline, and report the add-one-smoothed
    * Jensen-Shannon divergence (the q200 recipe over the K-class
    * alphabet: p = (n_cls+1)/(n+K), term-fold in class-sorted order,
    * round-4). A rising jsd means the serving stream has drifted from
    * the training distribution — the signal that triggers a
    * retrain-and-swap, never an in-stream model update.
    *
    * 100 TB posture: one zero-shuffle serving map + ONE K-cell count
    * aggregate; everything after is broadcast-scale (K rows).
    *
    * Output: (pred_lang, n_batch, n_ref, batch_p, ref_p, jsd) — one row
    * per model class, jsd identical on every row.
    */
  def langIdDriftReport(docs: DataFrame, id: Column, text: Column,
      modelDir: String, refDir: String): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val model = loadLangIdModel(spark, modelDir)
    val k = model.classes.length
    val bc = langIdScore(docs, id, text, model)
      .groupBy(col("pred_lang")).agg(count(lit(1)).as("bn"))
    val ref = spark.read.parquet(s"$refDir/langid_ref")
      .select(col("pred_lang"), col("n").as("rn"))
    val cells0 = model.classes.toDF("pred_lang")
      .join(broadcast(bc), Seq("pred_lang"), "left")
      .join(broadcast(ref), Seq("pred_lang"), "left")
      .select(col("pred_lang"),
        coalesce(col("bn"), lit(0L)).as("n_batch"),
        coalesce(col("rn"), lit(0L)).as("n_ref"))
    val tot = cells0.agg(sum(col("n_batch")).as("bt"),
      sum(col("n_ref")).as("rt"))
    val cells = cells0.crossJoin(broadcast(tot))
      .withColumn("p", (col("n_batch") + 1).cast("double") / (col("bt") + k))
      .withColumn("q", (col("n_ref") + 1).cast("double") / (col("rt") + k))
      .withColumn("term",
        lit(0.5) * col("p") * log(lit(2) * col("p") / (col("p") + col("q")))
          + lit(0.5) * col("q") * log(lit(2) * col("q") / (col("p") + col("q"))))
    val j = cells.agg(round(aggregate(
        expr("sort_array(collect_list(struct(pred_lang, term)))"),
        lit(0.0), (a, x) => a + x.getField("term")), 4).as("jsd"))
    cells.crossJoin(broadcast(j))
      .select(col("pred_lang"), col("n_batch"), col("n_ref"),
        round(col("p"), 6).as("batch_p"), round(col("q"), 6).as("ref_p"),
        col("jsd"))
  }

  /** The OPERATIONAL drift contract [[langIdDriftReport]] reports into:
    * per-BATCH JSD against the frozen reference plus the alert decision
    * a deployment actually pages on. `batch` is any caller expression
    * (arrival window, shard, resample bucket); each batch's prediction
    * distribution is compared to the stored reference with the same
    * add-one smoothing and class-sorted term fold as the report, and
    * `alert = jsd > tau`. The alert threshold is calibrated by
    * resampling IN-distribution batches and reading their JSD spread —
    * `LangIdDriftSpec` pins a zero false-positive rate on resampled
    * in-distribution batches at the gate's tau, with the planted
    * single-language batch still alerting (the separation that makes a
    * threshold operable at all).
    *
    * 100 TB posture: one zero-shuffle serving map + ONE (batches × K)
    * count aggregate; everything after is broadcast-scale.
    *
    * Output: (batch, n_docs, jsd, alert) — one row per batch.
    */
  def langIdDriftBatches(docs: DataFrame, id: Column, text: Column,
      batch: Column, modelDir: String, refDir: String,
      tau: Double): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val model = loadLangIdModel(spark, modelDir)
    val k = model.classes.length
    val scored = langIdScore(docs,
        struct(batch.cast("long").as("b"), id.as("i")), text, model)
      .select(col("id.b").as("batch"), col("pred_lang"))
    val bc = scored.groupBy(col("batch"), col("pred_lang"))
      .agg(count(lit(1)).as("bn"))
    val bt = scored.groupBy(col("batch")).agg(count(lit(1)).as("bt"))
    val ref = spark.read.parquet(s"$refDir/langid_ref")
      .select(col("pred_lang"), col("n").as("rn"))
    val rt = ref.agg(sum(col("rn")).as("rt"))
    val cells = bt
      .crossJoin(broadcast(model.classes.toDF("pred_lang")))
      .join(broadcast(bc), Seq("batch", "pred_lang"), "left")
      .join(broadcast(ref), Seq("pred_lang"), "left")
      .crossJoin(broadcast(rt))
      .withColumn("p",
        (coalesce(col("bn"), lit(0L)) + 1).cast("double") / (col("bt") + k))
      .withColumn("q",
        (coalesce(col("rn"), lit(0L)) + 1).cast("double") / (col("rt") + k))
      .withColumn("term",
        lit(0.5) * col("p") * log(lit(2) * col("p") / (col("p") + col("q")))
          + lit(0.5) * col("q") * log(lit(2) * col("q") / (col("p") + col("q"))))
    cells.groupBy(col("batch"))
      .agg(first(col("bt")).as("n_docs"),
        round(aggregate(
          expr("sort_array(collect_list(struct(pred_lang, term)))"),
          lit(0.0), (a, x) => a + x.getField("term")), 4).as("jsd"))
      .withColumn("alert", col("jsd") > tau)
  }

  /** Persist a [[LinearModel]] to `dir/linear` (one parquet row) — the
    * model-artifact pattern of [[writeLmModel]]: train once, serve
    * forever. Doubles round-trip parquet bit-exactly, so stored-and-served
    * ≡ freshly-trained (gate-pinned via q179's oracle, which re-derives
    * the weights from scratch).
    */
  def writeLinearModel(spark: org.apache.spark.sql.SparkSession,
      model: LinearModel, dir: String): Unit = {
    import spark.implicits._
    Seq((model.weights.toSeq, model.bias)).toDF("weights", "bias")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/linear")
    spark.catalog.refreshByPath(dir)
  }

  /** Score documents with a stored [[writeLinearModel]] artifact: the
    * one-row model loads driver-side (it is driver-sized by construction)
    * and rides into [[hashedLinearScore]] as expression data, so scoring
    * stays a zero-shuffle narrow map. The model never retrains online:
    * quality drift is a retrain-and-swap, not an in-stream update.
    */
  def hashedLinearScoreAgainstModel(docs: DataFrame, id: Column,
      text: Column, dir: String, threshold: Double): DataFrame = {
    val row = docs.sparkSession.read.parquet(s"$dir/linear").head()
    hashedLinearScore(docs, id, text,
      row.getAs[scala.collection.Seq[Double]]("weights").toArray,
      row.getAs[Double]("bias"), threshold)
  }

  /** Gopher-style per-document repetition FILTER (Rae et al. 2021,
    * "Scaling Language Models: ... Gopher", appendix A1.1 repetition
    * rules — public paper): most-frequent-token fraction, most-frequent-
    * word-2-gram fraction, and the distinct-token (type/token) ratio,
    * composed into a keep/drop decision against the supplied thresholds.
    * Boilerplate-heavy documents (navigation soup, templated spam) light
    * up these signals long before any cross-document dedup sees them —
    * this is the per-doc quality stage that runs BEFORE dedup in every
    * published pipeline (Gopher, RefinedWeb, Dolma).
    *
    * 100 TB design: both signal families come from the codegen'd
    * `repetition_signals` kernel (`NativeKernels.repetitionSignals`, the
    * q56 engine) at n=1 (token mode + distinct count) and n=2 (bigram
    * mode) — the entire op is ONE zero-shuffle narrow map over the scan;
    * no explode, no per-(doc,token) aggregation, no window. The oracle
    * recomputes the same exact integer counts via unnest + GROUP BY
    * (ratios are round-4 of exact-int division).
    *
    * Docs with zero tokens are dropped (no signal to score), matching the
    * kernel's null contract. Output: id, n_tokens, n_distinct, ttr,
    * top_tok_count, top_tok_frac, top_bigram_count, top_bigram_frac, keep.
    */
  def repetitionFilter(docs: DataFrame, id: Column, text: Column,
      maxTopTokFrac: Double, maxTopBigramFrac: Double,
      minTtr: Double): DataFrame = {
    // zero-length tokens filtered like the sibling quality filters
    // (lmPerplexityFilter, hashedLinearScore): a leading-whitespace split
    // artifact must not count as a token, and an all-whitespace doc must
    // hit the kernel's empty-array null contract and be dropped
    val sig = docs.select(id.as("id"), wordsOf(text).as("__w"))
      .select(col("id"), size(col("__w")).cast("long").as("n_tokens"),
        graft.functions.repetition_signals(col("__w"), 1).as("s1"),
        graft.functions.repetition_signals(col("__w"), 2).as("s2"))
      .filter(col("s1").isNotNull)
    val ttr = round(element_at(col("s1"), 2).cast("double") / col("n_tokens"), 4)
    val tokFrac = round(element_at(col("s1"), 1).cast("double") / col("n_tokens"), 4)
    val bgFrac = when(col("s2").isNotNull,
      round(element_at(col("s2"), 1).cast("double") / (col("n_tokens") - 1), 4))
      .otherwise(lit(0.0))
    sig.select(col("id"), col("n_tokens"),
      element_at(col("s1"), 2).as("n_distinct"), ttr.as("ttr"),
      element_at(col("s1"), 1).as("top_tok_count"), tokFrac.as("top_tok_frac"),
      coalesce(element_at(col("s2"), 1), lit(0L)).as("top_bigram_count"),
      bgFrac.as("top_bigram_frac"),
      (tokFrac <= maxTopTokFrac && bgFrac <= maxTopBigramFrac &&
        ttr >= minTtr).as("keep"))
  }

  /** Per-domain boilerplate removal — the CCNet/RefinedWeb "strip the
    * navigation soup" stage: a text segment that appears in ≥
    * max(minDf, rate·|domain docs|) DISTINCT documents of the SAME source
    * is template chrome (headers, footers, cookie banners), not content,
    * and is removed from every document of that source; documents are
    * reassembled from their surviving segments in order. Unlike segment
    * DEDUP ([[graft.operators.Dedup.segmentDedup]], which keeps the first
    * copy), boilerplate removal drops EVERY copy — the first occurrence of
    * a cookie banner is as worthless as the millionth.
    *
    * 100 TB design: one explode into non-overlapping segLen-token segments
    * (positions kept for reassembly), one distinct + count aggregate per
    * (source, segment) for document frequency, and ONE broadcast join
    * back. The boilerplate set is small BY CONSTRUCTION: per source, at
    * most (segments per doc)/rate segments can reach df ≥ rate·|docs|
    * (Σ_seg df ≤ total segment instances), so the broadcast is bounded by
    * corpus-average document length — independent of corpus size. The
    * reassembly is the segments' own per-doc aggregate; no window, no
    * self-join.
    *
    * Output: (doc_id, n_segments, n_removed, kept_md5) — kept_md5 is the
    * md5 of the reassembled surviving text ("" when everything was
    * boilerplate), keeping the gate row compact.
    */
  def boilerplateRemove(docs: DataFrame, id: Column, text: Column,
      source: Column, segLen: Int, minDf: Int, rate: Double): DataFrame = {
    import graft.CacheScope.ScopedPersist
    val base = docs.select(id.as("id"), source.as("source"),
        wordsOf(text).as("ws"))
      .filter(size(col("ws")) > 0)
    val segs = base
      .select(col("id"), col("source"), col("ws"),
        explode(expr(s"sequence(0, size(ws) - 1, $segLen)")).as("st"))
      .select(col("id"), col("source"), col("st").cast("long").as("pos"),
        concat_ws(" ", slice(col("ws"), col("st") + 1, lit(segLen))).as("seg"))
      .persistScoped() // feeds the df counts AND the reassembly
    val nd = segs.groupBy(col("source"))
      .agg(count_distinct(col("id")).as("nd"))
    val bp = segs.select(col("source"), col("seg"), col("id")).distinct()
      .groupBy(col("source"), col("seg")).agg(count(lit(1)).as("df"))
      .join(broadcast(nd), "source")
      .filter(col("df") >= minDf && col("df") >= lit(rate) * col("nd"))
      .select(col("source"), col("seg"), lit(true).as("bp"))
    segs.join(broadcast(bp), Seq("source", "seg"), "left")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_segments"),
        coalesce(sum(when(col("bp"), 1L)), lit(0L)).as("n_removed"),
        // collect_list skips nulls, so only surviving segments are kept
        sort_array(collect_list(when(col("bp").isNull,
          struct(col("pos"), col("seg"))))).as("kept"))
      .select(col("id").as("doc_id"), col("n_segments"), col("n_removed"),
        md5(concat_ws(" ",
          expr("transform(kept, x -> x.seg)"))).as("kept_md5"))
  }

  /** DSIR — Data Selection via Importance Resampling (Xie et al. 2023,
    * NeurIPS; the "make the crawl look like the target" selection stage):
    * estimate bag-of-hashed-ngram (unigram + word-bigram) feature
    * distributions for a TARGET slice and for the RAW corpus, weigh every
    * document by its per-feature MEAN log importance ratio
    * `(1/n_d) · Σ_f n_d(f) · ln(p̂_target(b(f)) / p̂_raw(b(f)))` (add-one
    * smoothing over the `dim` hash buckets), and keep the top-`quota`
    * documents by weight — the deterministic top-k variant of the paper's
    * Gumbel resample, so the gate replays it exactly. The mean (not the
    * paper's raw sum) is the selection weight: under bounded smoothing
    * the raw sum scales with document length, trivially ranking short
    * junk above long target-like text — the length confound Xie et al.
    * note; normalizing by the feature count removes it.
    *
    * 100 TB design: ONE explode of the token/bigram stream, a feature
    * aggregate whose output is bounded at `dim` rows (partial map-side
    * combine; the "model" is a dim-sized table, the hashing trick's whole
    * point), a BROADCAST join of that table back onto per-(doc, bucket)
    * counts, and a per-doc aggregate. Selection is top-quota — a
    * distributed TakeOrdered, never a global sort — and the resulting
    * 1-row threshold broadcasts so `keep` is decided per-row. The hash is
    * the engine-neutral [[Dedup.SharedHash.hash28]]; the per-doc float
    * fold runs in sorted bucket order and rounds to 4 before the
    * threshold comparison, the house determinism contract.
    *
    * Output: (id, n_feats, w, keep) — `keep` = doc is in the top-`quota`
    * by (w desc, id asc); if the corpus has ≤ quota docs everything keeps.
    */
  def dsirSelect(docs: DataFrame, id: Column, text: Column,
      targetFilter: Column, dim: Int, quota: Int): DataFrame = {
    import graft.CacheScope.ScopedPersist
    // targetFilter evaluates BEFORE projection (caller-column reference)
    val base = docs.select(id.as("id"), targetFilter.as("is_t"),
        wordsOf(text).as("ws"))
      .filter(size(col("ws")) > 0)
    val fb = base.select(col("id"), col("is_t"),
        explode(concat(col("ws"), when(size(col("ws")) >= 2, expr(
          "transform(sequence(1, size(ws) - 1, 1), i -> concat(ws[i - 1], ' ', ws[i]))"))
          .otherwise(array()))).as("f"))
      .select(col("id"), col("is_t"),
        (graft.operators.Dedup.SharedHash.hash28(col("f")) % dim).as("b"))
      .persistScoped() // feeds the bucket model AND the per-doc counts
    val bk = fb.groupBy(col("b"))
      .agg(sum(when(col("is_t"), 1L).otherwise(0L)).as("ct"),
        count(lit(1)).as("cr"))
    val tot = bk.agg(sum(col("ct")).as("tt"), sum(col("cr")).as("tr"))
    val lr = bk.crossJoin(broadcast(tot))
      .select(col("b"), log(
        ((col("ct") + lit(1.0)) / (col("tt") + lit(dim)))
          / ((col("cr") + lit(1.0)) / (col("tr") + lit(dim)))).as("lr"))
    val ds = fb.groupBy(col("id"), col("b")).agg(count(lit(1)).as("n"))
      .join(broadcast(lr), "b")
      .groupBy(col("id"))
      .agg(sum(col("n")).as("n_feats"),
        sort_array(collect_list(struct(col("b"),
          (col("n") * col("lr")).as("v")))).as("ts"))
      .select(col("id"), col("n_feats"),
        round(expr("aggregate(ts, 0D, (a, x) -> a + x.v)")
          / col("n_feats"), 4).as("w"))
    // the quota-th (weakest selected) row under (w desc, id asc) — two
    // bounded TakeOrdereds, then a 1-row broadcast threshold
    val thr = ds.orderBy(col("w").desc, col("id")).limit(quota)
      .orderBy(col("w"), col("id").desc).limit(1)
      .select(col("w").as("thw"), col("id").as("thid"))
    ds.crossJoin(broadcast(thr))
      .select(col("id"), col("n_feats"), col("w"),
        (col("w") > col("thw") ||
          (col("w") === col("thw") && col("id") <= col("thid"))).as("keep"))
  }
}
