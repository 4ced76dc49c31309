package graft

import org.apache.spark.sql.{Column, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.graftshim.{ColumnBridge => ExpressionUtils}
import org.apache.spark.sql.types._

import graft.functions.{NativeKernels, TopKByScore}
import graft.operators.Dedup

/** Column-level entry points for the native kernels (Scala API), plus the
  * SparkSessionExtensions installer that exposes them to SQL.
  *
  * A kernel is one static method of [[graft.functions.NativeKernels]]; its
  * Column is Catalyst's own `StaticInvoke` of that method (plans print
  * `static_invoke(graft.functions.NativeKernels.<method>(…))`): null in,
  * null out, one tree node whose generated code is the static call, and
  * interpreted eval the same method by reflection. Int parameters ride as
  * literal arguments.
  */
package object functions {

  private val LongArray = ArrayType(LongType, containsNull = false)
  private val StringArray = ArrayType(StringType, containsNull = false)

  /** An Int parameter as a literal argument — a Catalyst `Literal`, so the
    * SQL builders in [[Register]], which run inside analysis, get a
    * resolved argument too.
    */
  private def lit(n: Int): Column = ExpressionUtils.column(Literal(n))

  /** `NativeKernels.<method>(args…)` as a Column of `dataType`.
    * `returnNullable` marks a kernel that may return null on non-null
    * input; `inputTypes` (all or none of the arguments) makes analysis
    * cast what it can to them and reject the rest.
    */
  private def kernel(method: String, dataType: DataType, args: Seq[Column],
      returnNullable: Boolean = false,
      inputTypes: Seq[DataType] = Nil): Column =
    ExpressionUtils.column(StaticInvoke(NativeKernels.getClass, dataType,
      method, args.map(ExpressionUtils.expression), inputTypes,
      returnNullable = returnNullable))

  /** array<long> → array<long> of `num` MinHash signature slots. */
  def minhash_sig(xs: Column, num: Int): Column =
    kernel("minhashSig", LongArray, Seq(xs, lit(num)))

  /** array<long> → bigint SimHash fingerprint of `bits` bits. */
  def simhash_fp(hs: Column, bits: Int = Dedup.SimHashBits): Column =
    kernel("simhashFp", LongType, Seq(hs, lit(bits)))

  /** Cosine of two array<float>, accumulated in double. */
  def cosine_f(a: Column, b: Column): Column =
    kernel("cosineF", DoubleType, Seq(a, b))

  /** array<float> → bigint bucket id of `planes` sign bits. */
  def lsh_bucket(emb: Column, planes: Int): Column =
    kernel("lshBucket", LongType, Seq(emb, lit(planes)))

  /** array<string> → distinct word n-grams in first-occurrence order (the
    * array_distinct of the composable construction).
    */
  def shingles_of(words: Column, n: Int): Column =
    kernel("shinglesOf", StringArray, Seq(words, lit(n)))

  /** array<string> → fused shingle + md5 + MinHash signature of `num`
    * slots; null when fewer than n words (callers filter nulls, matching
    * the string path's n_sh > 0 filter).
    */
  def minhash_words(words: Column, n: Int, num: Int): Column =
    kernel("minhashFromWords", LongArray, Seq(words, lit(n), lit(num)),
      returnNullable = true)

  /** array<string> → fused token-hash + SimHash fingerprint. */
  def simhash_words(tokens: Column, bits: Int): Column =
    kernel("simhashFromTokens", LongType, Seq(tokens, lit(bits)))

  /** array<string> → array of "pos:hash" winnowing fingerprint strings. */
  def winnow(words: Column, n: Int, w: Int): Column =
    kernel("winnow", StringArray, Seq(words, lit(n), lit(w)))

  /** array<string> → [max_ngram_count, n_distinct_ngrams]; null when
    * fewer than n words.
    */
  def repetition_signals(words: Column, n: Int): Column =
    kernel("repetitionSignals", LongArray, Seq(words, lit(n)),
      returnNullable = true)

  /** int |A ∩ B| of two array<string>; both must be sorted in binary UTF8
    * order (sort_array).
    */
  def sorted_intersect_count(a: Column, b: Column): Column =
    kernel("sortedIntersectCount", IntegerType, Seq(a, b))

  /** HTML numeric character reference decode (`&#123;` / `&#x1F;`) — one
    * codegen'd scan. The composable equivalent (sentinel-split + per-piece
    * transform, the DuckDB oracle's replay shape) allocates an array per
    * row and runs the lambda interpreted.
    */
  def decode_numeric_refs(s: Column): Column =
    kernel("decodeNumericRefs", StringType, Seq(s))

  /** WARC file → array of records, exact Content-Length framing; a
    * malformed tail (broken framing) arrives as the final element for the
    * field parser to quarantine.
    */
  def warc_records(file: Column): Column =
    kernel("warcSplitRecords", StringArray, Seq(file))

  /** Stack-based HTML block segmentation → array of (rank, block_type,
    * block_idx, raw) structs in (rank, idx) order.
    */
  def html_blocks(html: Column): Column =
    kernel("htmlSegmentBlocks", ArrayType(StructType(Seq(
      StructField("rank", IntegerType, nullable = false),
      StructField("block_type", StringType, nullable = false),
      StructField("block_idx", IntegerType, nullable = false),
      StructField("raw", StringType, nullable = false))),
      containsNull = false), Seq(html))

  /** Crawl-frontier canonical URL form; null when no `scheme://`. */
  def url_canonicalize(url: Column): Column =
    kernel("urlCanonicalize", StringType, Seq(url), returnNullable = true)

  /** Lowercased host of a URL; "" when no `scheme://`. */
  def url_host(url: Column): Column =
    kernel("urlHost", StringType, Seq(url))

  /** Registrable domain of a lowercased host under the embedded
    * multi-part-suffix excerpt.
    */
  def url_registered_domain(host: Column): Column =
    kernel("urlRegisteredDomain", StringType, Seq(host))

  /** href resolved against its page's base URL (RFC 3986 frontier
    * subset); null = not a crawlable outlink (non-http(s) scheme) or no
    * base identity.
    */
  def url_resolve(base: Column, href: Column): Column =
    kernel("urlResolve", StringType, Seq(base, href), returnNullable = true)

  /** Byte-true WARC file → array<binary> of records, exact
    * Content-Length OCTET framing; same malformed-remainder quarantine as
    * [[warc_records]].
    */
  def warc_records_bin(file: Column): Column =
    kernel("warcSplitRecordsBytes", ArrayType(BinaryType, containsNull = false),
      Seq(file))

  /** Concatenated-gzip-member decompression (`.warc.gz` layout), bytes
    * up to the first failure.
    */
  def warc_gunzip(file: Column): Column =
    kernel("gunzipMembers", BinaryType, Seq(file))

  /** One deterministic gzip member — fixture synthesis side. */
  def gzip_member(b: Column): Column =
    kernel("gzipMember", BinaryType, Seq(b))

  /** concat(array<binary>) → binary, null elements skipped. */
  def concat_binary(arr: Column): Column =
    kernel("concatBinary", BinaryType, Seq(arr))

  /** Per-row-charset decode (binary, name) → string — the HTTP `charset=`
    * parameter as a column (Spark's builtin `decode` takes only a static
    * charset); unknown names → UTF-8, malformed bytes → U+FFFD.
    */
  def decode_charset(b: Column, cs: Column): Column =
    kernel("decodeCharsetBytes", StringType, Seq(b, cs))

  /** Per-row-charset encode (string, name) → binary — synthesis twin of
    * [[decode_charset]].
    */
  def encode_charset(s: Column, cs: Column): Column =
    kernel("encodeCharsetBytes", BinaryType, Seq(s, cs))

  /** All stride-1 n-word window md5s (duplicates kept, window order) —
    * the passage-hash kernel for [[graft.operators.Dedup.duplicatePassages]].
    * SQL-registered: a non-array input fails at analysis with a clear
    * message, not a ClassCastException at eval time.
    */
  def md5_windows(words: Column, n: Int): Column =
    kernel("md5Grams", StringArray, Seq(words, lit(n)),
      inputTypes = Seq(ArrayType(StringType), IntegerType))

  /** Morton (Z-order) interleave of the low 16 bits of two bigint columns
    * — `a`'s bits on even positions, `b`'s on odd — the layout key for
    * multi-dimensional data skipping
    * ([[graft.operators.Compaction.zOrderParquet]]). Oracle-reproducible:
    * Σ_i ((a>>i & 1) << 2i) + ((b>>i & 1) << (2i+1)) for i in 0..15.
    * SQL-registered: INT inputs get an analysis-inserted cast to bigint,
    * so both eval paths agree, and mistyped calls fail at analysis.
    */
  def z_value16(a: Column, b: Column): Column =
    kernel("zValue16", LongType, Seq(a, b),
      inputTypes = Seq(LongType, LongType))

  /** BPE tokenization with the merge table as expression DATA — one tree
    * node looping the merges at runtime ([[graft.functions.BpeEncodeExpr]]);
    * plan depth constant in |merges|.
    */
  def bpe_encode(word: Column, merges: Seq[(String, String)],
      byteLevel: Boolean = false): Column =
    ExpressionUtils.column(graft.functions.BpeEncodeExpr(
      ExpressionUtils.expression(word), merges, byteLevel))

  /** Unigram-LM Viterbi tokenization with the piece table as expression
    * DATA ([[graft.functions.UnigramEncodeExpr]]); all DP comparisons on
    * exact integers, plan depth constant in |vocab|.
    */
  def unigram_encode(word: Column, vocab: Seq[(String, Long)],
      maxPieceLen: Int, unkScore: Long): Column =
    ExpressionUtils.column(graft.functions.UnigramEncodeExpr(
      ExpressionUtils.expression(word), vocab, maxPieceLen, unkScore))

  /** WordPiece greedy longest-match-first tokenization with the
    * vocabulary as expression DATA ([[graft.functions.WordPieceEncodeExpr]]);
    * plan depth constant in |vocab|.
    */
  def wordpiece_encode(word: Column, vocab: Seq[String],
      unk: String = "[UNK]"): Column =
    ExpressionUtils.column(graft.functions.WordPieceEncodeExpr(
      ExpressionUtils.expression(word), vocab, unk))

  /** PQ-encode an embedding against per-subspace L2 codebooks carried as
    * expression data ([[graft.functions.PqEncodeExpr]]).
    */
  def pq_encode(emb: Column, cb: Array[Array[Array[Float]]]): Column =
    ExpressionUtils.column(graft.functions.PqEncodeExpr(
      ExpressionUtils.expression(emb), cb))

  /** ADC lookup-table fold Σ_m lut[m·nCodes + codes[m]] of array<int>
    * codes over an array<double> lut → double.
    */
  def pq_adc(codes: Column, lut: Column, nCodes: Int): Column =
    kernel("pqAdc", DoubleType, Seq(codes, lut, lit(nCodes)))

  /** Bounded per-group top-k aggregate (score desc, id asc) — O(k) state,
    * partial+final; see [[graft.functions.TopKByScore]].
    */
  def topk_by_score(score: Column, id: Column, k: Int): Column =
    ExpressionUtils.column(TopKByScore(
      ExpressionUtils.expression(score), ExpressionUtils.expression(id), k)
      .toAggregateExpression())

  /** Misra-Gries frequent-items summary — one pass, O(k) state per group
    * at every aggregation stage; see [[graft.functions.ApproxTopItems]].
    */
  def approx_top_items(item: Column, k: Int): Column =
    ExpressionUtils.column(ApproxTopItems(
      ExpressionUtils.expression(item), k).toAggregateExpression())

  /** Register the SQL functions into an already-running session
    * (getOrCreate ignores withExtensions when a session exists).
    */
  def install(spark: org.apache.spark.sql.SparkSession): Unit =
    org.apache.spark.sql.graftshim.ColumnBridge.registerFunctions(spark, Register.entries)
}

package functions {

  /** SQL registration: `spark.sql.extensions=graft.GraftFunctionExtensions`
    * (or `Builder.withExtensions`) makes `minhash_sig(xs, 64)`,
    * `simhash_fp(hs)`, `cosine_f(a, b)` callable from SQL — the engine's
    * extension mechanism of record (SparkSessionExtensions.injectFunction).
    * Each name calls its Column wrapper; Int parameters must be integer
    * literals.
    */
  private[graft] object Register {
    /** The integer literal at `i`. */
    private def intArg(args: Seq[Expression], i: Int): Int = args(i) match {
      case Literal(v: Int, _) => v
      case other => throw new IllegalArgumentException(s"expected int literal, got $other")
    }

    /** The integer literal at `i`, or `default` when the call omits it. */
    private def intArg(args: Seq[Expression], i: Int, default: Int): Int =
      if (args.size > i) intArg(args, i) else default

    private def arg(args: Seq[Expression], i: Int): Column =
      ExpressionUtils.column(args(i))

    private def fn(name: String)(build: Seq[Expression] => Column)
        : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
      (FunctionIdentifier(name),
        new ExpressionInfo(NativeKernels.getClass.getName, name),
        (args: Seq[Expression]) => ExpressionUtils.expression(build(args)))

    val entries: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
      fn("minhash_sig")(a => minhash_sig(arg(a, 0), intArg(a, 1, 64))),
      fn("simhash_fp")(a => simhash_fp(arg(a, 0), intArg(a, 1, Dedup.SimHashBits))),
      fn("cosine_f")(a => cosine_f(arg(a, 0), arg(a, 1))),
      fn("lsh_bucket")(a => lsh_bucket(arg(a, 0), intArg(a, 1))),
      fn("shingles_of")(a => shingles_of(arg(a, 0), intArg(a, 1, 3))),
      fn("minhash_words")(a =>
        minhash_words(arg(a, 0), intArg(a, 1, 3), intArg(a, 2, 64))),
      fn("simhash_words")(a =>
        simhash_words(arg(a, 0), intArg(a, 1, Dedup.SimHashBits))),
      fn("repetition_signals")(a => repetition_signals(arg(a, 0), intArg(a, 1, 2))),
      fn("z_value16")(a => z_value16(arg(a, 0), arg(a, 1))),
      fn("md5_windows")(a => md5_windows(arg(a, 0), intArg(a, 1))))
  }
}

/** Zero-arg extensions class usable via spark.sql.extensions. */
class GraftFunctionExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    graft.functions.Register.entries.foreach(ext.injectFunction)
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    ext.injectOptimizerRule(_ => graft.plans.AsOfJoinFilterPushdown)
  }
}
