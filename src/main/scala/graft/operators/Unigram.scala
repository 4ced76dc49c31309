package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.CacheScope.ScopedPersist

/** Unigram-LM subword tokenizer (SentencePiece's model family, Kudo 2018):
  * seed a substring vocabulary from the corpus, then run hard-EM rounds —
  * E-step: Viterbi-segment every distinct word under the current piece
  * scores; M-step: piece count = exact corpus-weighted usage in those
  * segmentations, with unused multi-character pieces PRUNED and unused
  * single characters floored at count 1 (the coverage guarantee, so any
  * text stays segmentable). The missing member of the tokenizer family
  * next to the BPE trainer ([[TextOps.bpeMerges]]); the reference has no
  * tokenizer — LLM-pipeline extension (SURVEY §2).
  *
  * Determinism (what makes the trainer GATE-able, the q179 discipline):
  * every count is an exact integer sum; piece scores are INTEGERIZED
  * micro-log-probs round(ln(c)·10⁶) − round(ln(T)·10⁶) — ln runs once per
  * (piece, round) on an exact integer and is rounded half-up to the 10⁻⁶
  * grid (the q174/q175 "float only at a rounded boundary" precedent) — so
  * the Viterbi DP itself compares ONLY integers (score, then fewer pieces,
  * then UTF-8-lexicographic token list) and two engines replaying the
  * recurrence cannot diverge. The DuckDB oracle unrolls the EM rounds as
  * CTEs (the q156 pattern) with the DP as a list_reduce fold.
  *
  * 100 TB posture — the classic trainer decomposition shared with
  * [[TextOps.bpeMerges]]: ONE distributed pass reduces the corpus to its
  * word-frequency table; every EM round then runs on that VOCAB-sized
  * table — the E-step is one narrow native-expression map
  * ([[graft.functions.UnigramEncodeExpr]], vocab as expression data) plus
  * one map-side-combined integer aggregate; the model collects driver-side
  * once per round (bounded by seedTopK + |alphabet| rows BY CONSTRUCTION).
  * No corpus rescan after the first pass, no shuffle wider than the word
  * table.
  */
object Unigram {

  /** Max piece length in code points — bounds seed-vocab size (≤ 4·Σ|w|
    * substrings) and the DP fan-in.
    */
  val MaxPieceLen = 4

  /** Integer micro-log-prob floor for unknown single characters (serving
    * never fails on unseen text; on the training corpus every character is
    * in-vocab by construction so this never fires during EM).
    */
  val UnkScoreMicro: Long = -50000000L

  /** One learned piece: exact count and integerized micro-log-prob. */
  final case class Piece(piece: String, cnt: Long, scoreMicro: Long)

  /** round(ln(c)·10⁶) − round(ln(T)·10⁶) — Math.round is half-up and both
    * ln inputs are ≥ 1 so both terms are ≥ 0: exactly DuckDB's
    * CAST(round(ln(c) * 1000000) AS BIGINT) arithmetic.
    */
  def scoreMicro(c: Long, t: Long): Long =
    Math.round(Math.log(c.toDouble) * 1e6) - Math.round(Math.log(t.toDouble) * 1e6)

  private def withScores(vocab: Map[String, Long]): Seq[(String, Long)] = {
    val t = vocab.valuesIterator.sum
    vocab.toSeq.sortBy(_._1).map { case (p, c) => p -> scoreMicro(c, t) }
  }

  private def isSingleCp(p: String): Boolean =
    p.codePointCount(0, p.length) == 1

  /** Corpus → (w, n) word-frequency table: lowercased whitespace words
    * ([[TextOps.bpeMerges]]'s word boundary, so fertility rows compare
    * like for like), or with `byteLevel` the production tokenizer
    * boundary — [[TextOps.bpeMerges]]' byte-level regex pre-tokens, each
    * re-expressed as ONE CODE POINT PER UTF-8 BYTE ([[byteChars]]), so the
    * char-level Viterbi machinery runs UNCHANGED over a closed 256-symbol
    * alphabet and no OOV symbol can exist.
    */
  def wordTable(docs: DataFrame, text: Column,
      byteLevel: Boolean = false): DataFrame = {
    val words = docs.select(text.as("__t"))
      .select(explode(TextOps.pretokens(col("__t"), byteLevel)).as("w"))
    (if (byteLevel) words.select(byteChars.as("w")) else words)
      .groupBy(col("w")).agg(count(lit(1)).as("n"))
  }

  /** The pre-token column `w` as one code point per UTF-8 byte (byte b →
    * U+0000+b, the GPT-2 byte-to-unicode idea with the identity map): a
    * multi-byte character SPLITS into its byte code points and any byte
    * sequence stays segmentable. ASCII pre-tokens map to themselves;
    * [[byteCharsToString]] inverts the map exactly.
    */
  private[operators] def byteChars: Column = expr(
    """array_join(transform(sequence(1, length(hex(w)) div 2),
      |  i -> chr(CAST(conv(substring(hex(w), 2 * i - 1, 2), 16, 10)
      |           AS BIGINT))), '')""".stripMargin)

  /** Invert the byte→code-point map: a byte-level word or piece back to
    * its original UTF-8 string. Pure JVM (serving/diagnostic helper).
    */
  def byteCharsToString(s: String): String = {
    val cps = s.codePoints().toArray
    val bytes = new Array[Byte](cps.length)
    var i = 0
    while (i < cps.length) {
      require(cps(i) <= 0xff, s"not a byte-level string: U+${cps(i).toHexString}")
      bytes(i) = cps(i).toByte
      i += 1
    }
    new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
  }

  /** Seed counts: every substring of length 1..maxPieceLen of every word,
    * weighted by word frequency, counted once per occurrence POSITION —
    * one explode + one map-side-combined integer aggregate.
    */
  def seedCounts(words: DataFrame, maxPieceLen: Int): DataFrame =
    words.select(col("n"), explode(expr(
      s"""flatten(transform(sequence(1, length(w)), i ->
         |  transform(sequence(1, least($maxPieceLen, i)), l ->
         |    substring(w, i - l + 1, l))))""".stripMargin)).as("piece"))
      .groupBy(col("piece")).agg(sum(col("n")).as("c"))

  /** Train the unigram model: returns the final (piece, cnt, score_micro)
    * table as a driver-sized Seq, deterministically ordered by piece.
    * Seed vocab = top `seedTopK` substrings by (count DESC, piece ASC) —
    * a distributed TakeOrdered, never a global sort — UNION all single
    * characters (coverage).
    */
  def trainPieces(docs: DataFrame, text: Column, seedTopK: Int, rounds: Int,
      maxPieceLen: Int = MaxPieceLen): Seq[Piece] =
    trainPiecesFrom(wordTable(docs, text), seedTopK, rounds, maxPieceLen)

  /** [[trainPieces]] over an explicit (w, n) word table — the shared core
    * both [[wordTable]] boundaries (whitespace and byte-level) train
    * through.
    */
  def trainPiecesFrom(wordsIn: DataFrame, seedTopK: Int, rounds: Int,
      maxPieceLen: Int = MaxPieceLen): Seq[Piece] = {
    require(seedTopK >= 1 && rounds >= 1)
    val words = wordsIn.persistScoped() // read every EM round
    val counts0 = seedCounts(words, maxPieceLen).persistScoped()
    val topK = counts0.orderBy(desc("c"), asc("piece")).limit(seedTopK)
    val chars = counts0.filter(length(col("piece")) === 1)
    var vocab: Map[String, Long] = topK.unionAll(chars).distinct()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    var r = 1
    while (r <= rounds) {
      val scores = withScores(vocab)
      val used = words
        .select(col("n"), explode(graft.functions.unigram_encode(
          col("w"), scores, maxPieceLen, UnkScoreMicro)).as("piece"))
        .groupBy(col("piece")).agg(sum(col("n")).as("c"))
        .collect().map(row => row.getString(0) -> row.getLong(1)).toMap
      // M-step: used pieces at their Viterbi counts; unused single chars
      // floored at 1 (coverage); unused multi-char pieces pruned
      vocab = used ++ vocab.keysIterator
        .filter(p => isSingleCp(p) && !used.contains(p)).map(_ -> 1L)
      r += 1
    }
    val t = vocab.valuesIterator.sum
    vocab.toSeq.sortBy(_._1)
      .map { case (p, c) => Piece(p, c, scoreMicro(c, t)) }
  }

  /** [[trainPieces]] as a DataFrame — the gateable trainer output. */
  def train(docs: DataFrame, text: Column, seedTopK: Int, rounds: Int,
      maxPieceLen: Int = MaxPieceLen): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    trainPieces(docs, text, seedTopK, rounds, maxPieceLen)
      .map(p => (p.piece, p.cnt, p.scoreMicro))
      .toDF("piece", "cnt", "score_micro")
  }

  /** Persist a trained model (the stored-artifact contract of
    * [[TextOps.writeBpeModel]]): one bounded parquet of pieces.
    */
  def writeModel(spark: SparkSession, pieces: Seq[Piece], dir: String): Unit = {
    import spark.implicits._
    pieces.map(p => (p.piece, p.cnt, p.scoreMicro))
      .toDF("piece", "cnt", "score_micro")
      .coalesce(1).write.mode("overwrite").parquet(dir)
  }

  /** Load a stored model back to the (piece, score) table the encoder
    * consumes — deterministically ordered by piece.
    */
  def loadModel(spark: SparkSession, dir: String): Seq[(String, Long)] =
    spark.read.parquet(dir)
      .select(col("piece"), col("score_micro"))
      .collect().map(r => r.getString(0) -> r.getLong(1))
      .sortBy(_._1).toSeq

  /** Frozen (piece → id) vocabulary of a trained unigram model: ids
    * follow the stored piece order ([[loadModel]] is piece-sorted), so
    * the map is reproducible from the artifact alone. A piece the model
    * never stored has no id — the shard exporter raises on it
    * (byte-level training floors every SEEN single byte char, so any
    * text over the training alphabet is covered; genuinely unseen bytes
    * fail loudly rather than silently corrupting the id stream).
    */
  def vocabIds(model: Seq[(String, Long)]): Map[String, Long] =
    model.map(_._1).sorted.zipWithIndex
      .map { case (p, i) => p -> i.toLong }.toMap

  /** [[byteCharsToString]] as a Column (the distributed inverse): each
    * code point of a byte-level string IS one UTF-8 byte value (≤ 0xFF by
    * the [[byteChars]] construction), so the original string is
    * hex(code point) per char → concat → unhex → UTF-8 decode. Pure
    * codegen'd expression chain, no UDF.
    */
  def byteCharsToStringCol(s: Column): Column =
    decode(unhex(concat_ws("",
      transform(sequence(lit(1), length(s)),
        i => lpad(conv(ascii(s.substr(i, lit(1))).cast("string"),
          10, 16), 2, "0")))), "UTF-8")
}
