package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class UnigramSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def enc(w: String, vocab: Seq[(String, Long)],
      maxLen: Int = Unigram.MaxPieceLen): Seq[String] =
    TextOps.encodeWords(Seq(w).toDF("w"),
        TextOps.Encoder.Unigram(vocab, byteLevel = false, maxLen))
      .select($"toks").as[Seq[String]].head()

  test("Viterbi picks the max-score segmentation") {
    val v = Seq("ab" -> -100L, "a" -> -300L, "b" -> -400L)
    assert(enc("ab", v) == Seq("ab"))
    assert(enc("aab", v) == Seq("a", "ab")) // -400 beats a,a,b = -1000
  }

  test("score tie breaks to fewer pieces, then lexicographic token list") {
    // "aa" as one piece vs two: equal score -200, fewer pieces wins
    assert(enc("aa", Seq("aa" -> -200L, "a" -> -100L)) == Seq("aa"))
    // [ab,c] and [a,bc] both -300 / 2 pieces; toks ["a","bc"] < ["ab","c"]
    val v = Seq("ab" -> -100L, "c" -> -200L, "a" -> -150L, "bc" -> -150L)
    assert(enc("abc", v) == Seq("a", "bc"))
  }

  test("unknown characters segment as themselves at the unk floor") {
    assert(enc("xyz", Seq("ab" -> -1L)) == Seq("x", "y", "z"))
    // and an in-vocab piece still beats a path through unk chars
    assert(enc("xab", Seq("ab" -> -1L)) == Seq("x", "ab"))
  }

  test("coverage invariant: concatenated tokens reproduce the word") {
    val v = Seq("th" -> -10L, "e" -> -20L, "q" -> -30L)
    for (w <- Seq("the", "queue", "zebra", "a", "théâtre"))
      assert(enc(w, v).mkString == w, s"round-trip broke on $w")
  }

  private val corpus = Seq(
    "the cat sat", "the cats sat", "the hat", "that cat"
  ).toDF("text")

  test("seedCounts: position-weighted substring counts, exact integers") {
    val words = Unigram.wordTable(corpus, $"text")
    val c = Unigram.seedCounts(words, 4)
      .as[(String, Long)].collect().toMap
    // "the" appears 3x as a word and inside nothing else; "th" occurs in
    // the(3) + that(1) + hat? no — "hat" has "ha","at" only ⇒ 4
    assert(c("the") == 3L)
    assert(c("th") == 4L)
    // "at" occurs in cat(2), cats(1), sat(2), hat(1), that(1: position 3) ⇒ 7
    assert(c("at") == 7L)
  }

  test("train: EM counts are Viterbi usage; unused multi-char pieces pruned") {
    val pieces = Unigram.trainPieces(corpus, $"text", seedTopK = 20, rounds = 2)
    val m = pieces.map(p => p.piece -> p.cnt).toMap
    // every word segments, so summed piece usage ≥ one piece per word
    assert(m.values.sum >= 8L)
    // coverage floor: every corpus character survives as a piece
    "thecatsh".foreach(ch =>
      assert(m.contains(ch.toString), s"char $ch missing from vocab"))
    // determinism: training twice yields the identical model
    val again = Unigram.trainPieces(corpus, $"text", seedTopK = 20, rounds = 2)
    assert(pieces == again)
  }

  test("stored model round-trips and serves identically to the fresh model") {
    val pieces = Unigram.trainPieces(corpus, $"text", seedTopK = 20, rounds = 2)
    val dir = java.nio.file.Files.createTempDirectory("uni_model").toString
    Unigram.writeModel(spark, pieces, dir)
    val loaded = Unigram.loadModel(spark, dir)
    assert(loaded == pieces.map(p => p.piece -> p.scoreMicro))
    val words = Unigram.wordTable(corpus, $"text")
    val fresh = TextOps.encodeWords(words, TextOps.Encoder.Unigram(
        pieces.map(p => p.piece -> p.scoreMicro), byteLevel = false))
      .select($"w", $"toks").as[(String, Seq[String])].collect().toMap
    val served = TextOps.encodeWords(words,
        TextOps.Encoder.Unigram(loaded, byteLevel = false))
      .select($"w", $"toks").as[(String, Seq[String])].collect().toMap
    assert(fresh == served)
  }

  test("byte-level word table: multi-byte chars split into byte code points; map inverts exactly") {
    val docs = Seq("Théâtre a b", "café a").toDF("text")
    val words = Unigram.wordTable(docs, $"text", byteLevel = true)
      .as[(String, Long)].collect().toMap
    // ASCII pre-tokens map to themselves
    assert(words("a") == 2L && words("b") == 1L)
    // "café" → c a f é where é = 0xC3 0xA9 → TWO code points U+C3 U+A9
    val cafe = words.keys.find(_.startsWith("caf")).get
    assert(cafe.codePointCount(0, cafe.length) == 5, cafe)
    assert(Unigram.byteCharsToString(cafe) == "café")
    // théâtre (lowercased) round-trips through the map too
    val th = words.keys.find(_.startsWith("th")).get
    assert(Unigram.byteCharsToString(th) == "théâtre")
  }

  test("byte-level training: closed alphabet — every byte piece survives, any text segments") {
    val docs = Seq("Théâtre cat", "cat café").toDF("text")
    val pieces = Unigram.trainPiecesFrom(
      Unigram.wordTable(docs, $"text", byteLevel = true), seedTopK = 50, rounds = 2)
    val vocab = pieces.map(p => p.piece -> p.scoreMicro)
    // tokenize an UNSEEN byte-level word: segments via single-byte pieces
    val toks = TextOps.encodeWords(Seq("dog").toDF("w"),
        TextOps.Encoder.Unigram(vocab, byteLevel = false))
      .select($"toks").as[Seq[String]].head()
    assert(toks.mkString == "dog") // coverage even for unseen pre-tokens
    // every piece decodes to SOME byte string (the map stays invertible
    // at piece granularity — pieces may split a multi-byte char, decode
    // then yields replacement chars, which is exactly byte-level behavior)
    pieces.foreach(p =>
      assert(p.piece.codePoints().toArray.forall(_ <= 0xff), p.piece))
  }

  test("scoreMicro: half-up micro-grid integerization of ln") {
    assert(Unigram.scoreMicro(1L, 1L) == 0L)
    // ln(2)·1e6 = 693147.18 → 693147; ln(4)·1e6 = 1386294.36 → 1386294
    assert(Unigram.scoreMicro(2L, 4L) == 693147L - 1386294L)
  }

  test("vocabIds: piece-sorted ranks, injective, covers every Viterbi piece of the training corpus") {
    import org.apache.spark.sql.functions.col
    try {
      val docs = Seq((1L, "cat sat mat"), (2L, "sat cat dog")).toDF("id", "text")
      val pieces = Unigram.trainPiecesFrom(
        Unigram.wordTable(docs, col("text"), byteLevel = true), seedTopK = 40, rounds = 2)
      val model = pieces.map(p => p.piece -> p.scoreMicro)
      val ids = Unigram.vocabIds(model)
      assert(ids.size == pieces.size)
      assert(ids.values.toSeq.distinct.length == ids.size)
      // ids are ranks in piece-sorted order — reproducible from the artifact
      val sorted = model.map(_._1).sorted
      assert(sorted.zipWithIndex.forall { case (p, i) => ids(p) == i.toLong })
      // every piece the encoder emits on the training corpus has an id
      val emitted = TextOps.encodeWords(
          Unigram.wordTable(docs, col("text"), byteLevel = true).select(col("w")),
          TextOps.Encoder.Unigram(model, byteLevel = false))
        .select(explode(col("toks"))).as[String].collect().toSet
      assert(emitted.forall(ids.contains), emitted.filterNot(ids.contains))
    } finally graft.CacheScope.drain()
  }

  test("byteCharsToStringCol equals the JVM inverse; byte-level round trip is exact incl. multi-byte text") {
    import org.apache.spark.sql.functions.col
    try {
      val docs = Seq((1L, "Théâtre café a b"), (2L, "cat sat a"),
        (3L, "日本語 cat")).toDF("id", "text")
      // the distributed inverse ≡ the JVM helper, on every byte-level word
      val words = Unigram.wordTable(docs, $"text", byteLevel = true)
        .select($"w", Unigram.byteCharsToStringCol($"w").as("dec"))
        .as[(String, String)].collect()
      assert(words.nonEmpty)
      words.foreach { case (w, dec) =>
        assert(dec == Unigram.byteCharsToString(w), w)
      }
      // full round trip through a trained model: zero mismatches, md5 of
      // the decoded stream equals the md5 of the original pre-token stream
      val pieces = Unigram.trainPiecesFrom(
        Unigram.wordTable(docs, $"text", byteLevel = true), seedTopK = 60, rounds = 2)
      val model = pieces.map(p => p.piece -> p.scoreMicro)
      val rt = TextOps.roundTrip(TextOps.pretokenize(docs, Seq(col("id")),
          col("text"), byteLevel = true), TextOps.Encoder.Unigram(model, byteLevel = true))
        .as[(Long, Long, Long, String)].collect().map(t => t._1 -> t).toMap
      val expected = docs.select($"id",
          md5(array_join(regexp_extract_all(lower($"text"),
            lit(TextOps.byteLevelTokenPattern), lit(0)), "")).as("m"))
        .as[(Long, String)].collect().toMap
      assert(rt.keySet == Set(1L, 2L, 3L))
      rt.foreach { case (id, (_, n, mism, md)) =>
        assert(n > 0 && mism == 0L, s"doc $id")
        assert(md == expected(id), s"doc $id stream md5")
      }
    } finally graft.CacheScope.drain()
  }
}
