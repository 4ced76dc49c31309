package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class TextOpsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("token counts: whitespace and BPE-ish") {
    val df = Seq("hello world, it's 42 degrees!").toDF("text")
    val (ws, bpe) = df.select(
      TextOps.wsTokenCount($"text"), TextOps.bpeTokenCount($"text"))
      .as[(Int, Int)].head()
    assert(ws == 5)
    // hello | world | , | it | ' | s | 42 | degrees | !
    assert(bpe == 9)
  }

  test("shingles: 3-grams of a 5-word text, distinct, too-short text empty") {
    val df = Seq((1, "a b c d e"), (2, "x y")).toDF("id", "text")
    val sh = TextOps.withShingles(df, $"text", 3, "sh")
      .select($"id", $"sh").as[(Int, Seq[String])].collect().toMap
    assert(sh(1) == Seq("a b c", "b c d", "c d e"))
    assert(sh(2).isEmpty)
  }

  test("blocklistFilter: exact-integer threshold, boundary row drops, empty doc keeps") {
    val df = Seq(
      (1L, "clean words only here"),            // 0/4 → kept
      (2L, "bad bad bad good"),                 // 3/4 → dropped
      (3L, "bad one two three four five six seven eight nine"), // 1/10 = τ boundary
      (4L, ""),                                 // empty → kept, ratio 0
      (5L, "BAD mixed Case bad")                // lowercased: 2/4 → dropped
    ).toDF("id", "text")
    // τ = 1000 (10%): kept iff n_blocked·10⁴ < 1000·n_words — the
    // boundary row (exactly 10%) must DROP (strict <)
    val out = TextOps.blocklistFilter(df, $"id", $"text", Seq("bad"), 1000L)
      .as[(Long, Long, Long, Double, Boolean)].collect()
      .map(r => r._1 -> r).toMap
    assert(out(1L) == ((1L, 4L, 0L, 0.0, true)))
    assert(out(2L) == ((2L, 4L, 3L, 0.75, false)))
    assert(out(3L) == ((3L, 10L, 1L, 0.1, false)))
    assert(out(4L) == ((4L, 0L, 0L, 0.0, true)))
    assert(out(5L) == ((5L, 4L, 2L, 0.5, false)))
  }

  test("taggerTable: seven taggers, one pass; planted PII fires; empty doc never silently drops") {
    val df = Seq(
      (1L, "the cat of the house is in the garden with the dog today"),
      (2L, "bad bad bad the cat of the house is here"), // blocklist (3/9 > 10%)
      (3L, "the report is at a@b.co and c@d.eu plus http://x.io today ok"), // 3 PII hits > 2
      (4L, "spam spam spam spam spam spam spam spam the end"), // repetition
      (5L, "zzz qqq www kkk mmm nnn ppp rrr ttt vvv"), // no stopwords: quality
      (6L, "")                                          // empty: rep + quality + doclen fail
    ).toDF("id", "text")
    val out = TextOps.taggerTable(df, $"id", $"text",
        blocklist = Seq("bad"), blockTau = 1000L, piiMax = 2L,
        maxTopTokFrac = 0.35, maxTopBigramFrac = 0.3, minTtr = 0.2,
        minStopwordRatio = 0.02,
        gopher = TextOps.GopherRules(minWords = 1L))
      .as[(Long, Boolean, Boolean, Boolean, Boolean, Boolean, Boolean,
           Boolean, Boolean, String)]
      .collect().map(r => r._1 -> r).toMap
    assert(out.size == 6, "every input row survives into the tagger table")
    assert(out(1L) == ((1L, true, true, true, true, true, true, true, true, "")))
    assert(out(2L)._2 == false && out(2L)._9 == false &&
      out(2L)._10.contains("blocklist"))
    assert(out(3L)._3 == false && out(3L)._10 == "pii")
    assert(out(4L)._4 == false && out(4L)._10.contains("repetition"))
    assert(out(5L)._5 == false && out(5L)._10 == "quality")
    assert(out(6L) == ((6L, true, true, false, false, false, true, true, false,
      "repetition,quality,doclen")))
  }

  test("taggerTable: Gopher document-shape rules — doclen/symbols/lines each fire alone") {
    // Loosen every non-Gopher tagger so only the shape rules decide.
    def tag(docs: Seq[(Long, String)], g: TextOps.GopherRules) =
      TextOps.taggerTable(docs.toDF("id", "text"), $"id", $"text",
          blocklist = Seq.empty, blockTau = 10000L, piiMax = 100L,
          maxTopTokFrac = 1.0, maxTopBigramFrac = 1.0, minTtr = 0.0,
          minStopwordRatio = 0.0, gopher = g)
        .select($"id", $"keep_doclen", $"keep_symbols", $"keep_lines", $"reasons")
        .as[(Long, Boolean, Boolean, Boolean, String)]
        .collect().map(r => r._1 -> r).toMap
    val g = TextOps.GopherRules(minWords = 5L)
    val out = tag(Seq(
      (1L, "one two three"),                       // 3 words < 5: doclen
      (2L, "alpha bravo carol delta eagle frank"), // clean
      (3L, "supercalifragilistic extraordinarily incomprehensibilities overqualification jackhammering"), // mean len > 10: doclen
      (4L, "see C# and #tags #everywhere ... fine"), // 3 hashes / 7 words > 10%: symbols (per-symbol ratio)
      (5L, "- alpha bravo\n- alpha carol\n- alpha delta\n- alpha eagle\n- alpha frank\n- bravo carol\n- bravo delta\n- bravo eagle\n- bravo frank\n- carol delta\nintro line here of words"), // 10/11 bullet lines > 90% (exactly 90% keeps)
      (6L, "first line goes on...\nsecond line is also trailing off...\nthird line is plain here okay\nfourth line is plain too okay"), // 2/4 ellipsis > 30%
      (7L, "same line of words here\nsame line of words here\nsame line of words here\nunique line of words here"), // dup fraction 2/4 > 30%
      (8L, (Seq.fill(2)("alpha bravo carol delta eagle frank golf hotel india juliet") ++
        Seq("kilo lima", "mike nov", "oscar papa", "quebec romeo",
          "sierra tango", "uncle victor", "whiskey xray", "yankee zulu"))
        .mkString("\n")), // dup LINE fraction 1/10 ok; dup CHAR fraction 60/~200 > 20%
      (9L, "- alpha bravo\n- alpha carol\n- alpha delta\n- alpha eagle\n- alpha frank\n- bravo carol\n- bravo delta\n- bravo eagle\n- bravo frank\nintro line here of words")), // EXACTLY 9/10 = 90% bullet lines: Gopher drops only ABOVE the threshold, so this keeps
      g)
    assert(out(1L) == ((1L, false, true, true, "doclen")))
    assert(out(2L) == ((2L, true, true, true, "")))
    assert(out(3L) == ((3L, false, true, true, "doclen")))
    assert(out(4L) == ((4L, true, false, true, "symbols")))
    assert(out(5L)._4 == false && out(5L)._5 == "lines")
    assert(out(6L)._4 == false && out(6L)._5 == "lines")
    assert(out(7L)._4 == false && out(7L)._5 == "lines")
    // duplicate-line CHAR fraction fires where the line fraction passes:
    // 1 dup line of 10 (10% <= 30%) but that line carries 60 of ~200 chars
    assert(out(8L)._4 == false && out(8L)._5 == "lines")
    assert(out(9L) == ((9L, true, true, true, "")))
  }

  test("langId picks the language with most stopword hits; CJK wins; und fallback") {
    val df = Seq(
      "the cat of the house is in the garden",
      "le chat de la maison est dans le jardin et les fleurs",
      "der hund und die katze ist ein tier",
      "los gatos y el perro es un animal en la casa",
      "你好世界 这是中文",
      "zzz qqq www"
    ).toDF("text")
    val langs = df.select(TextOps.langId($"text")).as[String].collect().toSeq
    assert(langs == Seq("en", "fr", "de", "es", "zh", "und"))
  }

  test("fingerprint is deterministic and order-sensitive") {
    val df = Seq("abc", "acb", "abc", "").toDF("text")
    val fps = df.select(TextOps.fingerprint($"text")).as[Long].collect().toSeq
    assert(fps(0) == fps(2))
    assert(fps(0) != fps(1))
    assert(fps(3) == 7L) // seed survives empty input
    // h = ((7*31+97)*31+98)*31+99 mod 1e9+7
    assert(fps(0) == ((7L * 31 + 'a') * 31 + 'b') * 31 + 'c')
  }

  test("qualityFeatures ratios are exact round-4 of integer counts") {
    val df = Seq("the cat!").toDF("text") // 8 chars, 6 alpha, 1 punct, 2 tokens, 1 stopword
    val r = TextOps.qualityFeatures(df, $"text")
      .select($"n_tokens", $"alpha_ratio", $"punct_ratio", $"stopword_ratio")
      .as[(Int, Double, Double, Double)].head()
    assert(r == ((2, 0.75, 0.125, 0.5)))
  }

  test("bpeMerges: hand-computed merges, lexicographic tie-break, early exhaustion") {
    // wc: ab×3, cd×3. Round 1: (a,b)=3 ties (c,d)=3 → (a,b) wins
    // lexicographically; round 2: (c,d)=3; round 3: no pairs left → the
    // trainer stops early even though 5 rounds were requested
    val docs = Seq("ab ab cd", "ab cd cd").toDF("text")
    val m = TextOps.bpeMerges(docs, $"text", 5)
      .as[(Long, String, String, Long)].collect().toSeq.sortBy(_._1)
    assert(m == Seq((1L, "a", "b", 3L), (2L, "c", "d", 3L)))
  }

  test("bpeMerges applies merges greedily left-to-right (the run case)") {
    // 'aaa' ×2: round 1 merges (a,a) with count 4 (two adjacent pairs per
    // word, weight 2). Greedy L2R leaves [aa, a] — so round 2 must see
    // (aa, a), NOT (a, aa) (what a right-to-left or lazy application
    // would produce)
    val docs = Seq("aaa", "aaa").toDF("text")
    val m = TextOps.bpeMerges(docs, $"text", 3)
      .as[(Long, String, String, Long)].collect().toSeq.sortBy(_._1)
    assert(m == Seq((1L, "a", "a", 4L), (2L, "aa", "a", 2L)))
  }

  test("Bpe encoder applies learned merges in order with trainer semantics") {
    val words = Seq("aaab", "ba").toDF("w")
    // merges learned elsewhere: (a,a) then (aa,a) then (a,b)
    val toks = TextOps.encodeWords(words, TextOps.Encoder.Bpe(
      Seq(("a", "a"), ("aa", "a"), ("a", "b")), byteLevel = false))
      .as[(String, Seq[String])].collect().toMap
    // aaab: chars [a,a,a,b] → (a,a): [aa,a,b] → (aa,a): [aaa,b] →
    // (a,b): no 'a' before 'b' anymore → [aaa, b]
    assert(toks("aaab") == Seq("aaa", "b"))
    // ba: no merge applies in either direction ((a,b) ≠ (b,a))
    assert(toks("ba") == Seq("b", "a"))
  }

  test("bpeTokenCounts: per-doc sums over the tokenized vocab; trainer round-trip") {
    val docs = Seq((1L, "ab ab cd"), (2L, "ab cd cd"), (3L, "ab")).toDF("id", "text")
    // the trainer learns (a,b) then (c,d) (see the hand-computed test):
    // every word becomes ONE token → n_tokens = word count per doc
    val merges = TextOps.bpeMerges(docs, $"text", 5)
      .orderBy($"merge_round")
      .as[(Long, String, String, Long)].collect().map(m => (m._2, m._3)).toSeq
    val counts = TextOps.tokenCounts(TextOps.pretokenize(docs, Seq($"id"),
        $"text", byteLevel = false), TextOps.Encoder.Bpe(merges, byteLevel = false))
      .as[(Long, Long)].collect().toMap
    assert(counts == Map(1L -> 3L, 2L -> 3L, 3L -> 1L))
    // with NO merges, every char is a token
    val raw = TextOps.tokenCounts(TextOps.pretokenize(docs, Seq($"id"),
        $"text", byteLevel = false), TextOps.Encoder.Bpe(Seq.empty, byteLevel = false))
      .as[(Long, Long)].collect().toMap
    assert(raw == Map(1L -> 6L, 2L -> 6L, 3L -> 2L))
  }

  test("Bpe encoder round-trip: token concatenation reconstructs every word") {
    // merge application may regroup symbols but can never lose or invent
    // characters — checked over 200 seeded-random words under three merge
    // lists (incl. self-merges and merges of merged symbols)
    val rnd = new scala.util.Random(42)
    val alphabet = "abc"
    val wordsSeq = (0 until 200).map { _ =>
      (0 until (1 + rnd.nextInt(12))).map(_ => alphabet(rnd.nextInt(3))).mkString
    }.distinct
    val words = wordsSeq.toDF("w")
    val mergeLists = Seq(
      Seq(("a", "b")),
      Seq(("a", "a"), ("aa", "a"), ("aaa", "b")),
      Seq(("b", "c"), ("a", "bc"), ("abc", "abc")))
    for (ms <- mergeLists) {
      val bad = TextOps.encodeWords(words, TextOps.Encoder.Bpe(ms, byteLevel = false))
        .as[(String, Seq[String])].collect()
        .filter { case (w, toks) => toks.mkString != w }
      assert(bad.isEmpty, s"merges $ms broke round-trip: ${bad.take(3).toSeq}")
    }
  }

  test("bpeMerges trainer is prefix-stable: fewer rounds = a prefix of more rounds") {
    val docs = graft.Tables(spark, "/root/testdata/sf0.001").documents
      .select($"text")
    val m3 = TextOps.bpeMerges(docs, $"text", 3)
      .as[(Long, String, String, Long)].collect().sortBy(_._1).toSeq
    val m6 = TextOps.bpeMerges(docs, $"text", 6)
      .as[(Long, String, String, Long)].collect().sortBy(_._1).toSeq
    assert(m3.size == 3 && m6.size == 6)
    assert(m6.take(3) == m3)
  }

  test("bpeMerges counts pairs weighted by word frequency, not per document") {
    // 'xy' appears 5 times across 2 docs → (x,y) count is 5
    val docs = Seq("xy xy xy", "xy xy z").toDF("text")
    val m = TextOps.bpeMerges(docs, $"text", 1)
      .as[(Long, String, String, Long)].collect().toSeq
    assert(m == Seq((1L, "x", "y", 5L)))
  }

  test("trainers break count ties on UTF-8 byte order, not UTF-16 order") {
    // U+FF61 is EF BD A1 in UTF-8 and U+1F600 is F0 9F 98 80, so Spark's
    // string order puts U+FF61 first; String.compareTo sees the emoji's
    // high surrogate D83D < FF61 and would pick the emoji pair
    val (half, emoji) = ("｡", new String(Character.toChars(0x1F600)))
    val docs = Seq(s"${emoji}a ${half}a").toDF("text")
    val bpe = TextOps.bpeMerges(docs, $"text", 2)
      .as[(Long, String, String, Long)].collect().sortBy(_._1).toSeq
    assert(bpe == Seq((1L, half, "a", 1L), (2L, emoji, "a", 1L)))
    // WordPiece: both pairs score 1 / (1 · 2)
    val wp = TextOps.wordPieceMerges(docs, $"text", 1)
      .as[(Long, String, String, Long, Long, Long)].collect().toSeq
    assert(wp == Seq((1L, half, "##a", 1L, 1L, 2L)))
  }

  test("trainer word table above the in-memory bound fails naming the bound") {
    val wc = Seq((Seq("a", "b"), 2L), (Seq("b", "c"), 1L), (Seq("c", "d"), 1L))
      .toDF("syms", "n")
    assert(TextOps.trainBpe(wc, 1, requireFull = false, maxWords = 3) ==
      Seq((1L, "a", "b", 2L)))
    val e = intercept[IllegalArgumentException](
      TextOps.trainBpe(wc, 1, requireFull = false, maxWords = 2))
    assert(e.getMessage.contains("in-memory bound of 2 distinct words"),
      e.getMessage)
  }

  test("lmPerplexityFilter: exact smoothing/pruning against an independent reimplementation") {
    def r4(x: Double) = BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    def toks(s: String) = s.toLowerCase.split("""\s+""").filter(_.nonEmpty).toSeq
    // from-scratch scorer: same published formula, no shared code
    def expected(refs: Seq[String], target: String, maxV: Int, maxB: Int,
        lam: Double): Option[(Long, Double, Double)] = {
      val refDocs = refs.map(toks).filter(_.length >= 2)
      val uni = refDocs.flatten.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val voc = uni.toSeq.sortBy { case (w, c) => (-c, w) }.take(maxV).toMap
      val tt = voc.values.sum; val nv = voc.size
      val big = refDocs
        .flatMap(_.sliding(2).filter(_.length == 2).map(p => (p.head, p(1))))
        .filter { case (a, b) => voc.contains(a) && voc.contains(b) }
        .groupBy(identity).view.mapValues(_.size.toLong).toSeq
        .sortBy { case ((a, b), c) => (-c, a, b) }.take(maxB).toMap
      val ws = toks(target)
      if (ws.length < 2) None else {
        val pairs = ws.sliding(2).map(p => (p.head, p(1))).toSeq
        val grouped = pairs.groupBy(identity).view.mapValues(_.size).toSeq.sortBy(_._1)
        var s = 0.0
        grouped.foreach { case ((w1, w2), n) =>
          val pb = big.get((w1, w2)).map(_.toDouble / voc(w1)).getOrElse(0.0)
          val pu = (voc.getOrElse(w2, 0L) + 1).toDouble / (tt + nv + 1).toDouble
          s += n * math.log(lam * pb + (1.0 - lam) * pu)
        }
        val h = r4(-s / pairs.length)
        Some((pairs.length.toLong, h, r4(math.exp(h))))
      }
    }
    val refs = Seq("a b a b c", "a b")
    val targets = Seq(10L -> "a b c", 11L -> "a z", 12L -> "x")
    val docs = (refs.zipWithIndex.map { case (t, i) => (i.toLong, t) } ++
      targets.map { case (i, t) => (i, t) }).toDF("doc_id", "text")
    for (maxV <- Seq(10, 2)) { // un-pruned, and c pruned out of the vocab
      val out = TextOps.lmPerplexityFilter(docs, col("doc_id"), col("text"),
          col("doc_id") < 10, maxV, 10, lambda = 0.5, pplThreshold = 5.0)
        .as[(Long, Long, Double, Double, Boolean)].collect()
        .map(r => r._1 -> r).toMap
      // single-token doc has no bigram positions → dropped
      assert(!out.contains(12L) && out.size == 4, (maxV, out.keySet))
      for ((id, text) <- targets.take(2) ++ refs.zipWithIndex.map(z => (z._2.toLong, z._1))) {
        val (m, h, ppl) = expected(refs, text, maxV, 10, 0.5).get
        assert(out(id) == ((id, m, h, ppl, ppl <= 5.0)), (maxV, id, out(id), (m, h, ppl)))
      }
      // the OOV-heavy doc scores far worse than the in-distribution one
      assert(out(11L)._4 > out(10L)._4)
    }
  }

  test("writeLmModel / lmScoreAgainstModel: stored-and-scored ≡ freshly-trained") {
    val docs = Seq(
      (0L, "a b a b c"), (1L, "a b"),              // reference slice
      (10L, "a b c"), (11L, "a z"), (12L, "x")
    ).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("lm-model").toString
    try {
      TextOps.writeLmModel(docs.filter($"doc_id" < 10), col("doc_id"),
        col("text"), 2, 10, 10, dir)
      val stored = TextOps.lmScoreAgainstModel(docs, col("doc_id"),
          col("text"), dir, lambda = 0.5, pplThreshold = 5.0)
        .as[(Long, Long, Double, Double, Boolean)].collect().toSet
      val direct = TextOps.lmPerplexityFilter(docs, col("doc_id"),
          col("text"), col("doc_id") < 10, 10, 10, 0.5, 5.0)
        .as[(Long, Long, Double, Double, Boolean)].collect().toSet
      assert(stored == direct && stored.nonEmpty)
      // the artifact really is the bounded pruned model
      assert(spark.read.parquet(s"$dir/vocab").count() == 3)   // a, b, c
      assert(spark.read.parquet(s"$dir/grams").count() == 3) // ab, ba, bc
      // rebuild is overwrite-idempotent
      TextOps.writeLmModel(docs.filter($"doc_id" < 10), col("doc_id"),
        col("text"), 2, 10, 10, dir)
      assert(TextOps.lmScoreAgainstModel(docs, col("doc_id"), col("text"),
          dir, 0.5, 5.0)
        .as[(Long, Long, Double, Double, Boolean)].collect().toSet == direct)
    } finally graft.CacheScope.drain()
  }

  test("wordPieceMerges: likelihood selection beats raw count") {
    // (f,##g) occurs only 5 times but its parts occur nowhere else →
    // score 5/(5·5) = 0.2; (a,##b) occurs 10 times but 'a' starts 20
    // words → 10/(20·10) = 0.05. BPE's raw-count rule would merge
    // (a,##b); WordPiece must pick (f,##g).
    val docs = Seq(Seq.fill(10)("ab"), Seq.fill(10)("ac"), Seq.fill(5)("fg"))
      .flatten.mkString(" ")
    val m = TextOps.wordPieceMerges(Seq(docs).toDF("text"), $"text", 1)
      .as[(Long, String, String, Long, Long, Long)].collect().toSeq
    assert(m == Seq((1L, "f", "##g", 5L, 5L, 5L)))
  }

  test("wordPieceMerges: continuation merges keep '##'; products merge on") {
    // "xyz"×4: syms [x, ##y, ##z]; both pairs score 4/16; tie-break
    // lexicographic → (##y, ##z) merges first, to "##yz" (the '##' of the
    // RIGHT part is consumed, the left's kept); round 2 merges (x, ##yz)
    // into the full word
    val docs = Seq(Seq.fill(4)("xyz").mkString(" ")).toDF("text")
    val m2 = TextOps.wordPieceMerges(docs, $"text", 2)
      .as[(Long, String, String, Long, Long, Long)].collect().sortBy(_._1)
    assert(m2(0) == ((1L, "##y", "##z", 4L, 4L, 4L)))
    assert(m2(1) == ((2L, "x", "##yz", 4L, 4L, 4L)))
  }

  test("WordPiece encoder: greedy longest-match-first; BERT UNK semantics") {
    val words = Seq("abc", "abcd", "b", "abab").toDF("w")
    val vocab = Seq("a", "ab", "##b", "##c", "##bc", "##ab")
    val toks = TextOps.encodeWords(words, TextOps.Encoder.WordPiece(vocab))
      .as[(String, Seq[String])].collect().toMap
    // longest FIRST match wins: "ab" beats "a" even though a + ##bc also
    // yields two tokens
    assert(toks("abc") == Seq("ab", "##c"))
    // one unmatchable position fails the WHOLE word, not just the tail
    assert(toks("abcd") == Seq("[UNK]"))
    // 'b' exists only as a continuation — word-initial position can't use it
    assert(toks("b") == Seq("[UNK]"))
    assert(toks("abab") == Seq("ab", "##ab"))
  }

  test("wordPiece trainer vocab serves its own corpus: no UNK, exact round-trip") {
    val docs = graft.Tables(spark, "/root/testdata/sf0.001").documents
      .select($"text")
    val wt = TextOps.wordPieceWordTable(docs, $"text")
    val merges = TextOps.wordPieceMerges(docs, $"text", 4)
      .orderBy($"merge_round").as[(Long, String, String, Long, Long, Long)]
      .collect().map(m => (m._2, m._3)).toSeq
    assert(merges.size == 4)
    val vocab = TextOps.wordPieceVocab(wt, merges)
    val out = TextOps.encodeWords(wt.select($"w").distinct(),
        TextOps.Encoder.WordPiece(vocab))
      .as[(String, Seq[String])].collect()
    assert(out.nonEmpty)
    val bad = out.filter { case (w, ts) =>
      ts == Seq("[UNK]") || ts.map(_.stripPrefix("##")).mkString != w }
    assert(bad.isEmpty, bad.take(3).toSeq)
  }

  test("trainHashedLangId: separable fixture generalizes to held-out docs; stored ≡ fresh; loss decreases") {
    import org.apache.spark.sql.functions.col
    try {
      // three fake "languages" with DISJOINT char alphabets — unlike the
      // harness fixture (whose lang label is independent of the text, the
      // q182-catches-the-overfit shape), here language signal transfers,
      // and the held-out confusion matrix must be diagonal
      val alphabets = Seq("aa" -> "abcde", "bb" -> "fghij", "cc" -> "klmno")
      val rnd = new scala.util.Random(7)
      val docs = (for (((lang, alpha), li) <- alphabets.zipWithIndex;
                       i <- 0 until 30) yield {
        val text = (1 to 12).map(_ =>
          (1 to 4).map(_ => alpha(rnd.nextInt(alpha.length))).mkString)
          .mkString(" ")
        (li * 30L + i, text, lang)
      }).toDF("id", "text", "lang")
      val train = docs.filter($"id" % 3 =!= 0)
      val model = TextOps.trainHashedLangId(train, col("id"), col("text"),
        col("lang"), dim = 256, iters = 12)
      assert(model.classes == Seq("aa", "bb", "cc"))
      assert(model.losses.last < model.losses.head,
        s"loss did not decrease: ${model.losses}")
      // held-out third classifies perfectly (the alphabets are disjoint)
      val heldOut = docs.filter($"id" % 3 === 0)
      val pred = TextOps.langIdScore(heldOut, col("id"), col("text"), model)
        .join(docs.select($"id", $"lang"), "id")
        .select($"id", $"pred_lang", $"lang")
        .as[(Long, String, String)].collect()
      assert(pred.length == 30)
      val wrong = pred.filter(p => p._2 != p._3)
      assert(wrong.isEmpty, s"misclassified: ${wrong.take(5).toSeq}")
      // stored-and-served ≡ freshly-trained, bit for bit
      val dir = java.nio.file.Files.createTempDirectory("langid").toString
      TextOps.writeLangIdModel(spark, model, dir)
      val fresh = TextOps.langIdScore(docs, col("id"), col("text"), model)
        .as[(Long, String, Double)].collect().toSet
      val stored = TextOps.langIdScoreAgainstModel(docs, col("id"),
          col("text"), dir)
        .as[(Long, String, Double)].collect().toSet
      assert(fresh == stored && fresh.nonEmpty)
    } finally graft.CacheScope.drain()
  }

  test("langIdDriftReport: in-distribution batch ~ zero jsd; single-class batch drifts loudly; all classes reported") {
    import org.apache.spark.sql.functions.col
    try {
      val alphabets = Seq("aa" -> "abcde", "bb" -> "fghij", "cc" -> "klmno")
      val rnd = new scala.util.Random(11)
      val docs = (for (((lang, alpha), li) <- alphabets.zipWithIndex;
                       i <- 0 until 30) yield {
        val text = (1 to 12).map(_ =>
          (1 to 4).map(_ => alpha(rnd.nextInt(alpha.length))).mkString)
          .mkString(" ")
        (li * 30L + i, text, lang)
      }).toDF("id", "text", "lang")
      val base = java.nio.file.Files.createTempDirectory("liddrift").toString
      val modelDir = s"$base/model"; val refDir = s"$base/ref"
      TextOps.writeLangIdModel(spark,
        TextOps.trainHashedLangId(docs, col("id"), col("text"), col("lang"),
          dim = 256, iters = 12), modelDir)
      TextOps.writeLangIdReference(docs, col("id"), col("text"), modelDir,
        refDir)
      def report(batch: org.apache.spark.sql.DataFrame) =
        TextOps.langIdDriftReport(batch, col("id"), col("text"), modelDir,
            refDir)
          .as[(String, Long, Long, Double, Double, Double)].collect()
      // a balanced batch (every 3rd doc — same thirds) barely drifts
      val balanced = report(docs.filter($"id" % 3 === 0))
      assert(balanced.map(_._1).sorted.toSeq == Seq("aa", "bb", "cc"))
      assert(balanced.map(_._6).distinct.length == 1) // jsd same on every row
      assert(balanced.head._6 < 0.01, s"balanced jsd ${balanced.head._6}")
      // an all-one-class batch drifts loudly — the retrain trigger
      val skewed = report(docs.filter($"lang" === "aa"))
      assert(skewed.head._6 > 0.2, s"skewed jsd ${skewed.head._6}")
      // zero-count classes still get a row (smoothed, never divide-by-0)
      val zeroRows = skewed.filter(r => r._1 != "aa")
      assert(zeroRows.length == 2 && zeroRows.forall(_._2 == 0L))
      assert(zeroRows.forall(_._4 > 0.0)) // smoothed batch_p stays positive
    } finally graft.CacheScope.drain()
  }

  test("bpeVocabIdsByteLevel: GPT-2 layout (bytes 0..255, merges 256+round); stored artifact round-trips; collisions keep min id") {
    // byte alphabet ids in byte order
    val m = TextOps.bpeVocabIdsByteLevel(Seq.empty)
    assert(m.size == 256 && m("00") == 0L && m("0A") == 10L && m("FF") == 255L)
    // merge products number from 256 in round order
    val m2 = TextOps.bpeVocabIdsByteLevel(Seq(("61", "62"), ("6162", "63")))
    assert(m2("6162") == 256L && m2("616263") == 257L && m2.size == 258)
    // a product colliding with an earlier entry keeps the SMALLEST id
    val m3 = TextOps.bpeVocabIdsByteLevel(
      Seq(("61", "62"), ("6162", "63"), ("61", "6263")))
    assert(m3("616263") == 257L && m3.size == 258)
    // write/load round-trips the map exactly
    val dir = java.nio.file.Files.createTempDirectory("bpe-vocab-ids").toString
    TextOps.writeBpeVocabIds(spark, m2, dir)
    assert(TextOps.loadBpeVocabIds(spark, dir) == m2)
  }

  test("wordPieceVocabIds: [UNK] = 0, stored ord order, every servable piece covered") {
    val docs = graft.Tables(spark, "/root/testdata/sf0.001").documents
      .select($"text")
    val wt = TextOps.wordPieceWordTable(docs, $"text")
    val merges = TextOps.wordPieceMerges(docs, $"text", 3)
      .orderBy($"merge_round").as[(Long, String, String, Long, Long, Long)]
      .collect().map(m => (m._2, m._3)).toSeq
    val vocab = TextOps.wordPieceVocab(wt, merges)
    val ids = TextOps.wordPieceVocabIds(vocab)
    assert(ids("[UNK]") == 0L)
    assert(vocab.zipWithIndex.forall { case (s, i) => ids(s) == i + 1L })
    assert(ids.values.toSeq.distinct.length == ids.size) // injective
    // every piece the tokenizer can emit on ANY input has an id:
    // vocabulary pieces for segmentable words, [UNK] for the rest
    val toks = TextOps.encodeWords(
        (wt.select($"w").distinct().as[String].collect().toSeq :+ "zzz@@!!")
          .toDF("w"), TextOps.Encoder.WordPiece(vocab))
      .select(explode($"toks")).as[String].collect().toSet
    assert(toks.forall(ids.contains), toks.filterNot(ids.contains).take(3))
  }

  test("wordPieceDetokenize inverts encoding; wordPieceRoundTrip: zero mismatches on covered corpus, UNK counted as mismatch") {
    import org.apache.spark.sql.functions.col
    try {
      // detokenize: first piece verbatim, ## stripped from continuations
      val dec = Seq(Seq("ab", "##c"), Seq("a", "##b", "##ab"), Seq("[UNK]"))
        .toDF("toks").select(TextOps.wordPieceDetokenize($"toks"))
        .as[String].collect().toSeq
      assert(dec == Seq("abc", "abab", "[UNK]"))
      // full-coverage corpus: every doc reports zero mismatches and the
      // original word-stream md5
      val docs = Seq((1L, "cat sat mat"), (2L, "sat cat"))
        .toDF("id", "text")
      val wt = TextOps.wordPieceWordTable(docs, $"text")
      val vocab = TextOps.wordPieceVocab(wt, Seq.empty)
      val rt = TextOps.roundTrip(TextOps.pretokenize(docs, Seq(col("id")),
          col("text"), byteLevel = false), TextOps.Encoder.WordPiece(vocab))
        .as[(Long, Long, Long, String)].collect().map(t => t._1 -> t).toMap
      val expected = docs.select($"id", md5(expr(
          """array_join(filter(split(lower(text), '\\s+'),
            |  x -> length(x) > 0), '')""".stripMargin)).as("m"))
        .as[(Long, String)].collect().toMap
      assert(rt(1L) == ((1L, 3L, 0L, expected(1L))))
      assert(rt(2L) == ((2L, 2L, 0L, expected(2L))))
      // a vocabulary that lost a word: that word counts as a mismatch
      val narrow = vocab.filterNot(s => s == "m" || s == "##m")
      val rt2 = TextOps.roundTrip(TextOps.pretokenize(docs, Seq(col("id")),
          col("text"), byteLevel = false), TextOps.Encoder.WordPiece(narrow))
        .as[(Long, Long, Long, String)].collect().map(t => t._1 -> t).toMap
      assert(rt2(1L)._3 == 1L) // "mat" → [UNK] ≠ "mat"
      assert(rt2(2L)._3 == 0L)
    } finally graft.CacheScope.drain()
  }

  test("writeWordPieceModel / loadWordPieceVocab: stored-and-applied ≡ freshly-trained") {
    val docs = graft.Tables(spark, "/root/testdata/sf0.001").documents
      .select($"text")
    val wt = TextOps.wordPieceWordTable(docs, $"text")
    val mergesDf = TextOps.wordPieceMerges(docs, $"text", 3)
    val merges = mergesDf.orderBy($"merge_round")
      .as[(Long, String, String, Long, Long, Long)].collect()
      .map(m => (m._2, m._3)).toSeq
    val dir = java.nio.file.Files.createTempDirectory("wp-model").toString
    try {
      TextOps.writeWordPieceModel(wt, mergesDf, dir)
      val stored = TextOps.loadWordPieceVocab(spark, dir)
      assert(stored == TextOps.wordPieceVocab(wt, merges))
      val fresh = TextOps.encodeWords(wt.select($"w").distinct(),
          TextOps.Encoder.WordPiece(TextOps.wordPieceVocab(wt, merges)))
        .as[(String, Seq[String])].collect().toSet
      val viaStore = TextOps.encodeWords(wt.select($"w").distinct(),
          TextOps.Encoder.WordPiece(stored))
        .as[(String, Seq[String])].collect().toSet
      assert(viaStore == fresh && fresh.nonEmpty)
      // rebuild is overwrite-idempotent
      TextOps.writeWordPieceModel(wt, mergesDf, dir)
      assert(TextOps.loadWordPieceVocab(spark, dir) == stored)
    } finally graft.CacheScope.drain()
  }

  test("knPerplexityFilter: Kneser-Ney vs an independent reimplementation") {
    def r4(x: Double) = BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    def toks(s: String) = s.toLowerCase.split("""\s+""").filter(_.nonEmpty).toSeq
    // from-scratch interpolated-KN scorer (D = 3/4): no shared code
    def expected(refs: Seq[String], target: String, maxV: Int, maxB: Int)
        : Option[(Long, Double, Double)] = {
      val refDocs = refs.map(toks).filter(_.length >= 2)
      val uni = refDocs.flatten.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val voc = uni.toSeq.sortBy { case (w, c) => (-c, w) }.take(maxV).toMap
      val big = refDocs
        .flatMap(_.sliding(2).filter(_.length == 2).map(p => (p.head, p(1))))
        .filter { case (a, b) => voc.contains(a) && voc.contains(b) }
        .groupBy(identity).view.mapValues(_.size.toLong).toSeq
        .sortBy { case ((a, b), c) => (-c, a, b) }.take(maxB).toMap
      val c1b = big.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
      val n1f = big.groupBy(_._1._1).view.mapValues(_.size.toLong).toMap
      val ncw = big.groupBy(_._1._2).view.mapValues(_.size.toLong).toMap
      val ntot = big.size.toLong; val nv = voc.size.toLong
      val ws = toks(target)
      if (ws.length < 2) None else {
        val pairs = ws.sliding(2).map(p => (p.head, p(1))).toSeq
        val grouped = pairs.groupBy(identity).view.mapValues(_.size).toSeq.sortBy(_._1)
        var s = 0.0
        grouped.foreach { case ((w1, w2), n) =>
          val pc = (ncw.getOrElse(w2, 0L) + 1).toDouble / (ntot + nv + 1).toDouble
          val p = c1b.get(w1) match {
            case Some(cb) =>
              math.max(4 * big.getOrElse((w1, w2), 0L) - 3, 0L).toDouble /
                (4 * cb).toDouble +
                (3 * n1f(w1)).toDouble / (4 * cb).toDouble * pc
            case None => pc
          }
          s += n * math.log(p)
        }
        val h = r4(-s / pairs.length)
        Some((pairs.length.toLong, h, r4(math.exp(h))))
      }
    }
    // "francisco" is frequent but welded to one context ("san"); "cat"
    // has the same unigram count spread over many predecessors
    val refs = Seq(
      "san francisco san francisco san francisco san francisco",
      "a cat the cat my cat one cat",
      "a b a b")
    val targets = Seq(10L -> "san francisco cat", 11L -> "zzz francisco",
      12L -> "zzz cat", 13L -> "x")
    val docs = (refs.zipWithIndex.map { case (t, i) => (i.toLong, t) } ++
      targets.map { case (i, t) => (i, t) }).toDF("doc_id", "text")
    for (maxV <- Seq(20, 4)) { // un-pruned, and pruned vocab
      val out = TextOps.knPerplexityFilter(docs, col("doc_id"), col("text"),
          col("doc_id") < 10, 2, maxV, 20, pplThreshold = 20.0)
        .as[(Long, Long, Double, Double, Boolean)].collect()
        .map(r => r._1 -> r).toMap
      assert(!out.contains(13L), "single-token doc must drop")
      for ((id, text) <- targets.take(3) ++ refs.zipWithIndex.map(z => (z._2.toLong, z._1))) {
        val (m, h, ppl) = expected(refs, text, maxV, 20).get
        assert(out(id) == ((id, m, h, ppl, ppl <= 20.0)),
          (maxV, id, out(id), (m, h, ppl)))
      }
      // the Francisco effect: after an OOV context both words back off to
      // their CONTINUATION probability — "francisco" (1 distinct
      // predecessor) must score strictly worse than "cat" (4 distinct
      // predecessors), even though their unigram counts are equal. Only
      // meaningful un-pruned: maxV=4 prunes cat's rarer predecessors out
      // of the bigram table, collapsing both continuation counts to 1.
      if (maxV == 20)
        assert(out(11L)._4 > out(12L)._4,
          s"continuation effect lost: ${out(11L)} vs ${out(12L)}")
    }
  }

  test("knScoreAgainstModel: the stored LM artifact serves KN identically") {
    val docs = Seq(
      (0L, "san francisco san francisco a cat the cat"), (1L, "a b a b"),
      (10L, "san francisco cat"), (11L, "zzz francisco"), (12L, "x")
    ).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("kn-model").toString
    try {
      // the SAME artifact writeLmModel emits — one stored model, two smoothings
      TextOps.writeLmModel(docs.filter($"doc_id" < 10), col("doc_id"),
        col("text"), 2, 20, 20, dir)
      val stored = TextOps.knScoreAgainstModel(docs, col("doc_id"),
          col("text"), dir, pplThreshold = 20.0)
        .as[(Long, Long, Double, Double, Boolean)].collect().toSet
      val direct = TextOps.knPerplexityFilter(docs, col("doc_id"),
          col("text"), col("doc_id") < 10, 2, 20, 20, 20.0)
        .as[(Long, Long, Double, Double, Boolean)].collect().toSet
      assert(stored == direct && stored.nonEmpty)
    } finally graft.CacheScope.drain()
  }

  test("LM order checks: an add-one read of an order-3 store and an order below 2 fail") {
    val docs = Seq((0L, "a b c a b c"), (1L, "a b c d")).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("lm3-model").toString
    try {
      TextOps.writeLmModel(docs, col("doc_id"), col("text"), 3, 10, 10, dir)
      val e = intercept[IllegalArgumentException](
        TextOps.lmScoreAgainstModel(docs, col("doc_id"), col("text"), dir,
          0.5, 5.0))
      assert(e.getMessage.contains("order-3"), e.getMessage)
      // the same store serves Kneser-Ney at the order it was written with
      assert(TextOps.knScoreAgainstModel(docs, col("doc_id"), col("text"),
        dir, 5.0).columns.contains("n_trigrams"))
      val e1 = intercept[IllegalArgumentException](
        TextOps.knPerplexityFilter(docs, col("doc_id"), col("text"),
          lit(true), 1, 10, 10, 5.0))
      assert(e1.getMessage.contains("got 1"), e1.getMessage)
    } finally graft.CacheScope.drain()
  }

  test("hashedLinearScore: exact fold against an independent reimplementation") {
    // independent scorer: same hash contract (first 7 md5 hex chars),
    // written from scratch — pins feature construction (unigrams + space-
    // joined bigrams), fold order, rounding, and the keep decision
    def h28(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(d.take(4).map(b => f"$b%02x").mkString.take(7), 16)
    }
    val dim = 32
    val weights = Array.tabulate(dim)(i => (i - 16).toDouble / 10.0)
    def r4(x: Double) = BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    def expected(text: String, bias: Double): Option[(Long, Double, Double)] = {
      val ws = text.toLowerCase.split("""\s+""").filter(_.nonEmpty)
      if (ws.isEmpty) None else {
        val bg = ws.sliding(2).filter(_.length == 2).map(_.mkString(" ")).toSeq
        var s = bias
        ws.foreach(x => s += weights((h28(x) % dim).toInt))
        bg.foreach(x => s += weights((h28(x) % dim).toInt))
        val score = r4(s)
        Some((ws.length.toLong, score, r4(1.0 / (1.0 + math.exp(-score)))))
      }
    }
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "solitary"),               // no bigram features
      (3L, "   "),                    // zero tokens → dropped
      (4L, "data data data data")
    ).toDF("doc_id", "text")
    val out = TextOps.hashedLinearScore(docs, col("doc_id"), col("text"),
        weights, bias = 0.1, threshold = 0.5)
      .as[(Long, Long, Double, Double, Boolean)].collect()
      .map(r => r._1 -> r).toMap
    assert(!out.contains(3L) && out.size == 3)
    for (id <- Seq(1L, 2L, 4L)) {
      val (n, score, prob) = expected(docs.filter($"doc_id" === id)
        .select("text").as[String].head(), 0.1).get
      assert(out(id) == ((id, n, score, prob, prob >= 0.5)), (id, out(id)))
    }
  }

  test("repetitionFilter: exact Gopher signals and the composed keep decision") {
    val docs = Seq(
      // 10× "the": ttr 0.1, top-token frac 1.0, top-bigram frac 9/9 → drop
      (1L, "the the the the the the the the the the"),
      // 8 distinct tokens: ttr 1.0, top frac 1/8, bigram 1/7 → keep
      (2L, "alpha beta gamma delta epsilon zeta eta theta"),
      // repeated bigram with diverse unigrams: "a b a b c d e f" —
      // top token 'a' 2/8 = 0.25 ok; bigram "a b" 2/7 ≈ 0.2857 > 0.25 → drop
      (3L, "a b a b c d e f"),
      // single word: bigram signal is null → treated as 0.0, kept
      (4L, "solitary")
    ).toDF("doc_id", "text")
    val out = TextOps.repetitionFilter(docs, col("doc_id"), col("text"),
        maxTopTokFrac = 0.25, maxTopBigramFrac = 0.25, minTtr = 0.5)
      .select($"id", $"n_tokens", $"n_distinct", $"ttr", $"top_tok_frac",
        $"top_bigram_count", $"top_bigram_frac", $"keep")
      .as[(Long, Long, Long, Double, Double, Long, Double, Boolean)]
      .collect().map(r => r._1 -> r).toMap
    assert(out(1L) == ((1L, 10L, 1L, 0.1, 1.0, 9L, 1.0, false)))
    assert(out(2L) == ((2L, 8L, 8L, 1.0, 0.125, 1L, 0.1429, true)))
    assert(out(3L)._7 == 0.2857 && !out(3L)._8) // bigram rule alone drops it
    assert(out(4L) == ((4L, 1L, 1L, 1.0, 1.0, 0L, 0.0, false))) // tok frac 1.0
  }

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString

  test("boilerplateRemove: drops EVERY copy per source; df rule = max(minDf, rate·nd); all-bp doc → md5 of empty") {
    // segLen = 4; a 4-token banner leads every src-a doc, so it IS the
    // first segment everywhere in that source
    val banner = "accept cookies to continue"
    val docs = Seq(
      (1L, s"$banner alpha beta gamma delta", "a"),
      (2L, s"$banner epsilon zeta eta theta", "a"),
      (3L, s"$banner iota kappa lambda mu", "a"),
      (4L, banner, "a"), // all-boilerplate document
      // same banner, different source, df 1 < minDf → NOT boilerplate here
      (5L, s"$banner nu xi omicron pi", "b"),
      // source c: banner df 2, but nd 5 ⇒ threshold max(2, 0.5·5)=2.5 —
      // the RATE side binds and the banner survives (df 2 < 2.5)
      (6L, s"$banner rho sigma tau upsilon", "c"),
      (7L, s"$banner phi chi psi omega", "c"),
      (8L, "one two three four", "c"),
      (9L, "five six seven eight", "c"),
      (10L, "nine ten eleven twelve", "c")
    ).toDF("doc_id", "text", "source")
    val out = TextOps.boilerplateRemove(docs, col("doc_id"), col("text"),
        col("source"), segLen = 4, minDf = 2, rate = 0.5)
      .as[(Long, Long, Long, String)].collect().map(r => r._1 -> r).toMap
    // src a (nd=4, threshold max(2, 2)=2; banner df=4 ≥ 2): EVERY copy
    // removed — boilerplate removal, not segment dedup (which would keep
    // doc 1's copy as the first occurrence)
    assert(out(1L) == ((1L, 2L, 1L, md5hex("alpha beta gamma delta"))))
    assert(out(2L) == ((2L, 2L, 1L, md5hex("epsilon zeta eta theta"))))
    assert(out(3L) == ((3L, 2L, 1L, md5hex("iota kappa lambda mu"))))
    // the all-boilerplate doc keeps NOTHING: md5 of the empty reassembly
    assert(out(4L) == ((4L, 1L, 1L, md5hex(""))))
    // src b: df 1 < minDf → banner kept
    assert(out(5L) == ((5L, 2L, 0L,
      md5hex("accept cookies to continue nu xi omicron pi"))))
    // src c: df 2 < rate·nd = 2.5 → banner kept (rate side of the max)
    assert(out(6L)._3 == 0L && out(7L)._3 == 0L)
    // sanity vs segmentDedup semantics: removal count across src a is 4
    // (all four copies), never nd−1
    assert(Seq(1L, 2L, 3L, 4L).map(out(_)._3).sum == 4L)
  }

  test("bpeMergesByteLevel: UTF-8 byte base alphabet; non-ASCII chars span two symbols") {
    // héllo = bytes 68 C3 A9 6C 6C 6F — the é is TWO base symbols, which
    // is the whole point of byte-level: no codepoint can be OOV
    val docs = Seq((1L, "héllo héllo héllo world"), (2L, "héllo world"))
      .toDF("id", "text")
    val m = TextOps.bpeMerges(docs, col("text"), 3,
        requireFull = true, byteLevel = true)
      .orderBy("merge_round")
      .as[(Long, String, String, Long)].collect()
    // round 1: héllo's five adjacent pairs all tie at cnt 4 (world's at
    // 2); lexicographic tiebreak on (sym_a, sym_b) picks ("68", "C3")
    assert(m(0) == ((1L, "68", "C3", 4L)))
    // round 2: the merged "68C3" sorts before "6C"/"A9"/"C3" → its pair
    // with the é's continuation byte wins next
    assert(m(1) == ((2L, "68C3", "A9", 4L)))
    assert(m.length == 3)
  }

  test("trainHashedLinear: separates a seeded good/junk fixture, loss decreases, stored ≡ fresh") {
    // 20 good docs share a benign vocabulary; 10 junk docs carry the
    // 'zzspam' marker (twice each) plus some of the same benign fillers —
    // the seeded linearly-separable target
    val good = (0L until 20L).map(i =>
      (i, s"alpha bravo charlie delta echo$i foxtrot golf hotel", 0))
    val junk = (20L until 30L).map(i =>
      (i, s"zzspam buy now zzspam cheap alpha bravo mark$i", 1))
    val docs = (good ++ junk).toDF("id", "text", "y")
    val m = TextOps.trainHashedLinear(docs, col("id"), col("text"), col("y"),
      dim = 64, iters = 12, lrNum = 1L, lrDen = 2L)
    // the fit is real: mean log-loss at least halves from the 0.693 start
    assert(m.losses.head > 0.69 && m.losses.last < m.losses.head / 2,
      s"losses ${m.losses}")
    val scored = TextOps.hashedLinearScore(docs, col("id"), col("text"),
        m.weights, m.bias, 0.5)
      .select($"id", $"prob", $"keep").as[(Long, Double, Boolean)].collect()
    val (j, g) = scored.partition(_._1 >= 20L)
    assert(j.map(_._2).min > g.map(_._2).max,
      "every junk doc must score above every good doc")
    assert(j.forall(_._3) && g.forall(!_._3),
      "threshold 0.5 must separate the fixture exactly")
    // stored-and-served ≡ freshly-served (doubles round-trip parquet)
    val dir = java.nio.file.Files.createTempDirectory("cls-model").toString
    TextOps.writeLinearModel(spark, m, dir)
    val stored = TextOps.hashedLinearScoreAgainstModel(docs, col("id"),
        col("text"), dir, 0.5)
      .select($"id", $"prob", $"keep").as[(Long, Double, Boolean)]
      .collect().sortBy(_._1).toSeq
    assert(stored == scored.sortBy(_._1).toSeq)
  }

  test("byte-level bpe_encode: symbol concat reconstructs hex(word); merges apply greedily") {
    val docs = Seq((1L, "héllo héllo héllo world"), (2L, "héllo world"))
      .toDF("id", "text")
    val merges = TextOps.bpeMerges(docs, col("text"), 3,
        requireFull = true, byteLevel = true)
      .orderBy("merge_round")
      .as[(Long, String, String, Long)].collect()
      .map(r => (r._2, r._3)).toSeq
    val out = Seq("héllo", "world").toDF("w")
      .select($"w",
        graft.functions.bpe_encode($"w", merges, byteLevel = true).as("toks"))
      .as[(String, Seq[String])].collect().toMap
    def hexOf(s: String) =
      s.getBytes("UTF-8").map(b => f"${b & 0xff}%02X").mkString
    // lossless: the token hex concatenation IS the word's UTF-8 bytes
    assert(out("héllo").mkString == hexOf("héllo"))
    assert(out("world").mkString == hexOf("world"))
    // merges (68,C3), (68C3,A9), (68C3A9,6C) applied greedily in order:
    // héllo = [68C3A96C, 6C, 6F]
    assert(out("héllo") == Seq("68C3A96C", "6C", "6F"))
  }

  test("trainHashedLinear held-out protocol: generalizes when class signal transfers") {
    // the q182 protocol on a fixture where the junk signal is shared
    // across splits (same marker + filler distribution): train on
    // id % 3 != 0, evaluate the held-out third — separation must carry
    val docs = (
      (0L until 30L).map(i =>
        (i, s"alpha bravo charlie delta echo$i foxtrot golf hotel", 0)) ++
      (30L until 45L).map(i =>
        (i, s"zzspam buy now zzspam cheap alpha bravo mark$i", 1))
    ).toDF("id", "text", "y")
    val m = TextOps.trainHashedLinear(docs.filter($"id" % 3 =!= 0),
      col("id"), col("text"), col("y"), dim = 64, iters = 12,
      lrNum = 1L, lrDen = 2L)
    val heldOut = TextOps.hashedLinearScore(docs.filter($"id" % 3 === 0),
        col("id"), col("text"), m.weights, m.bias, 0.5)
      .select($"id", $"prob", $"keep").as[(Long, Double, Boolean)].collect()
    val (j, g) = heldOut.partition(_._1 >= 30L)
    assert(j.nonEmpty && g.nonEmpty)
    assert(j.map(_._2).min > g.map(_._2).max,
      "held-out junk must score above held-out good")
    assert(j.forall(_._3) && g.forall(!_._3),
      "threshold 0.5 must separate the UNSEEN third exactly")
  }

  test("repetitionFilter: zero-token docs dropped; whitespace never counts as a token") {
    val docs = Seq(
      (1L, "   "),                // all-whitespace: zero tokens → dropped
      (2L, ""),                   // empty: dropped
      (3L, "  alpha beta gamma"), // leading whitespace: 3 tokens, not 4
      (4L, "alpha  beta\tgamma ") // interior runs + trailing: still 3
    ).toDF("doc_id", "text")
    val out = TextOps.repetitionFilter(docs, col("doc_id"), col("text"),
        maxTopTokFrac = 0.5, maxTopBigramFrac = 0.5, minTtr = 0.5)
      .select($"id", $"n_tokens", $"n_distinct")
      .as[(Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(!out.contains(1L) && !out.contains(2L),
      "docs with zero tokens must be dropped, not kept as n_tokens=1 ['']")
    assert(out(3L) == ((3L, 3L, 3L)))
    assert(out(4L) == ((4L, 3L, 3L)))
  }

  test("dsirSelect: target-like docs outrank junk; top-quota kept exactly; small corpus keeps all") {
    // target slice (ids 0, 5) speaks dense "alpha beta"; ids 1-4 echo that
    // distribution, ids 6-9 are junk vocabulary the target never emits.
    // Counts must dominate the add-one smoothing for the ratio's sign to
    // mean anything, so the fixture text is dense (the sf corpus is).
    val ab = Seq.fill(10)("alpha beta").mkString(" ")
    val zq = Seq.fill(10)("zzz qqq").mkString(" ")
    val docs = Seq(
      (0L, ab), (5L, s"$ab alpha"),
      (1L, ab), (2L, s"beta $ab"), (3L, ab), (4L, "alpha"),
      (6L, zq), (7L, s"qqq $zq"), (8L, zq), (9L, "zzz")
    ).toDF("doc_id", "text")
    val out = TextOps.dsirSelect(docs, col("doc_id"), col("text"),
        col("doc_id") % 5 === 0, dim = 256, quota = 4)
      .select($"id", $"n_feats", $"w", $"keep")
      .as[(Long, Long, Double, Boolean)].collect().map(r => r._1 -> r).toMap
    assert(out.size == 10)
    // w IS the per-feature mean log-ratio — length-free, so it separates
    // the vocabularies regardless of document length
    val tgt = Seq(0L, 1L, 2L, 3L, 4L, 5L).map(out(_)._3).min
    val jnk = Seq(6L, 7L, 8L, 9L).map(out(_)._3).max
    assert(tgt > jnk, s"target-like min mean $tgt must exceed junk max $jnk")
    assert(out.values.count(_._4) == 4, "exactly quota docs kept")
    // the kept set is target-vocabulary only
    assert(out.values.filter(_._4).map(_._1).forall(_ <= 5L),
      "no junk doc may enter the top-quota")
    // single-token doc: one unigram feature, no bigram
    assert(out(4L)._2 == 1L && out(9L)._2 == 1L)
    // quota ≥ corpus: everything keeps
    val all = TextOps.dsirSelect(docs, col("doc_id"), col("text"),
        col("doc_id") % 5 === 0, dim = 256, quota = 100)
      .select($"keep").as[Boolean].collect()
    assert(all.length == 10 && all.forall(identity))
  }

  test("bpeDetokenizeByteLevel inverts encode even when a char's bytes split across tokens") {
    // "é" is UTF-8 C3 A9: with NO merges the two bytes are two TOKENS —
    // per-token decoding would yield replacement chars; concat-before-
    // unhex restores the whole byte sequence
    val words = Seq("é", "naïve", "héllo", "abc").toDF("w")
    val rt = words.select($"w", TextOps.bpeDetokenizeByteLevel(
      graft.functions.bpe_encode($"w", Seq.empty, byteLevel = true)).as("d"))
      .as[(String, String)].collect()
    assert(rt.forall { case (w, d) => w == d }, rt.mkString(","))
    // and with a merge that joins the accented char's bytes
    val rt2 = words.select($"w", TextOps.bpeDetokenizeByteLevel(
      graft.functions.bpe_encode($"w", Seq(("C3", "A9")), byteLevel = true)).as("d"))
      .as[(String, String)].collect()
    assert(rt2.forall { case (w, d) => w == d })
  }

  test("bpeRoundTripByteLevel: zero mismatches, md5 of the position-ordered stream equals the source") {
    val docs = Seq(
      (1L, "Hello, world! Héllo again"),
      (2L, "a1b2 c3... naïve café"),
      (3L, "   ") // no pre-tokens -> no row
    ).toDF("doc_id", "text")
    val merges = TextOps.bpeMerges(docs, $"text", 4, requireFull = true,
        byteLevel = true)
      .orderBy($"merge_round")
      .collect().map(r => (r.getString(1), r.getString(2))).toSeq
    try {
      val got = TextOps.roundTrip(TextOps.pretokenize(docs, Seq($"doc_id"),
          $"text", byteLevel = true), TextOps.Encoder.Bpe(merges, byteLevel = true))
        .as[(Long, Long, Long, String)].collect()
        .map(r => r._1 -> (r._2, r._3, r._4)).toMap
      assert(got.keySet == Set(1L, 2L))
      assert(got.values.forall(_._2 == 0L), "round trip must be lossless")
      // rt_md5 equals md5 of the original pre-token concatenation
      // column API, not an expr() SQL string: the pattern's backslashes
      // must reach the regex engine verbatim
      val want = docs.filter($"doc_id" =!= 3L)
        .select($"doc_id", md5(array_join(regexp_extract_all(
          lower($"text"), lit(TextOps.byteLevelTokenPattern), lit(0)), ""))
          .as("m"))
        .as[(Long, String)].collect().toMap
      assert(got.view.mapValues(_._3).toMap == want)
    } finally graft.CacheScope.drain()
  }

  test("every encoder through the one pass: exact round trip, arrays match counts, no row without pre-tokens") {
    val docs = Seq((1L, "The cat sat; the cat ran!"), (2L, "naïve café 42 cats"),
      (3L, "   "), (4L, "")).toDF("id", "text")
    // the pre-token streams, replayed on the JVM
    def pretokens(byteLevel: Boolean): Map[Long, Seq[String]] =
      docs.as[(Long, String)].collect().map { case (id, t) =>
        val lc = t.toLowerCase
        id -> (if (byteLevel)
          java.util.regex.Pattern.compile(TextOps.byteLevelTokenPattern)
            .matcher(lc).results().toArray.toSeq
            .map(_.asInstanceOf[java.util.regex.MatchResult].group())
        else lc.split("\\s+").toSeq.filter(_.nonEmpty))
      }.filter(_._2.nonEmpty).toMap
    def md5Hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString
    try {
      val merges = TextOps.bpeMerges(docs, col("text"), 4, byteLevel = true)
        .orderBy("merge_round").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      val wt = TextOps.wordPieceWordTable(docs, col("text"))
      val wpMerges = TextOps.wordPieceMerges(docs, col("text"), 3)
        .orderBy("merge_round").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      val vocab = TextOps.wordPieceVocab(wt, wpMerges)
      val model = Unigram.trainPiecesFrom(
          Unigram.wordTable(docs, col("text"), byteLevel = true),
          seedTopK = 40, rounds = 2)
        .map(p => p.piece -> p.scoreMicro)
      val encoders = Seq(
        ("byte-level BPE", true, TextOps.Encoder.Bpe(merges, byteLevel = true)),
        ("WordPiece", false, TextOps.Encoder.WordPiece(vocab)),
        ("byte-level Unigram", true,
          TextOps.Encoder.Unigram(model, byteLevel = true)))
      for ((name, byteLevel, enc) <- encoders) {
        val want = pretokens(byteLevel)
        assert(want.keySet == Set(1L, 2L), name)
        val pre = TextOps.pretokenize(docs, Seq(col("id")), col("text"),
          byteLevel)
        val rt = TextOps.roundTrip(pre, enc)
          .as[(Long, Long, Long, String)].collect()
          .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
        assert(rt == want.view.mapValues(ws =>
          (ws.size.toLong, 0L, md5Hex(ws.mkString))).toMap, name)
        val counts = TextOps.tokenCounts(pre, enc).as[(Long, Long)].collect().toMap
        val arrays = TextOps.tokenArrays(pre, enc)
          .as[(Long, Seq[String])].collect().toMap
        // docs 3 and 4 have no pre-tokens, so no reduction gives them a row
        assert(counts.keySet == want.keySet && arrays.keySet == want.keySet, name)
        assert(arrays.view.mapValues(_.size.toLong).toMap == counts, name)
        assert(want.forall { case (id, ws) => counts(id) >= ws.size }, name)
      }
      // with an empty merge table every UTF-8 byte of a pre-token is a token
      val raw = TextOps.tokenCounts(
          TextOps.pretokenize(docs, Seq(col("id")), col("text"), byteLevel = true),
          TextOps.Encoder.Bpe(Seq.empty, byteLevel = true))
        .as[(Long, Long)].collect().toMap
      assert(raw == pretokens(byteLevel = true).view
        .mapValues(_.map(_.getBytes("UTF-8").length.toLong).sum).toMap)
      // ... while wordPieceDocCounts still reports every input doc
      val wpc = TextOps.wordPieceDocCounts(docs, col("id"), col("text"), vocab)
        .as[(Long, Long, Long)].collect().map(r => r._1 -> r).toMap
      assert(wpc(3L) == ((3L, 0L, 0L)) && wpc(4L) == ((4L, 0L, 0L)))
      assert(wpc(1L)._3 == 0L && wpc(2L)._3 == 0L) // covered corpus: no UNK
    } finally graft.CacheScope.drain()
  }

  test("perplexityPartition: exact per-group terciles, boundary docs fall into the better bucket") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    try {
      val got = TextOps.perplexityPartition(docs, col("doc_id"), col("text"),
          col("source"), col("doc_id") % 10 === 0, 500, 1000, 0.7)
        .as[(Long, String, Double, String)].collect()
      assert(got.nonEmpty)
      // independent replay: exact linear-interpolation terciles per group
      def pct(v: Seq[Double], p: Double): Double = {
        val s = v.sorted; val idx = p * (s.length - 1)
        val lo = idx.toInt; val w = idx - lo
        val r = if (lo + 1 < s.length) s(lo) * (1 - w) + s(lo + 1) * w else s(lo)
        BigDecimal(r).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      }
      got.groupBy(_._2).foreach { case (_, rows) =>
        val ppls = rows.map(_._3).toSeq
        val (b1, b2) = (pct(ppls, 1.0 / 3), pct(ppls, 2.0 / 3))
        rows.foreach { case (id, _, p, b) =>
          val want = if (p <= b1) "head" else if (p <= b2) "middle" else "tail"
          assert(b == want, s"doc $id ppl $p b1 $b1 b2 $b2: $b != $want")
        }
        // all three buckets non-empty for a real group of >= 3 docs
        if (rows.length >= 3)
          assert(rows.map(_._4).distinct.sorted.toSeq == Seq("head", "middle", "tail"))
      }
    } finally graft.CacheScope.drain()
  }

  test("unigramJsDivergence: zero for identical groups, bounded by ln 2, drift orders correctly") {
    val docs = Seq(
      ("twin1", "alpha beta gamma delta alpha beta"),
      ("twin2", "alpha beta gamma delta alpha beta"), // identical distribution
      ("near", "alpha beta gamma delta alpha zeta"),  // one token differs
      ("far", "qqq www zzz qqq www zzz")              // disjoint vocabulary
    ).toDF("src", "text")
    try {
      val jsd = TextOps.unigramJsDivergence(docs, $"text", $"src", 32)
        .as[(String, String, Double)].collect()
        .map(r => (r._1, r._2) -> r._3).toMap
      assert(jsd.size == 6)
      // identical distributions diverge by exactly 0
      assert(jsd(("twin1", "twin2")) == 0.0)
      // JSD in nats is bounded by ln 2
      assert(jsd.values.forall(v => v >= 0.0 && v <= 0.6932))
      // drift orders: near-twin < disjoint-vocab
      assert(jsd(("near", "twin1")) > 0.0)
      assert(jsd(("near", "twin1")) < jsd(("far", "twin1")))
      // symmetric by construction (only g_a < g_b emitted, but the value
      // is symmetric in (pa, pb)): recompute with groups renamed to flip
      // the pair order and the number must agree
      val flipped = TextOps.unigramJsDivergence(
          docs.withColumn("src", when($"src" === "twin1", "zz-twin1")
            .otherwise($"src")), $"text", $"src", 32)
        .as[(String, String, Double)].collect()
        .map(r => (r._1, r._2) -> r._3).toMap
      assert(flipped(("far", "zz-twin1")) == jsd(("far", "twin1")))
    } finally graft.CacheScope.drain()
  }
}