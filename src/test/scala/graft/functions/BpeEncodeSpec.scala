package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.operators.TextOps

/** The native bpe_encode expression (merge table as runtime DATA) must be
  * bit-identical to the chained-`aggregate` tokenizer it replaced — the
  * chained form is the independent witness (one codegen'd fold per rule,
  * the shape the DuckDB oracle also replays) — while keeping plan depth
  * CONSTANT in |merges| so production vocabularies stay plannable.
  */
class BpeEncodeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val trickyWords = Seq(
    "aaab",      // consecutive same-symbol stacking
    "abab",      // re-application after a merge consumed the pair
    "aab",       // merged top must NOT re-merge with a following b
    "banana",    // overlapping pairs
    "x",         // single char: no pairs at all
    "ab",        // exactly one pair
    "ba",        // reversed — no match
    "naïve",     // multi-byte code points flow through the code-point split
    "儿子们"       // CJK: every symbol multi-byte
  )

  test("bpe_encode is bit-identical to the chained-aggregate fold") {
    val words = trickyWords.toDF("w")
    // rules chosen to chain: (a,b)→ab then (ab,a?) etc., plus CJK
    val merges = Seq("a" -> "b", "a" -> "a", "n" -> "a", "na" -> "na",
      "儿" -> "子")
    val native = TextOps.encodeWords(words,
      TextOps.Encoder.Bpe(merges, byteLevel = false))
      .as[(String, Seq[String])].collect().toMap
    val chained = TextOps.bpeVocabTokensChained(words, merges)
      .as[(String, Seq[String])].collect().toMap
    assert(native == chained)
    // spot-check the stack-fold semantics by hand: aab → [a, ab]? No:
    // fold: [a], then a,a with rule1 (a,b) no / after rule (a,b): a a b →
    // top a, x=a no merge; [a,a], x=b → top a matches (a,b) → [a, ab].
    assert(native("aab") == Seq("a", "ab"))
    // and the merged top does not cascade within one rule pass:
    // abab: [ab] after first pair, x=a → [ab,a], x=b → top a → [ab,ab]
    assert(native("abab") == Seq("ab", "ab"))
  }

  test("bpe_encode with the q156-style learned merges on real-ish words") {
    // end-to-end: learn merges from a small corpus, tokenize its vocab
    // through BOTH forms — identical (w, toks) sets
    val docs = Seq("the cat sat on the mat", "the bat and the cat",
      "mat bat cat hat", "on and on and on").toDF("text")
    val merges = TextOps.bpeMerges(docs, $"text", 6)
      .orderBy($"merge_round")
      .collect().map(r => (r.getString(1), r.getString(2))).toSeq
    assert(merges.nonEmpty)
    val vocab = docs
      .select(explode(split(lower($"text"), "\\s+")).as("w")).distinct()
    val native = TextOps.encodeWords(vocab,
      TextOps.Encoder.Bpe(merges, byteLevel = false))
      .as[(String, Seq[String])].collect().toMap
    val chained = TextOps.bpeVocabTokensChained(vocab, merges)
      .as[(String, Seq[String])].collect().toMap
    assert(native == chained)
  }

  test("1k-merge vocabulary plans and evaluates — the chained form could not") {
    // a production-scale merge table: 1000 rules. The chained form would
    // build a 1000-deep expression tree (analyzer + codegen death); the
    // native form is ONE node regardless — assert the plan's expression
    // tree stays shallow and the evaluation is correct for rules that do
    // fire (the long tail are no-ops on these words, as in a real vocab).
    val merges = Seq("a" -> "b", "ab" -> "c") ++
      (1 to 998).map(i => s"zz$i" -> s"qq$i")
    val words = Seq("abc", "xabcx", "zz1qq1").toDF("w")
    val out = TextOps.encodeWords(words,
      TextOps.Encoder.Bpe(merges, byteLevel = false))
    // plan depth constant: the analyzed plan prints in O(node count) —
    // a chained plan at 1k merges would be megabytes
    assert(out.queryExecution.analyzed.toString.length < 10000)
    val m = out.as[(String, Seq[String])].collect().toMap
    assert(m("abc") == Seq("abc"))
    assert(m("xabcx") == Seq("x", "abc", "x"))
    // multi-char rules never fire from a raw char split (no "zz1" symbol
    // ever forms) — the word stays at code-point granularity
    assert(m("zz1qq1") == Seq("z", "z", "1", "q", "q", "1"))
  }
}
