package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.scalatest.funsuite.AnyFunSuite

/** Guards on the driver contract itself: the correctness gate only checks
  * queries that DECLARE an oracle, so a typo'd registry key or a forgotten
  * oracle entry would silently weaken the gate rather than fail it.
  */
class SparkEntryContractSpec extends AnyFunSuite {

  test("every gated query has an oracle — the rows-only set is empty") {
    // q45 was the last rows-only row; since round 8 it gates its sketches
    // via their error-bound guarantees (q121/q147 pattern), so EVERY
    // registered query now has a full hash-match oracle.
    val missing = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(missing.isEmpty,
      s"queries without an oracle (add SQL or document rows-only): $missing")
  }

  test("no orphan oracles (oracle keys must name registered queries)") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracles with no query: $orphans")
  }

  test("query keys follow the qNN_name convention and are unique per number") {
    val keys = SparkEntry.queries.keySet.filter(_.startsWith("q"))
    val nums = keys.toSeq.map(_.takeWhile(_ != '_'))
    assert(nums.distinct.size == nums.size,
      s"duplicate query numbers: ${nums.diff(nums.distinct)}")
    assert(keys.forall(_.matches("q\\d{2,3}_[a-z0-9_]+")), keys.toSeq.sorted.mkString(","))
  }

  test("every oracle string matches its digest in oracle_sql.sha256") {
    // The table pins each `oracleSql` value byte for byte (one
    // `<sha256>  <key>` line per key, sorted by key). A change that only
    // reorganizes how oracle strings are built must leave it as it is; a
    // change that edits an oracle updates the table in the same commit
    // (on a mismatch the current table is written to target/).
    // An init-order `0` or `null` interpolated into a string shows here.
    val src = scala.io.Source.fromResource("oracle_sql.sha256")
    val pinned =
      try src.getLines().filter(_.nonEmpty).map { l =>
        val Array(sha, key) = l.split("  ", 2); key -> sha
      }.toMap
      finally src.close()
    def sha256(s: String) =
      MessageDigest.getInstance("SHA-256").digest(s.getBytes(UTF_8))
        .map(b => f"${b & 0xff}%02x").mkString
    val actual = SparkEntry.oracleSql.map { case (k, v) => k -> sha256(v) }
    if (actual != pinned) { // the table to commit when the edit is meant
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get("target/oracle_sql.sha256"),
        actual.toSeq.sorted.map { case (k, h) => s"$h  $k\n" }.mkString)
    }
    assert(actual.keySet == pinned.keySet,
      s"missing: ${(pinned.keySet -- actual.keySet).toSeq.sorted}; " +
        s"new: ${(actual.keySet -- pinned.keySet).toSeq.sorted}")
    val changed = actual.keys.filter(k => actual(k) != pinned(k)).toSeq.sorted
    assert(changed.isEmpty, s"oracle text changed: $changed")
  }
}
