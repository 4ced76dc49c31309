package perfbench

import org.apache.spark.sql.Row

/** Self-checks of the op loop's failure accounting and of the result
  * digest, without Spark; perfbench/tests/test_harness.py runs it.
  */
object SelfTest {
  private def expect(cond: Boolean, what: String): Unit =
    if (!cond) throw new AssertionError(what)

  def main(args: Array[String]): Unit = {
    var t = 0.0
    val clock = () => { t += 1.0; t }
    val ops = Seq(
      Op("q", "ok", () => "a", _ => "a"),
      Op("q", "throws", () => throw new IllegalStateException("boom"), _ => "x"),
      Op("q", "wrong", () => "b", _ => "b"),
      Op("q", "bad_digest", () => "c", _ => throw new IllegalStateException("no digest")))
    val ran = Loop.run(0, ops, clock)
    expect(ran.forall(_._1.digest.isEmpty), "digests are not taken inside the op loop")
    val rs = Loop.check(Loop.digest(ops, ran), r => Some(if (r.name == "throws") "x" else "a"))
    expect(rs.map(_.name) == Seq("ok", "throws", "wrong", "bad_digest"),
      "every op is attempted, in order")
    expect(rs(0).ok && rs(0).durS.contains(1.0), "a passing op keeps its timing sample")
    expect(!rs(1).ok && rs(1).durS.isEmpty && rs(1).error.exists(_.contains("boom")),
      "a throwing op is a failure without a timing sample")
    expect(!rs(2).ok && rs(2).durS.isEmpty && rs(2).error.exists(_.contains("differs")),
      "an op whose output fails its check is a failure without a timing sample")
    expect(!rs(3).ok && rs(3).durS.isEmpty && rs(3).error.exists(_.contains("no digest")),
      "an op whose digest throws is a failure without a timing sample")
    expect(Loop.check(rs.take(1), _ => None).forall(r => !r.ok && r.durS.isEmpty),
      "an op with no reference output is a failure")

    val rows = Array(Row(1L, "a", 0.5), Row(2L, "b", null))
    expect(Loop.digestRows(rows) == Loop.digestRows(rows.reverse), "digest ignores row order")
    expect(Loop.digestRows(rows) != Loop.digestRows(Array(Row(1L, "a", 0.5), Row(2L, "b", 0.0))),
      "digest sees every column")
    println("SelfTest ok")
  }
}
