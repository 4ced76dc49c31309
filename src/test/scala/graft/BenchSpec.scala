package graft

import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {

  test("a query that throws lands in failed and adds nothing to total") {
    var cleanups = 0
    val (times, failed) = Bench.timeQueries(Seq(
      "q_ok" -> (() => ()),
      "q_throws" -> (() => throw new IllegalStateException("boom")))) { () =>
      cleanups += 1
    }
    assert(failed == Seq("q_throws"))
    assert(times.map(_._1) == Seq("q_ok"))
    // the total is the sum over the timed rows only
    assert(times.map(_._2).sum == times.head._2 && times.head._2 < 1.0)
    // every pass of both queries cleaned up after itself
    assert(cleanups == 6)
  }
}
