package graft.tools

import org.scalatest.funsuite.AnyFunSuite

class QuerySelectSpec extends AnyFunSuite {
  test("a query number selects exactly its own query, never a longer number") {
    assert(QuerySelect("q26") == Seq("q26_dedup_exact"))
    assert(QuerySelect(" q26_dedup_exact , q260") ==
      Seq("q26_dedup_exact", "q260_outlink_extract"))
  }

  test("an unknown query number fails, naming it") {
    val e = intercept[IllegalArgumentException](QuerySelect("q26,q999"))
    assert(e.getMessage.contains("q999"), e.getMessage)
  }
}
