package graft

import org.scalatest.funsuite.AnyFunSuite

/** `SparkEntry.select` resolves the query subset that Bench, Verify and
  * ExplainDump take. A name that is not registered must fail the run,
  * not shrink it: a mistyped re-check that writes nothing would
  * otherwise look like a pass. */
class QuerySubsetSpec extends AnyFunSuite {

  test("a known subset resolves to exactly those queries, sorted") {
    val got = SparkEntry.select(Some("q_tpch3, q_tpch1,q_tpch3"))
    assert(got.map(_._1) == Seq("q_tpch1", "q_tpch3"))
    assert(got.forall { case (n, fn) => fn eq SparkEntry.queries(n) })
  }

  test("an unknown name throws and the message names every unknown one") {
    val e = intercept[IllegalArgumentException](
      SparkEntry.select(Some("q_tpch1,q_tpch_typo,q_nope")))
    assert(e.getMessage.contains("q_tpch_typo"))
    assert(e.getMessage.contains("q_nope"))
    assert(!e.getMessage.contains("q_tpch1"))
    intercept[IllegalArgumentException](SparkEntry.select(Some(" , ")))
  }

  test("no subset resolves to all 280 registered queries") {
    val got = SparkEntry.select(None)
    assert(got.size == 280)
    assert(got.map(_._1) == SparkEntry.queries.keys.toSeq.sorted)
  }
}
