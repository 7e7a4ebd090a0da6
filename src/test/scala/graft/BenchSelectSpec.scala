package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins Bench's query selection: no arguments runs every registered query in name
  * order; named arguments run exactly those; an unknown name is rejected up front, with
  * the name in the message, before Bench builds a session. */
class BenchSelectSpec extends AnyFunSuite {
  test("no args selects every registered query, sorted") {
    val all = Bench.selectQueries(Nil)
    assert(all == SparkEntry.queries.keys.toSeq.sorted)
    assert(all.size == SparkEntry.queries.size)
  }

  test("named args select exactly those queries, in the order given") {
    assert(Bench.selectQueries(Seq("q1_pricing", "cdc_apply_merge")) ==
      Seq("q1_pricing", "cdc_apply_merge"))
    assert(Bench.selectQueries(Seq("cdc_apply_merge")) == Seq("cdc_apply_merge"))
  }

  test("an unknown name fails before any run and the message names it") {
    val e = intercept[IllegalArgumentException] {
      Bench.selectQueries(Seq("q1_pricing", "no_such_query"))
    }
    assert(e.getMessage.contains("no_such_query"))
    assert(!e.getMessage.contains("q1_pricing"))
    val e2 = intercept[IllegalArgumentException] {
      Bench.main(Array("no_such_query", "also_missing"))
    }
    assert(e2.getMessage.contains("no_such_query") && e2.getMessage.contains("also_missing"))
  }
}
