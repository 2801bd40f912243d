package graft

import org.scalatest.funsuite.AnyFunSuite

/** `Bench` records a failed query as the -1 sentinel only for non-fatal
  * errors; a fatal JVM error ends the suite instead of being timed past.
  * The harness mains run the entries [[SparkEntry.select]] picks by name. */
class BenchSpec extends AnyFunSuite {
  test("a RuntimeException yields -1; an OutOfMemoryError or StackOverflowError propagates") {
    var seen = List.empty[String]
    assert(Bench.timed(e => seen ::= e.getMessage)(throw new RuntimeException("boom")) === -1.0)
    assert(seen === List("boom"))
    intercept[OutOfMemoryError](Bench.timed(e => seen ::= e.getMessage)(throw new OutOfMemoryError("oom")))
    intercept[StackOverflowError](Bench.timed(e => seen ::= e.getMessage)(throw new StackOverflowError()))
    assert(seen === List("boom"))
    assert(Bench.timed(_ => fail("no error was thrown"))(()) >= 0.0)
  }

  test("entry selection: none means all in name order, names pick exactly those, unknown names fail") {
    assert(SparkEntry.select(Nil).map(_._1) === SparkEntry.queries.keys.toSeq.sorted)
    assert(SparkEntry.select(Seq("q60_approx_aggs")).map(_._1) === Seq("q60_approx_aggs"))
    assert(SparkEntry.select(Seq("q3_join_topk", "q1_agg", "q3_join_topk")).map(_._1) === Seq("q1_agg", "q3_join_topk"))
    val e = intercept[IllegalArgumentException](SparkEntry.select(Seq("q1_agg", "nope")))
    assert(e.getMessage.contains("nope") && !e.getMessage.contains("q1_agg"))
  }
}
