package graft

import org.scalatest.funsuite.AnyFunSuite

/** `Bench` records a failed query as the -1 sentinel only for non-fatal
  * errors; a fatal JVM error ends the suite instead of being timed past. */
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
}
