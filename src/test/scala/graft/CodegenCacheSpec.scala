package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.scalatest.funsuite.AnyFunSuite

/** Spark's generated-class cache is sized for graft's workload
  * ([[Engine.codegenCacheEntries]]): a second round of more distinct
  * classes than Spark's default 100 entries compiles nothing. */
class CodegenCacheSpec extends AnyFunSuite {

  lazy val spark = Engine.session("local[4]")

  test("an Engine session carries graft's generated-class cache size") {
    assert(spark.conf.get(Engine.codegenCacheConf) == Engine.codegenCacheEntries.toString)
  }

  test("a second round over more than 100 distinct classes compiles none") {
    // a long literal is inlined into the generated source, so each k is
    // its own whole-stage class
    def round(): Long = {
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      (1 to 150).foreach { k =>
        val got = spark.range(4).selectExpr(s"id * $k + $k").collect().map(_.getLong(0))
        assert(got.toSeq == (0L until 4L).map(i => i * k + k))
      }
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
    }
    val first = round()
    assert(first > 100, s"the first round compiled only $first classes")
    val second = round()
    assert(second == 0, s"the second round recompiled $second of the first round's $first classes")
  }
}
