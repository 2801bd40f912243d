package graft

import org.apache.spark.sql.{Row, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Pins the round-16 q45 K-pass seam on the real sf0.01 corpus (the
  * q44/q46 protocol carried to the SimHash banded join): the union of
  * the K per-pass content-pair sets from
  * [[Pipeline.simhashContentPairPassSql]] must equal the single-shot
  * [[Pipeline.simhashContentPairSql]] set EXACTLY, and the passes must
  * be pairwise disjoint (each unordered pair's smaller rep hashes to
  * one pass). The pass filter lives in an a-side subquery so the
  * HammingJoinRewrite's join-condition pattern still matches — this
  * spec pins both the semantics and that plan shape. */
class SimhashPassSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    val s = Engine.session("local[4]").newSession()
    Engine.prepare(s, "/root/testdata/sf0.01")
    s.sql(Pipeline.simhashGroupsSql).createOrReplaceTempView("q45_g")
    s
  }

  private def rows(sql: String): Set[Row] = spark.sql(sql).collect().toSet

  test("K=3 pass union == single-shot content pairs, passes disjoint") {
    val single = rows(Pipeline.simhashContentPairSql)
    assert(single.nonEmpty, "sf0.01 must yield qualifying content pairs")
    val passes = (0 until 3).map(i =>
      rows(Pipeline.simhashContentPairPassSql(s"pmod(hash(rep), 3) = $i")))
    assert(passes.reduce(_ ++ _) === single)
    for (i <- 0 until 3; j <- i + 1 until 3)
      assert(passes(i).intersect(passes(j)).isEmpty, s"passes $i/$j overlap")
  }

  test("pass filter keeps the banded rewrite: no nested-loop or cartesian join") {
    val plan = spark.sql(Pipeline.simhashContentPairPassSql("pmod(hash(rep), 3) = 0"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"HammingJoinRewrite must still fire under the pass filter:\n$plan")
  }
}
