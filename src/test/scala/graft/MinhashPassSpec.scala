package graft

import org.apache.spark.sql.{Row, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Pins the round-16 q44 K-pass seam on the real sf0.01 corpus — the q46
  * protocol (NgramPassSpec) carried to the MinHash-LSH candidate stage:
  *
  *  1. [[Pipeline.minhashCandSql]] with `pmod(hash(a.rep), K) = i`: the
  *     union of the K per-pass verified content-pair sets must equal the
  *     single-shot set EXACTLY and the passes must be pairwise disjoint
  *     (each unordered pair's smaller rep hashes to one pass; per-pass
  *     DISTINCT is global because a pair's ra never changes). This is
  *     what lets MinhashPassRun trade og1000's projected ~250 GB-class
  *     single-shot shuffle for K og300-sized passes with zero cross-pass
  *     dedup debt.
  *
  *  2. `spark.graft.verify.broadcast` off (the shuffled verify) must produce
  *     the same content pairs — the conf changes the PLAN past the
  *     broadcast ceiling, never the answer.
  */
class MinhashPassSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    val s = Engine.session("local[4]").newSession()
    Engine.prepare(s, "/root/testdata/sf0.01")
    s.sql(Pipeline.minhashGroupsSql).createOrReplaceTempView("q44_g")
    s.sql(Pipeline.minhashSigSql).createOrReplaceTempView("q44_sig")
    s
  }

  private def rows(sql: String): Set[Row] = spark.sql(sql).collect().toSet

  private def pairsSql(passFilter: String, broadcast: Boolean = true): String =
    s"""${Pipeline.minhashCandSql(passFilter)}
       |${Pipeline.minhashVerifySql(broadcast)}""".stripMargin

  test("K=3 pass union == single-shot verified content pairs, passes disjoint") {
    val single = rows(pairsSql(""))
    assert(single.nonEmpty, "sf0.01 must yield qualifying content pairs")
    val passes = (0 until 3).map(i => rows(pairsSql(s"pmod(hash(a.rep), 3) = $i")))
    assert(passes.reduce(_ ++ _) === single)
    for (i <- 0 until 3; j <- i + 1 until 3)
      assert(passes(i).intersect(passes(j)).isEmpty, s"passes $i/$j overlap")
  }

  test("shuffled verify (broadcast off) is answer-identical") {
    assert(rows(pairsSql("", broadcast = false)) === rows(pairsSql("")))
  }
}
