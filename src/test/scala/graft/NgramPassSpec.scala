package graft

import org.apache.spark.sql.{Row, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Pins the prefix-filtered n-gram join on the real sf0.01 corpus, over
  * the one px relation ([[Pipeline.ngramPxSql]]) that the q46/q66 entries
  * and [[NgramPassRun]] all materialize:
  *
  *  1. Exactness: the prefix-filtered verified content pairs equal a naive
  *     all-pairs Jaccard over the same groups view, with the same
  *     `round(..., 6) >= 0.35` answer predicate — no prefix, no length
  *     filter, no candidate join.
  *
  *  2. K-pass candidate partitioning (`pmod(hash(a.rep), K) = i`): the
  *     union of the K per-pass verified content-pair sets must equal the
  *     single-shot set EXACTLY, and the passes must be pairwise disjoint
  *     (each unordered pair's smaller rep hashes to one pass). This is
  *     what lets NgramPassRun trade one 360-405 GB og300 shuffle for K
  *     og100-sized ones with zero cross-pass dedup debt.
  *
  *  3. The `spark.graft.verify.broadcast` kill switch (ADVICE r14 #4): with the
  *     hint dropped the planner's shuffled verify must produce the same
  *     rows for q46's content pairs and for the full q44 query — the
  *     conf changes the PLAN past the broadcast ceiling, never the
  *     answer.
  */
class NgramPassSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    val s = Engine.session("local[4]").newSession()
    Engine.prepare(s, "/root/testdata/sf0.01")
    s.sql(Pipeline.ngramGroupsSpark).createOrReplaceTempView("npass_g")
    s.sql(Pipeline.ngramPxSql("npass_g")).createOrReplaceTempView("npass_px")
    s
  }

  private def rows(sql: String): Set[Row] = spark.sql(sql).collect().toSet

  private lazy val singleShot: Set[Row] =
    rows(Pipeline.ngramContentPairsSql("npass_px", "npass_g"))

  private def passSql(k: Int, i: Int): String =
    Pipeline.ngramContentPairsSql("npass_px", "npass_g",
      passWhere = s"pmod(hash(a.rep), $k) = $i")

  /** All-pairs exact Jaccard over a groups view, no prefix or length
    * filter; the union is counted independently of the verify's
    * sa + sb - ni. */
  private def naive(groupsView: String): Set[Row] = rows(
    s"""SELECT ra, rb, jacc FROM (
       |  SELECT a.rep AS ra, b.rep AS rb,
       |    round(size(array_intersect(a.grams, b.grams)) /
       |      cast(size(array_distinct(concat(a.grams, b.grams))) AS DOUBLE), 6) AS jacc
       |  FROM $groupsView a JOIN $groupsView b ON a.rep < b.rep) t
       |WHERE jacc >= ${Pipeline.JaccThreshold}""".stripMargin)

  test("prefix-filtered content pairs == naive all-pairs Jaccard") {
    val want = naive("npass_g")
    assert(want.nonEmpty, "sf0.01 must yield qualifying content pairs")
    assert(singleShot === want)
  }

  test("a qualifying subset pair at the length-filter edge is kept") {
    // A (10 grams) inside B (25): jacc 0.4 qualifies while 10 / 25 sits
    // near the length bound, and B's rare-first prefix reaches A's grams
    // only at its last two places. sf0.01 has no pair this lopsided.
    import spark.implicits._
    Seq((1L, Seq(1L), 1L to 10L), (2L, Seq(2L), 1L to 25L), (3L, Seq(3L, 4L), 100L to 130L))
      .map { case (r, ids, g) => (r, ids, g.toSeq) }
      .toDF("rep", "ids", "grams").createOrReplaceTempView("npass_edge_g")
    spark.sql(Pipeline.ngramPxSql("npass_edge_g")).createOrReplaceTempView("npass_edge_px")
    val got = rows(Pipeline.ngramContentPairsSql("npass_edge_px", "npass_edge_g"))
    assert(got === naive("npass_edge_g"))
    assert(got === Set(Row(1L, 2L, 0.4)))
  }

  test("K=3 pass union == single-shot verified content pairs, passes disjoint") {
    val single = singleShot
    assert(single.nonEmpty, "sf0.01 must yield qualifying content pairs")
    val passes = (0 until 3).map(i => rows(passSql(3, i)))
    assert(passes.reduce(_ ++ _) === single)
    for (i <- 0 until 3; j <- i + 1 until 3)
      assert(passes(i).intersect(passes(j)).isEmpty, s"passes $i/$j overlap")
  }

  test("K=1 single pass is literally the single-shot set") {
    assert(rows(passSql(1, 0)) === singleShot)
  }

  test("broadcast kill switch: q46 content pairs identical without the hint") {
    assert(rows(Pipeline.ngramContentPairsSql("npass_px", "npass_g", broadcast = false))
      === singleShot)
  }

  test("broadcast kill switch: full q44 identical under graft.verify.broadcast=false") {
    def run(): Set[Row] =
      SparkEntry.queries("q44_dedup_minhash_lsh")(spark, "/root/testdata/sf0.01")
        .collect().toSet
    val on = run()
    assert(on.nonEmpty)
    spark.conf.set(Pipeline.BroadcastVerifyConf, "false")
    try assert(run() === on)
    finally spark.conf.unset(Pipeline.BroadcastVerifyConf)
  }
}
