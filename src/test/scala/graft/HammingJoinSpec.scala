package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.BitwiseCount
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Generate, Join, LogicalPlan}
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** Specs for [[HammingJoinRewrite]]: the naive `bit_count(a ^ b) <= k`
  * join must plan as a banded equi-join (no nested loop) and return
  * exactly the nested-loop result, including duplicate-row multiplicity. */
class HammingJoinSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Engine.session("local[4]")

  private def mkTable(): Unit = {
    import spark.implicits._
    // values engineered to have near pairs at several distances, plus a
    // DUPLICATE row (id 6 == id 5's value) to pin multiplicity semantics
    Seq(
      (1L, 0x0000000000000000L), (2L, 0x0000000000000007L), // ham 3
      (3L, 0x00000000000000FFL), (4L, 0x0F0F0F0F0F0F0F0FL),
      (5L, 0x0000000000000001L), (6L, 0x0000000000000001L))
      .toDF("id", "sh").createOrReplaceTempView("hj")
  }

  private val naive =
    """SELECT a.id AS ia, b.id AS ib,
      |  cast(bit_count(a.sh ^ b.sh) AS BIGINT) AS ham
      |FROM hj a JOIN hj b ON bit_count(a.sh ^ b.sh) <= 4 AND a.id < b.id
      |ORDER BY ia, ib""".stripMargin

  test("rewrites to a banded equi-join: no nested-loop in the plan") {
    mkTable()
    val plan = spark.sql(naive).queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"naive hamming join should have been banded:\n$plan")
    assert(plan.contains("Generate"), "banded plan explodes band arrays")
  }

  test("banded result equals the nested-loop result, duplicates included") {
    mkTable()
    val got = spark.sql(naive).collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // ground truth with the rule genuinely off: the conf kill switch is the
    // one disable that also reaches a builder-injected copy (GraftExtensions
    // sessions), which clearing extraOptimizations would leave active
    spark.conf.set(HammingJoinRewrite.EnabledConf, "false")
    val exp =
      try {
        val plan = spark.sql(naive).queryExecution.executedPlan.toString
        assert(!plan.contains("Generate"), s"kill switch must yield naive plan:\n$plan")
        spark.sql(naive).collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      } finally spark.conf.set(HammingJoinRewrite.EnabledConf, "true")
    assert(got.toSeq == exp.toSeq)
    // sanity on content: (1,2) ham 3, (1,5)/(1,6) ham 1, (2,5)/(2,6) ham 2, (5,6) ham 0
    assert(got.map(t => (t._1, t._2)).toSet ==
      Set((1L, 2L), (1L, 5L), (1L, 6L), (2L, 5L), (2L, 6L), (5L, 6L)))
  }

  test("a nullable sketch with null rows: same pairs as the naive plan, non-null band values") {
    import spark.implicits._
    Seq[(Long, Option[Long])]((1L, Some(0L)), (2L, None), (3L, Some(7L)), (4L, None),
      (5L, Some(1L)), (6L, Some(0xFF00L)))
      .toDF("id", "sh").createOrReplaceTempView("hjn")
    val q =
      """SELECT a.id AS ia, b.id AS ib FROM hjn a JOIN hjn b
        |ON bit_count(a.sh ^ b.sh) <= 4 AND a.id < b.id ORDER BY ia, ib""".stripMargin
    val df = spark.sql(q)
    val bv = df.queryExecution.optimizedPlan.collect { case g: org.apache.spark.sql.catalyst.plans.logical.Generate =>
      g.generatorOutput.filter(_.name == "__l_bv") }.flatten
    assert(bv.nonEmpty && bv.forall(!_.nullable), s"__l_bv must be non-nullable: $bv")
    val got = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    spark.conf.set(HammingJoinRewrite.EnabledConf, "false")
    val exp =
      try spark.sql(q).collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      finally spark.conf.set(HammingJoinRewrite.EnabledConf, "true")
    assert(got === exp)
    assert(got.toSet === Set((1L, 3L), (1L, 5L), (3L, 5L)))
  }

  test("the residual is the banded join's own condition, with no Filter directly above it") {
    mkTable()
    val plan = spark.sql(naive).queryExecution.optimizedPlan
    def banded(p: LogicalPlan): Boolean = p match {
      case j: Join => j.collect { case g: Generate => g }
        .exists(_.generatorOutput.exists(_.name == "__l_bv"))
      case _ => false
    }
    val joins = plan.collect { case j: Join if banded(j) => j }
    assert(joins.size === 1, plan)
    assert(joins.head.condition.exists(_.exists(_.isInstanceOf[BitwiseCount])),
      s"the bit_count bound must be evaluated in the join:\n$plan")
    assert(plan.collect { case f @ Filter(_, j: Join) if banded(j) => f }.isEmpty,
      s"a Filter sits directly above the banded join:\n$plan")
  }

  test("joins with an existing equi-key are left alone") {
    mkTable()
    val q =
      """SELECT a.id FROM hj a JOIN hj b
        |ON a.sh = b.sh AND bit_count(a.sh ^ b.sh) <= 2 AND a.id < b.id""".stripMargin
    val plan = spark.sql(q).queryExecution.executedPlan.toString
    assert(!plan.contains("Generate"), s"equi-keyed join must not be banded:\n$plan")
    assert(spark.sql(q).collect().map(_.getLong(0)).toSeq == Seq(5L))
  }

  test("builder-time GraftExtensions registers functions without Engine.prepare") {
    // getOrCreate would return the shared active session (ignoring
    // withExtensions) — clear active/default to force a NEW SparkSession
    // on the same SparkContext, and restore afterwards WITHOUT close()
    // (close() would stop the JVM-wide SparkContext under every suite)
    val savedActive = SparkSession.getActiveSession
    val savedDefault = SparkSession.getDefaultSession
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
    try {
      val fresh = SparkSession.builder().master("local[2]")
        .appName("graft-ext-test")
        .config("spark.ui.enabled", "false")
        .withExtensions(new GraftExtensions)
        .getOrCreate()
      assert(savedActive.forall(_ ne fresh), "must be a NEW session")
      val r = fresh.sql(
        "SELECT greatest_ref(1, 2), gcd(12L, 18L), poly_hash('abcd')").collect()(0)
      assert(r.getInt(0) == 2 && r.getLong(1) == 6L)
      assert(r.getLong(2) == ("abcd".foldLeft(0L)((a, c) => (a * 31 + c) % 2147483647L)))
      // the one function list: every name resolves, simhash60 included
      GraftExtensions.functions.foreach { case (name, _) =>
        assert(fresh.sessionState.functionRegistry.functionExists(FunctionIdentifier(name)),
          s"$name is not registered")
      }
      assert(fresh.sql("SELECT simhash60('near dup text')").head.getLong(0) ===
        Fingerprints.simhash60(UTF8String.fromString("near dup text")))
      // prepare appends a second HammingJoinRewrite to the builder-injected
      // one; the second finds the join already equi-keyed and leaves it
      val sf = "/root/testdata/sf0.01"
      Engine.prepare(fresh, sf)
      val q45 = "q45_dedup_simhash"
      val sc = spark.sparkContext
      val before = sc.getPersistentRDDs.keySet
      val got = SparkEntry.queries(q45)(fresh, sf).collect().toSeq
      val freshBlocks = sc.getPersistentRDDs.keySet -- before
      assert(freshBlocks.nonEmpty, "q45 checkpoints its sketch groups")
      assert(SparkEntry.queries(q45)(spark, sf).collect().toSeq === got)
      // reclaim is per session: the shared session's entry run left
      // fresh's checkpoint blocks in place, and the plan below still
      // resolves fresh's q45_g view
      assert(freshBlocks.subsetOf(sc.getPersistentRDDs.keySet))
      val banded = fresh.sql(Pipeline.simhashContentPairSql).queryExecution.optimizedPlan.collect {
        case g: Generate if g.generatorOutput.exists(_.name == "__l_bv") => g
      }
      assert(banded.size === 1, s"expected one banded join, got ${banded.size}")
      // and a reclaim on fresh still frees exactly its own
      val sharedBlocks = sc.getPersistentRDDs.keySet -- before -- freshBlocks
      Engine.reclaim(fresh)
      assert((freshBlocks intersect sc.getPersistentRDDs.keySet).isEmpty)
      assert(sharedBlocks.subsetOf(sc.getPersistentRDDs.keySet))
      assert(!fresh.catalog.tableExists("q45_g"))
    } finally {
      SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
      savedDefault.foreach(SparkSession.setDefaultSession)
      savedActive.foreach(SparkSession.setActiveSession)
    }
  }
}
