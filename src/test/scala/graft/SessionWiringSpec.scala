package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.scalatest.funsuite.AnyFunSuite

/** One wiring for every session: a session graft did not build (a bare
  * `newSession()`, as the driver's or perfbench's would be) gets from
  * [[Engine.prepare]] exactly what [[Engine.session]] gives its own — the
  * same functions, the same two optimizer rules in the same batch and
  * order — so q45's banded content-pair join plans the same in both. */
class SessionWiringSpec extends AnyFunSuite {
  private val sf = "/root/testdata/sf0.01"
  lazy val built: SparkSession = Engine.prepare(Engine.session("local[4]"), sf)
  lazy val foreign: SparkSession = Engine.prepare(built.newSession(), sf)

  private def graftFunctions(s: SparkSession): Set[String] =
    s.sessionState.functionRegistry.listFunction().map(_.funcName).toSet --
      FunctionRegistry.builtin.listFunction().map(_.funcName)

  test("a prepared newSession has Engine.session's rules, once each and in order, and its functions") {
    for (s <- Seq(built, foreign))
      assert(s.sessionState.experimentalMethods.extraOptimizations ===
        Seq(HammingJoinRewrite, BroadcastSemiJoinRewrite))
    assert(GraftExtensions.functions.map(_._1).toSet + "weighted_median" subsetOf graftFunctions(built))
    assert(graftFunctions(foreign) === graftFunctions(built))
    Engine.wireSession(foreign)
    assert(foreign.sessionState.experimentalMethods.extraOptimizations.size === 2,
      "wiring twice must not append a rule twice")
  }

  test("q45's content-pair statement has the same executed plan in both sessions") {
    def plan(s: SparkSession): String = {
      SparkEntry.queries("q45_dedup_simhash")(s, sf) // materializes the q45_g view
      s.sql(Pipeline.simhashContentPairSql).queryExecution.executedPlan.toString
        .replaceAll("#\\d+", "#").replaceAll("plan_id=\\d+", "plan_id=")
    }
    val p = plan(built)
    assert(p.contains("Generate"), s"the content-pair join must be banded:\n$p")
    assert(plan(foreign) === p)
  }
}
