package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.scalatest.funsuite.AnyFunSuite

/** Spill paths give the same answers as the in-memory paths. SURVEY §4.2
  * trusts buffer spilling to Spark's operators (the reference's external
  * sort `sorts/sort.rs:204`); these specs run each query in two sessions
  * over sf0.01, one on the defaults and one with the operator's buffer
  * thresholds lowered, and require an identical checksum while the
  * constrained run really spills (the `spillSize` SQL metric, summed over
  * the final adaptive plan and its query stages).
  *
  * Thresholds are in-memory 1024 / spill 4096 rows. Far lower ones
  * (16/64) ran the window query out of a 3 GB heap in a trial run, most
  * likely from the hundreds of spill readers merged at once. The sort-merge join's recorded run in
  * BASELINE.md §"Spill paths under memory pressure" buffered orders, one
  * row per key, so its join buffer never spilled there: the spill it
  * recorded came from the input sorts. The join here buffers thousands of
  * rows per key instead.
  *
  * The external-sort and hash-aggregate spill paths are reachable only
  * through a context-level conf (`spark.shuffle.spill.numElementsForceSpillThreshold`)
  * or real memory pressure, which a shared test context cannot set; their
  * recorded run is BASELINE.md §"Spill paths under memory pressure". */
class SpillSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {

  lazy val spark: SparkSession = Engine.session("local[4]")
  private val sf = "/root/testdata/sf0.01"

  private def session(buffer: String, constrained: Boolean): SparkSession = {
    val s = Engine.wireSession(spark.newSession())
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    if (constrained) {
      s.conf.set(s"spark.sql.$buffer.buffer.in.memory.threshold", "1024")
      s.conf.set(s"spark.sql.$buffer.buffer.spill.threshold", "4096")
    }
    Engine.registerTables(s, sf)
    s
  }

  /** (checksum, bytes spilled) of a one-row, one-column query whose plan
    * must contain the operator `op`. */
  private def run(s: SparkSession, sql: String, op: String): (Long, Long) = {
    val df = s.sql(sql)
    val sum = df.collect()(0).getLong(0)
    val plan = df.queryExecution.executedPlan
    assert(find(plan)(_.nodeName == op).isDefined, s"expected $op in:\n$plan")
    val spilled = collect(plan) { case p =>
      p.metrics.get("spillSize").fold(0L)(_.value)
    }.sum
    (sum, spilled)
  }

  private def assertSameUnderSpill(buffer: String, op: String, sql: String): Unit = {
    val (base, baseSpill) = run(session(buffer, constrained = false), sql, op)
    val (low, lowSpill) = run(session(buffer, constrained = true), sql, op)
    assert(baseSpill == 0, s"default thresholds must not spill, spilled $baseSpill bytes")
    assert(lowSpill > 0, "lowered thresholds must spill the operator buffer")
    assert(low == base, s"checksum under spill $low != in-memory $base")
  }

  test("unpartitioned row_number: same order-sensitive checksum when the window buffer spills") {
    // one window partition holds all 60k rows; rn * hash changes if any
    // row comes back out of order from the spill merge
    assertSameUnderSpill("windowExec", "Window",
      """SELECT SUM(rn * (xxhash64(l_orderkey, l_linenumber) % 1000003))
        |FROM (SELECT row_number() OVER (ORDER BY l_orderkey, l_linenumber) rn,
        |             l_orderkey, l_linenumber FROM lineitem)""".stripMargin)
  }

  test("sort-merge join: same checksum when the buffered side spills") {
    // the buffered (right) side must hold many rows per key: 8 join keys
    // over all of lineitem put ~7.5k rows behind each streamed row, past
    // the 4096-row spill threshold
    assertSameUnderSpill("sortMergeJoinExec", "SortMergeJoin",
      """SELECT /*+ MERGE(b) */
        |  SUM(xxhash64(a.l_orderkey, a.l_linenumber, b.l_orderkey, b.l_linenumber) % 1000003)
        |FROM (SELECT * FROM lineitem WHERE l_orderkey <= 8) a
        |JOIN lineitem b ON a.l_orderkey % 8 = b.l_orderkey % 8""".stripMargin)
  }
}
