package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.scalatest.funsuite.AnyFunSuite

/** The external sort and the hash aggregate's spill-merge give the same
  * answers when they spill. Both are reachable only through a
  * context-level conf, `spark.shuffle.spill.numElementsForceSpillThreshold`,
  * which a shared test context cannot set, so one child JVM (the test
  * JVM's classpath) runs both queries over sf0.001 with it, and this JVM
  * runs them on the defaults. Each case asserts that the child's operator
  * spilled (`spillSize` > 0) and that its checksum equals the in-memory one.
  *
  * The threshold alone leaves the aggregate in memory: it reaches its
  * sorter only when its hash map cannot grow. So the child also sets
  * Spark's `spark.sql.TungstenAggregate.testFallbackStartsAt`, and the map
  * spills into the sorter every 1000 rows, as it would under real memory
  * pressure (BASELINE.md §"Spill paths under memory pressure" has that
  * run); the aggregate then merges the sorted runs. */
class ContextSpillSpec extends AnyFunSuite {
  import ContextSpillSpec._

  /** case name -> (checksum, bytes spilled) from the one child run. */
  private lazy val constrained: Map[String, (Long, Long)] = {
    val opens = java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments
      .toArray(Array.empty[String]).filter(_.startsWith("--add-opens="))
    val cmd = Seq(s"${sys.props("java.home")}/bin/java", "-Xmx1g") ++ opens ++
      Seq("-cp", sys.props("java.class.path"), "graft.ContextSpillSpec")
    val out = new StringBuilder
    val code = scala.sys.process.Process(cmd).!(scala.sys.process.ProcessLogger(
      line => out.append(line).append('\n'), _ => ()))
    assert(code == 0, s"child JVM exited $code:\n$out")
    out.result().linesIterator.collect { case Line(name, sum, spill) =>
      name -> (sum.toLong, spill.toLong)
    }.toMap
  }

  private lazy val spark: SparkSession = {
    val s = Engine.wireSession(Engine.session("local[4]").newSession())
    Engine.registerTables(s, Sf)
    s
  }

  for ((name, op, sql) <- Cases) test(s"$name: same checksum when the forced threshold spills it") {
    val (base, baseSpill) = checksum(spark, sql, op)
    assert(baseSpill == 0, s"the default context must not spill, spilled $baseSpill bytes")
    val (low, lowSpill) = constrained.getOrElse(name.replace(' ', '_'), fail(s"no child line for $name"))
    assert(lowSpill > 0, s"the child's $op must spill")
    assert(low == base, s"checksum under spill $low != in-memory $base")
  }
}

object ContextSpillSpec extends AdaptiveSparkPlanHelper {
  val Sf = "/root/testdata/sf0.001"
  private val Line = """SPILL (\S+) (-?\d+) (\d+)""".r

  /** (name, operator that must spill, one-row one-column query). */
  val Cases: Seq[(String, String, String)] = Seq(
    // one sort over all 6000 rows; rn * hash changes if any row comes
    // back out of order from the merged spill files
    ("external sort", "Sort",
      """SELECT SUM(rn * (xxhash64(l_orderkey, l_linenumber) % 1000003))
        |FROM (SELECT row_number() OVER (ORDER BY l_orderkey, l_linenumber) rn,
        |             l_orderkey, l_linenumber FROM lineitem)""".stripMargin),
    // 6000 groups, one per row
    ("hash aggregate spill-merge", "HashAggregate",
      """SELECT SUM(xxhash64(l_orderkey, l_linenumber, n, q) % 1000003)
        |FROM (SELECT l_orderkey, l_linenumber, COUNT(*) n, SUM(l_quantity) q
        |      FROM lineitem GROUP BY l_orderkey, l_linenumber)""".stripMargin))

  /** (checksum, bytes spilled by the `op` nodes) of `sql` on `s`. */
  def checksum(s: SparkSession, sql: String, op: String): (Long, Long) = {
    val df = s.sql(sql)
    val sum = df.collect()(0).getLong(0)
    val plan = df.queryExecution.executedPlan
    val ops = collect(plan) { case p if p.nodeName == op => p }
    require(ops.nonEmpty, s"expected $op in:\n$plan")
    (sum, ops.map(_.metrics.get("spillSize").fold(0L)(_.value)).sum)
  }

  /** The child: both cases under the forced spill threshold. */
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false")
      .config("spark.shuffle.spill.numElementsForceSpillThreshold", "500")
      .config("spark.sql.TungstenAggregate.testFallbackStartsAt", "1000,1000")
      .config("spark.sql.warehouse.dir", Engine.warehouseDir)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Engine.registerTables(spark, Sf)
    for ((name, op, sql) <- Cases) {
      val (sum, spill) = checksum(spark, sql, op)
      println(s"SPILL ${name.replace(' ', '_')} $sum $spill")
    }
    spark.stop()
  }
}
