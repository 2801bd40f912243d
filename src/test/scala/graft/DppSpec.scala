package graft

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.DynamicPruningExpression
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.scalatest.funsuite.AnyFunSuite

/** Dynamic partition pruning reaches graft's file scans and never changes
  * an answer. A copy of sf0.01 lineitem is written under [[Engine.tmpDir]]
  * partitioned on a derived key of 50 values and joined to a dim filtered
  * down to two rows: the executed fact scan must carry a
  * `DynamicPruningExpression` and read only the two matching partitions,
  * and the rows must equal a run with DPP turned off (which reads all 50). */
class DppSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {

  lazy val spark: SparkSession = Engine.session("local[4]")
  private val Parts = 50
  private val DppConf = "spark.sql.optimizer.dynamicPartitionPruning.enabled"

  private lazy val dir: String = {
    val s = Engine.wireSession(spark.newSession())
    Engine.registerTables(s, "/root/testdata/sf0.01")
    val d = s"${Engine.tmpDir}/dpp_spec"
    s.sql(s"""SELECT l_orderkey, l_linenumber, l_quantity,
             |  cast(pmod(l_partkey, $Parts) AS INT) AS pk FROM lineitem""".stripMargin)
      .write.mode("overwrite").partitionBy("pk").parquet(s"$d/fact")
    s.range(Parts).selectExpr("cast(id AS INT) AS pk", "concat('k', id) AS name")
      .write.mode("overwrite").parquet(s"$d/dim")
    d
  }

  /** (rows, fact scan) of the join in a session with DPP on or off. */
  private def run(dpp: Boolean): (Seq[Row], FileSourceScanExec) = {
    val s = Engine.wireSession(spark.newSession())
    s.conf.set(DppConf, dpp.toString)
    s.read.parquet(s"$dir/fact").createOrReplaceTempView("fact")
    s.read.parquet(s"$dir/dim").createOrReplaceTempView("dim")
    val df = s.sql(
      """SELECT f.pk, count(*) AS n, sum(f.l_quantity) AS q,
        |  sum(xxhash64(f.l_orderkey, f.l_linenumber) % 1000003) AS h
        |FROM fact f JOIN dim d ON f.pk = d.pk
        |WHERE d.name IN ('k3', 'k41')
        |GROUP BY f.pk ORDER BY f.pk""".stripMargin)
    val rows = df.collect().toSeq
    val scans = collect(df.queryExecution.executedPlan) {
      case f: FileSourceScanExec if f.relation.partitionSchema.nonEmpty => f
    }
    assert(scans.size == 1, s"expected one fact scan in:\n${df.queryExecution.executedPlan}")
    (rows, scans.head)
  }

  private def pruned(scan: FileSourceScanExec): Boolean =
    scan.partitionFilters.exists(_.exists(_.isInstanceOf[DynamicPruningExpression]))

  private def partitionsRead(scan: FileSourceScanExec): Long =
    scan.metrics("numPartitions").value

  test("a filtered two-row dim prunes the partitioned fact scan at run time") {
    val (rows, scan) = run(dpp = true)
    assert(pruned(scan), s"no DynamicPruningExpression on the fact scan:\n$scan")
    assert(partitionsRead(scan) == 2, s"read ${partitionsRead(scan)} of $Parts partitions")
    assert(rows.map(_.getInt(0)) == Seq(3, 41))
  }

  test("DPP never changes the rows: same answer with the optimizer rule off") {
    val (on, _) = run(dpp = true)
    val (off, scan) = run(dpp = false)
    assert(!pruned(scan))
    assert(partitionsRead(scan) == Parts)
    assert(on == off)
  }
}
