package graftbench

import scala.collection.mutable

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. Spans of one op share `op`; `parent` is the id of
  * the span that caused it (0 for an op span). Times are epoch ms. */
final case class Span(id: Long, parent: Long, op: String, name: String,
    startMs: Double, endMs: Double)

/** Per-op totals of the layers below the entry call, read from Spark's
  * public listener interfaces. Everything is keyed by the op id the client
  * sets as the local property [[Tracer.OpKey]] before each call; a job
  * without it is counted under `unattributed`. */
final class Tracer extends SparkListener with QueryExecutionListener
    with AdaptiveSparkPlanHelper {

  /** Op whose calls are in flight; read by the QueryExecution callbacks,
    * which carry no local properties. Sound because the client drains the
    * bus after every op. */
  @volatile var currentOp: String = Tracer.NoOp

  val counts = mutable.Map.empty[String, mutable.Map[String, Double]]
  val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 1L
  private val jobOp = mutable.Map.empty[Int, (String, Long)] // job -> (op, start)
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stageSubmit = mutable.Map.empty[(Int, Int), Long]
  private val jobSpan = mutable.Map.empty[Int, Long]

  def newId(): Long = synchronized { val i = nextId; nextId += 1; i }

  def add(op: String, k: String, v: Double): Unit = synchronized {
    val m = counts.getOrElseUpdate(op, mutable.Map.empty)
    m(k) = m.getOrElse(k, 0.0) + v
  }
  private def max(op: String, k: String, v: Double): Unit = synchronized {
    val m = counts.getOrElseUpdate(op, mutable.Map.empty)
    m(k) = math.max(m.getOrElse(k, 0.0), v)
  }
  def span(s: Span): Unit = synchronized { spans += s; () }

  private def opOfStage(stageId: Int): String = synchronized {
    stageJob.get(stageId).flatMap(jobOp.get).map(_._1).getOrElse(Tracer.NoOp)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val op = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.OpKey)))
      .getOrElse(Tracer.NoOp)
    synchronized {
      jobOp(e.jobId) = (op, e.time)
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
      jobSpan(e.jobId) = newId()
    }
    add(op, "exec.jobs", 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val (op, start, id) = synchronized {
      val (o, s) = jobOp.getOrElse(e.jobId, (Tracer.NoOp, e.time))
      (o, s, jobSpan.getOrElse(e.jobId, newId()))
    }
    add(op, "exec.job_s", (e.time - start) / 1e3)
    span(Span(id, -1, op, s"job ${e.jobId}", start.toDouble, e.time.toDouble))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val i = e.stageInfo
    stageSubmit((i.stageId, i.attemptNumber())) = i.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val op = opOfStage(i.stageId)
    add(op, "exec.stages", 1)
    val parent = synchronized(stageJob.get(i.stageId).flatMap(jobSpan.get).getOrElse(0L))
    for (s <- i.submissionTime; c <- i.completionTime)
      span(Span(newId(), parent, op, s"stage ${i.stageId}", s.toDouble, c.toDouble))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val op = opOfStage(e.stageId)
    add(op, "exec.tasks", 1)
    if (e.reason != Success) add(op, "exec.task_failures", 1)
    val submit = synchronized(stageSubmit.get((e.stageId, e.stageAttemptId)))
    submit.foreach(s => add(op, "exec.task_wait_s", math.max(0L, e.taskInfo.launchTime - s) / 1e3))
    val m = e.taskMetrics
    if (m != null) {
      add(op, "exec.task_run_s", m.executorRunTime / 1e3)
      add(op, "exec.task_cpu_s", m.executorCpuTime / 1e9)
      add(op, "shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      add(op, "shuffle.read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      add(op, "shuffle.fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
      add(op, "spill.disk_bytes", m.diskBytesSpilled.toDouble)
      add(op, "spill.memory_bytes", m.memoryBytesSpilled.toDouble)
      max(op, "exec.peak_exec_mem_bytes", m.peakExecutionMemory.toDouble)
      add(op, "scan.input_bytes", m.inputMetrics.bytesRead.toDouble)
      add(op, "scan.input_rows", m.inputMetrics.recordsRead.toDouble)
      add(op, "write.output_bytes", m.outputMetrics.bytesWritten.toDouble)
      add(op, "write.output_rows", m.outputMetrics.recordsWritten.toDouble)
    }
  }

  private def record(qe: QueryExecution): Unit = {
    val op = currentOp
    add(op, "entry.statements", 1)
    val phases = qe.tracker.phases
    for ((phase, key) <- Seq("analysis" -> "catalyst.analysis_s",
        "optimization" -> "catalyst.optimization_s", "planning" -> "catalyst.planning_s");
        p <- phases.get(phase)) {
      add(op, key, p.durationMs / 1e3)
      span(Span(newId(), -1, op, s"catalyst.$phase", p.startTimeMs.toDouble, p.endTimeMs.toDouble))
    }
    val plan = qe.executedPlan
    add(op, "plan.exchanges",
      collectWithSubqueries(plan) { case e: ShuffleExchangeLike => e }.size.toDouble)
    collectWithSubqueries(plan) { case b: BroadcastExchangeLike => b }.foreach { b =>
      b.metrics.get("dataSize").foreach(m => add(op, "broadcast.bytes", m.value.toDouble))
    }
    collectWithSubqueries(plan) { case w: DataWritingCommandExec => w }.foreach { w =>
      w.cmd.metrics.get("numFiles").foreach(m => add(op, "write.files", m.value.toDouble))
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def detach(spark: SparkSession): Unit = {
    org.apache.spark.graftbench.BusDrain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }
}

object Tracer {
  val OpKey = "graftbench.op"
  val NoOp = "unattributed"

  private val RuleLine = """^(\S+)\s+(\d+) / (\d+)\s+(\d+) / (\d+)""".r.unanchored

  /** Totals of the graft optimizer rules so far: (time ns, effective runs,
    * runs), parsed from Catalyst's public rule-metering dump. */
  def graftRules(): (Double, Double, Double) = {
    var t, eff, runs = 0.0
    org.apache.spark.sql.catalyst.rules.RuleExecutor.dumpTimeSpent().linesIterator.foreach {
      case RuleLine(name, _, total, e, r) if name.startsWith("graft.") =>
        t += total.toDouble; eff += e.toDouble; runs += r.toDouble
      case _ =>
    }
    (t, eff, runs)
  }
}
