package graftbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{Engine, GreatestRunner, Queries, SparkEntry}

/** One benchmark run: set-up, an untimed warm-up/check pass, then closed-loop
  * timed passes with one client until `--seconds` have elapsed and at least
  * `--min-passes` passes have run. Every op is
  * driven the way `SparkEntry.queries` composes an entry call —
  * `Engine.reclaim`, `Engine.prepare`, `Entry.q` — with each step timed on
  * its own, followed by the fingerprint action. Raw samples go to `--out`
  * as JSON; `run.py` turns them into metrics and checks the answers.
  *
  * With `--trace 1` the timed passes alternate untraced and traced, so one
  * run yields both the per-layer totals and the tracing overhead. */
object Main {

  sealed trait Op { def name: String }
  final case class EntryOp(name: String, entry: Queries.Entry) extends Op
  final case class FrameOp(name: String, q: SparkSession => DataFrame, exact: Boolean = true) extends Op
  final case class RunnerOp(name: String, input: Seq[Seq[Any]]) extends Op

  /** Entries of the fixed-cost workload: cheap at sf0.01, one or more from
    * every entry module whose entries keep their files inside the checkout,
    * including the three GREATEST contract queries, the Hamming join that
    * `HammingJoinRewrite` rewrites (q45) and an EXISTS query that
    * `BroadcastSemiJoinRewrite` inspects (tq4). */
  val contractOps = Seq("q1_agg", "q13_left_join_agg", "q30_greatest",
    "q31_greatest_ref", "q32_greatest_wide", "q45_dedup_simhash",
    "q53_fingerprint", "q54_multimodal_decode", "q64_range_tvf",
    "q90_information_schema", "tq4_order_priority",
    "tq22_global_sales_opportunity", "q97_doc_chunking", "q101_passage_dedup")
  val contractGreatestOps = Seq("q30_greatest", "q31_greatest_ref", "q32_greatest_wide")

  /** Entries of the volume workload, on ten organic copies of sf0.01: a
    * forced sort-merge join, a binned range join,
    * DDL/DML writes, and a join over the bucketed `Layout`, whose write is
    * memoized and so happens in set-up. The workload's write ops are
    * [[Writes.ops]], its GREATEST ops [[GreatestVolume.ops]]. */
  val og10Ops = Seq("q89_sort_merge_join", "q96_range_join_binned", "q63_ddl_dml",
    "q91_bucketed_join")

  final case class Sample(op: String, pass: Int, traced: Boolean, status: String,
      fp: String, rows: Long, reclaim: Double, prepare: Double, build: Double,
      action: Double)

  private def arg(a: Array[String], k: String): String = {
    val i = a.indexOf(k)
    require(i >= 0 && i + 1 < a.length, s"missing $k")
    a(i + 1)
  }

  private val t0Ns = System.nanoTime()
  private val t0Ms = System.currentTimeMillis().toDouble
  private def nowMs: Double = t0Ms + (System.nanoTime() - t0Ns) / 1e6
  private def secs(fromNs: Long): Double = (System.nanoTime() - fromNs) / 1e9

  def main(a: Array[String]): Unit = {
    val workload = arg(a, "--workload")
    val seed = arg(a, "--seed").toLong
    val seconds = arg(a, "--seconds").toDouble
    val trace = arg(a, "--trace") == "1"
    val minPasses = math.max(arg(a, "--min-passes").toInt, if (trace) 3 else 1)
    val dataDir = arg(a, "--data")
    val gvDir = arg(a, "--gv")
    val volume = workload == "volume"
    val out = arg(a, "--out")
    val spansOut = arg(a, "--spans")
    val cores = Runtime.getRuntime.availableProcessors
    val byName = SparkEntry.allEntries.map(e => e.name -> e).toMap

    def session(): SparkSession = {
      val s = SparkSession.builder()
        .master(s"local[$cores]")
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.warehouse.dir", Engine.warehouseDir)
        .config("spark.local.dir", sys.props("java.io.tmpdir"))
        .getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      s
    }

    // --- set-up, once: timed from JVM start to the first timed op, less
    // the benchmark's own input generation and answer computation
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val spark = session()
    val sessionS = (nowMs - jvmStartMs) / 1e3
    val g = System.nanoTime()
    val gvExpected = if (volume) GreatestVolume.tables(spark, gvDir) else Map.empty[String, String]
    val genS = secs(g)
    val gvInput = if (volume) GreatestVolume.runnerInput(seed) else Nil
    val p = System.nanoTime()
    Engine.prepare(spark, dataDir)
    val prepareS = secs(p)
    val w = System.nanoTime()
    val gvTables = if (volume) Seq("narrow", "wide").map(t => spark.read.parquet(s"$gvDir/$t")) else Nil
    (Engine.tableNames.map(spark.table) ++ gvTables).foreach(_.count())
    val tablesS = secs(w)
    val sc = spark.sparkContext

    val writesDir = s"${sys.props("java.io.tmpdir")}/writes"
    val ops: Seq[Op] = workload match {
      case "contract" => contractOps.map(n => EntryOp(n, byName(n)))
      case "volume" =>
        og10Ops.map(n => EntryOp(n, byName(n))) ++
          Writes.ops.map(n => FrameOp(n, s => Writes.query(s, dataDir, writesDir, n), exact = false)) ++
          GreatestVolume.ops.collect { case (n, t, k, kind) if trace || !TracedOnly(n) =>
            FrameOp(n, s => GreatestVolume.query(s, s"$gvDir/$t", k, kind))
          } :+ RunnerOp(GreatestVolume.runnerOp, gvInput)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    // the ops of GreatestVolume, controls and runner included
    val gvOps = if (volume) GreatestVolume.ops.map(_._1) :+ GreatestVolume.runnerOp else Nil
    // the ops whose result rows are GREATEST evaluations (rows_per_s)
    val greatestOps =
      if (volume) GreatestVolume.ops.collect { case (n, _, _, kind) if kind != "scan" => n }
      else contractGreatestOps

    // --- expected answers computed independently inside the run
    val checks = mutable.LinkedHashMap.empty[String, String]
    val watchdog = java.util.concurrent.Executors.newSingleThreadScheduledExecutor()
    val tracer = if (trace) new Tracer else null
    val opSpans = mutable.ArrayBuffer.empty[Span]
    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    def gcMs: Long = gcBeans.map(_.getCollectionTime).sum

    def runOp(op: Op, pass: Int, idx: Int, traced: Boolean): Sample = {
      val id = s"p$pass-$idx-${op.name}"
      sc.setLocalProperty(Tracer.OpKey, id)
      sc.setJobGroup(id, op.name, interruptOnCancel = true)
      if (traced) tracer.currentOp = id
      val timedOut = new java.util.concurrent.atomic.AtomicBoolean(false)
      val timer = watchdog.schedule(new Runnable {
        def run(): Unit = { timedOut.set(true); sc.cancelJobGroup(id) }
      }, Main.OpTimeoutS, java.util.concurrent.TimeUnit.SECONDS)
      val persistedBefore = sc.getPersistentRDDs.keySet
      val compBefore = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val gcBefore = gcMs
      val rulesBefore = if (traced) Tracer.graftRules() else (0.0, 0.0, 0.0)
      val marks = mutable.ArrayBuffer(nowMs)
      def mark(): Unit = { marks += nowMs; () }
      var fp = ""
      var rows = 0L
      val status = try {
        Engine.reclaim(spark); mark()
        Engine.prepare(spark, dataDir); mark()
        op match {
          case EntryOp(_, e) =>
            val df = e.q(spark, dataDir); mark()
            val (n, f) = Fingerprint.compute(df); rows = n; fp = f
          case FrameOp(_, q, exact) =>
            val df = q(spark); mark()
            val (n, f) = Fingerprint.compute(df, exact); rows = n; fp = f
          case RunnerOp(_, input) =>
            mark()
            val res = GreatestRunner.run(spark, input)
            rows = res.size; fp = GreatestVolume.listFingerprint(res)
        }
        mark()
        "ok"
      } catch {
        case e: Throwable =>
          while (marks.size < 5) mark()
          fp = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
          if (timedOut.get) "timeout" else "error"
      } finally {
        timer.cancel(false)
      }
      val d = (1 until marks.size).map(i => (marks(i) - marks(i - 1)) / 1e3)
      if (traced) {
        org.apache.spark.graftbench.BusDrain(sc)
        val newIds = sc.getPersistentRDDs.keySet -- persistedBefore
        val info = sc.getRDDStorageInfo.filter(i => newIds(i.id))
        tracer.add(id, "ckpt.count", newIds.size)
        tracer.add(id, "ckpt.mem_bytes", info.map(i => i.memSize + i.diskSize).sum.toDouble)
        val comps = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compBefore
        tracer.add(id, "codegen.compilations", comps)
        tracer.add(id, "codegen.compile_s",
          comps * CodegenMetrics.METRIC_COMPILATION_TIME.getSnapshot.getMean / 1e3)
        tracer.add(id, "exec.gc_s", (gcMs - gcBefore) / 1e3)
        val rules = Tracer.graftRules()
        tracer.add(id, "catalyst.graft_rules_s", (rules._1 - rulesBefore._1) / 1e9)
        tracer.add(id, "catalyst.graft_rules_effective", rules._2 - rulesBefore._2)
        tracer.add(id, "catalyst.graft_rules_invocations", rules._3 - rulesBefore._3)
        tracer.add(id, "engine.reclaim_s", d(0))
        tracer.add(id, "entry.build_s", d(2))
        tracer.add(id, "op.rows_out", rows)
        val opId = tracer.newId()
        opSpans += Span(opId, 0, id, s"op ${op.name}", marks.head, marks.last)
        Seq("reclaim", "prepare", "build", "action").zipWithIndex.foreach { case (n, i) =>
          opSpans += Span(tracer.newId(), opId, id, n, marks(i), marks(i + 1))
        }
        tracer.currentOp = Tracer.NoOp
      }
      sc.clearJobGroup()
      sc.setLocalProperty(Tracer.OpKey, null)
      Sample(op.name, pass, traced, status, fp, rows, d(0), d(1), d(2), d(3))
    }

    // --- warm-up/check passes: untimed, every answer checked, part of set-up.
    // After one pass the JIT is still compiling generated code, and ops run
    // 20-30% slower than in later passes
    val w0 = System.nanoTime()
    val warm = (-WarmupPasses until 0).flatMap { p =>
      ops.zipWithIndex.map { case (op, i) => runOp(op, p, i, traced = false) }
    }
    val warmupS = secs(w0)
    val c0 = System.nanoTime()
    if (volume) {
      checks ++= gvExpected
      checks ++= Writes.expected(spark, dataDir)
      checks(GreatestVolume.runnerOp) = GreatestVolume.listFingerprint(
        (0 until gvInput.head.size).map(r => GreatestVolume.reference(gvInput.map(_(r)))))
    }
    val checksS = secs(c0)
    val setupS = (nowMs - jvmStartMs) / 1e3 - genS - checksS

    // --- timed passes
    val samples = mutable.ArrayBuffer.empty[Sample]
    val passes = mutable.ArrayBuffer.empty[(Int, Boolean, Double)]
    val start = System.nanoTime()
    var pass = 0
    while (secs(start) < seconds || pass < minPasses) {
      val traced = trace && pass % 2 == 1
      if (traced) tracer.attach(spark)
      val order = new scala.util.Random(seed * 7919 + pass).shuffle(ops.zipWithIndex)
      val p0 = System.nanoTime()
      order.foreach { case (op, i) => samples += runOp(op, pass, i, traced) }
      passes += ((pass, traced, secs(p0)))
      if (traced) tracer.detach(spark)
      pass += 1
    }
    watchdog.shutdownNow()

    val report = mutable.LinkedHashMap.empty[String, Double]
    if (trace) {
      // codegen shape of each GREATEST op's plan: the largest generated
      // method, against HotSpot's 8000-byte limit for JIT compilation
      if (volume) GreatestVolume.ops.foreach { case (n, t, k, kind) =>
        val fpDf = Fingerprint.of(GreatestVolume.query(spark, s"$gvDir/$t", k, kind), exact = true)
        fpDf.collect()
        val stats = fpDf.queryExecution.debug.codegenToSeq()
        report(s"codegen.max_method_bytes.$n") = stats.map(_._3.maxMethodCodeSize).maxOption.getOrElse(0).toDouble
        report(s"codegen.wholestage_subtrees.$n") = stats.size.toDouble
      }
      writeSpans(spansOut, tracer.spans.toSeq ++ opSpans)
    }

    val rss = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

    val json = new StringBuilder
    json ++= "{"
    json ++= s""""workload":${Json.str(workload)},"seed":$seed,"cores":$cores,"trace":$trace,"""
    json ++= s""""setup_s":$setupS,"session_s":$sessionS,"prepare_s":$prepareS,"tables_s":$tablesS,"""
    json ++= s""""gen_s":$genS,"checks_s":$checksS,"greatest_ops":[${greatestOps.map(Json.str).mkString(",")}],"""
    json ++= s""""gv_ops":[${gvOps.map(Json.str).mkString(",")}],"""
    json ++= s""""warmup_s":$warmupS,"peak_rss_mb":$rss,"""
    json ++= s""""checks":${Json.strMap(checks.toSeq)},"""
    json ++= s""""samples":[${(warm ++ samples).map(sampleJson).mkString(",")}],"""
    json ++= s""""passes":[${passes.map { case (p, t, s) => s"""{"pass":$p,"traced":$t,"s":$s}""" }.mkString(",")}],"""
    val layers = if (trace) tracer.counts.toSeq.map { case (op, m) => op -> m.toMap } else Nil
    json ++= s""""op_layers":{${layers.map { case (op, m) => s"${Json.str(op)}:${Json.obj(m)}" }.mkString(",")}},"""
    json ++= s""""report":${Json.obj(report.toMap)}"""
    json ++= "}"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), json.toString)
    spark.stop()
  }

  /** Ops that only traced runs make. `greatest_ref` over 64 columns takes
    * either ~0.5 s or 1.5-3.5 s from one execution to the next, which would
    * make every end-to-end metric bimodal, so no end-to-end figure includes
    * it; its time and its answer come from the traced runs, and untraced
    * runs spend their time on the ops they report. */
  val TracedOnly = Set("greatest_ref_64")
  val OpTimeoutS = 60L
  val WarmupPasses = 2

  private def sampleJson(s: Sample): String =
    s"""{"op":${Json.str(s.op)},"pass":${s.pass},"traced":${s.traced},"status":${Json.str(s.status)},""" +
      s""""fp":${Json.str(s.fp)},"rows":${s.rows},"reclaim":${s.reclaim},"prepare":${s.prepare},""" +
      s""""build":${s.build},"action":${s.action}}"""

  private def writeSpans(path: String, spans: Seq[Span]): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(java.nio.file.Paths.get(path))
    try spans.foreach { s =>
      w.write(s"""{"id":${s.id},"parent":${s.parent},"op":${Json.str(s.op)},"name":${Json.str(s.name)},"start_ms":${s.startMs},"end_ms":${s.endMs}}""")
      w.newLine()
    } finally w.close()
  }
}

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(m: Map[String, Double]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) => s"${str(k)}:${num(v)}" }.mkString("{", ",", "}")
  def strMap(m: Seq[(String, String)]): String =
    m.map { case (k, v) => s"${str(k)}:${str(v)}" }.mkString("{", ",", "}")
}
