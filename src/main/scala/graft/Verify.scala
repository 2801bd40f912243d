package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** Opt-in run metrics (round 16, VERDICT r15 #2): SPARK_GRAFT_METRICS=1
    * accumulates TaskMetrics shuffle write/read + disk spill across the
    * run and prints exact totals after the SparkContext stops (the bus is
    * flushed by stop, so totals are exact; the per-query lines printed
    * mid-run are best-effort snapshots of an async bus). The broadcast
    * vs shuffled verify A/B cites the post-stop totals of single-query
    * runs — byte numbers a loaded box cannot distort, unlike wall time. */
  private val shufW = new java.util.concurrent.atomic.AtomicLong(0)
  private val shufR = new java.util.concurrent.atomic.AtomicLong(0)
  private val spill = new java.util.concurrent.atomic.AtomicLong(0)
  private final class MetricsListener
      extends org.apache.spark.scheduler.SparkListener {
    override def onTaskEnd(
        t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
      val m = t.taskMetrics
      if (m != null) {
        shufW.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        shufR.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        spill.addAndGet(m.diskBytesSpilled)
      }
    }
  }
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    val only = args.drop(2).toSet // optional query-name filter (local iteration)
    // Scale-sweep exclusions (e.g. q96 at x100: its 2.2 GB full dump is
    // discarded by tools/scale_sweep.py's own protocol — the check runs as
    // a derived count via graft.CountPeek instead, so dumping it only
    // burns disk; the round-9 ENOSPC that killed q46/q66 traces to it).
    // On a clone corpus the q96 skip is AUTOMATIC (detection mirrors
    // scale_sweep.py's STRIDE guard) — the env-only form was forgotten
    // once per round with a multi-GB price each time. Set
    // SPARK_GRAFT_VERIFY_EXCLUDE explicitly to override either way
    // ("none" = dump everything, even on a clone corpus).
    val envExclude = sys.env.get("SPARK_GRAFT_VERIFY_EXCLUDE")
    val exclude: Set[String] = envExclude match {
      case Some("none") => Set.empty
      case Some(s) => s.split(",").map(_.trim).filter(_.nonEmpty).toSet
      case None => Set.empty
    }
    val spark = Engine.session()
    val metricsOn = sys.env.get("SPARK_GRAFT_METRICS").contains("1")
    if (metricsOn) spark.sparkContext.addSparkListener(new MetricsListener)
    // auto q96-skip on clone corpora. Detection (ADVICE r10: the bare
    // max-doc_id >= STRIDE check also matches a legitimately large organic
    // corpus) now requires the full scale_up.py signature: every cloned
    // copy shifts keys by c*STRIDE and copies the WHOLE table, so a clone
    // corpus has >= 2 stride-aligned doc_id bands with IDENTICAL row
    // counts — an organic corpus spanning 10M+ ids essentially never does.
    // Explicit SPARK_GRAFT_VERIFY_EXCLUDE disables auto-detection.
    val autoExclude: Set[String] =
      if (envExclude.isDefined) Set.empty
      else try {
        val bandCounts = spark.read.parquet(s"$sfDir/documents.parquet")
          .selectExpr("doc_id div 10000000 AS band")
          .groupBy("band").count().collect().map(_.getLong(1))
        if (bandCounts.length >= 2 && bandCounts.distinct.length == 1) {
          System.err.println("[verify] clone corpus detected (>= 2 stride-aligned " +
            "doc_id bands with identical counts): skipping q96_range_join_binned's " +
            "full dump (checked by derived count per tools/scale_sweep.py; " +
            "SPARK_GRAFT_VERIFY_EXCLUDE=none overrides)")
          Set("q96_range_join_binned")
        } else Set.empty
      } catch { case _: Exception => Set.empty }
    val excluded = exclude ++ autoExclude
    new java.io.File(outDir).mkdirs()
    // Disk-budget guard (VERDICT r9 #7): round 9 lost its headline x100
    // artifact to mid-dump ENOSPC that surfaced only as task deaths. Fail
    // fast BEFORE a dump when free space on the output device drops below
    // the floor, with the remedy named. Floor default 4 GiB ≈ 2× the
    // largest observed per-query dump at x100 (q44, ~1.9 GB before the
    // q96 exclusion existed); override with SPARK_GRAFT_MIN_FREE_GB.
    val minFreeBytes =
      sys.env.getOrElse("SPARK_GRAFT_MIN_FREE_GB", "4").toDouble * (1L << 30)
    def diskGuard(name: String): Unit = {
      val free = new java.io.File(outDir).getUsableSpace
      if (free < minFreeBytes) {
        System.err.println(
          f"[verify] ABORT before $name: ${free / 1e9}%.1f GB free on the " +
          f"output device < ${minFreeBytes / 1e9}%.1f GB floor. Remedy: free " +
          "space (e.g. delete a regenerable /root/scale corpus — " +
          "tools/scale_up.py rebuilds one in minutes — or a stale dump dir), " +
          "or lower SPARK_GRAFT_MIN_FREE_GB if the projection is known-small. " +
          "Aborting the whole run so a partial dump can't read as complete.")
        spark.stop()
        sys.exit(3)
      }
    }
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => (only.isEmpty || only(name)) && !excluded(name) }
      .foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      diskGuard(name)
      try {
        // coalesce(1) keeps the driver-protocol single-file layout; at
        // ×1000 a 95M-row result through one write task is the bottleneck,
        // so the scale sweeps set SPARK_GRAFT_DUMP_COALESCE=0 and let
        // hash_check glob the multi-file directory.
        // snapshot BEFORE fn: the builders materialize graftCkpt() stages
        // inside fn, and those shuffles belong to the query's cost
        val (w0, r0, s0) = (shufW.get, shufR.get, spill.get)
        val df0 = fn(spark, sfDir)
        val df = if (sys.env.get("SPARK_GRAFT_DUMP_COALESCE").contains("0")) df0
                 else df0.coalesce(1)
        df.write.mode("overwrite").parquet(s"$outDir/$name")
        System.err.println(f"[verify] $name ok in ${(System.nanoTime() - t0) / 1e9}%.1fs")
        if (metricsOn) {
          Thread.sleep(1000) // let the async listener bus drain (best-effort)
          System.err.println(f"[verify] $name metrics~ shuffle_write=${shufW.get - w0}%,d " +
            f"shuffle_read=${shufR.get - r0}%,d disk_spill=${spill.get - s0}%,d bytes")
        }
      } catch { case scala.util.control.NonFatal(e) =>
        // fatal JVM errors (OOM etc.) must abort the dump, not surface as
        // one misleading per-query failure line (the FuzzVerify fix)
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Record skips in the report (ADVICE r10): a skipped query must read
    // as SKIPPED downstream, not be silently absent from the dump dir.
    if (excluded.nonEmpty) {
      val skipJson = excluded.toSeq.sorted.map { n =>
        val why = if (autoExclude(n)) "clone-corpus autodetect"
                  else "SPARK_GRAFT_VERIFY_EXCLUDE"
        s"${q(n)}: ${q(s"skipped ($why); checked by derived count per tools/scale_sweep.py")}"
      }.mkString("{", ",", "}")
      Files.writeString(Paths.get(s"$outDir/skipped.json"), skipJson)
    }
    spark.stop()
    // post-stop totals are exact: SparkContext.stop flushes the listener bus
    if (metricsOn)
      println(f"[verify] TOTAL metrics shuffle_write=${shufW.get}%,d " +
        f"shuffle_read=${shufR.get}%,d disk_spill=${spill.get}%,d bytes")
  }
}
