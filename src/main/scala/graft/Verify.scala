package graft
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.jdk.CollectionConverters._
/** Correctness dump: each SparkEntry.queries result → parquet, plus
  * oracle_sql.json, for the DuckDB oracle compare (`tools/hash_check.py`).
  *
  * Usage: `graft.Verify <sfDir> <outDir> [entry...]`; no entry names dumps
  * every entry, an unknown name fails before any entry runs. */
object Verify {
  /** Opt-in run metrics (round 16, VERDICT r15 #2): SPARK_GRAFT_METRICS=1
    * accumulates TaskMetrics shuffle write/read + disk spill across the
    * run and prints exact totals after the SparkContext stops (the bus is
    * flushed by stop, so totals are exact). The broadcast vs shuffled
    * verify A/B cites the post-stop totals of single-query runs — byte
    * numbers a loaded box cannot distort, unlike wall time. */
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

  /** Thrown by [[dump]] when the output device is below the free-space
    * floor: the whole dump stops, so a partial dump can't read as complete. */
  final class DiskFloor(msg: String) extends RuntimeException(msg)

  /** `{name: text}` as one JSON object, keys sorted. Jackson escapes every
    * control character, so SQL with a tab or CR still loads under Python's
    * json.load. */
  private def writeJson(path: String, m: Map[String, String]): Unit =
    Files.writeString(Paths.get(path), new com.fasterxml.jackson.databind.ObjectMapper()
      .writeValueAsString(new java.util.TreeMap[String, String](m.asJava)))

  /** Write each run's result as single-file parquet under `outDir/<name>`,
    * then `oracleSql` as `outDir/oracle_sql.json` — the layout
    * `tools/hash_check.py` compares against DuckDB. A run that throws a
    * non-fatal error is logged and skipped; a fatal JVM error (OOM etc.)
    * aborts the dump instead of surfacing as one misleading per-entry
    * failure. Returns the names of the runs that failed.
    *
    * Disk-budget guard (VERDICT r9 #7): round 9 lost its headline x100
    * artifact to mid-dump ENOSPC that surfaced only as task deaths, so
    * each run first checks free space on the output device and throws
    * [[DiskFloor]], with the remedy named, below the floor. Floor default
    * 4 GiB ≈ 2× the largest observed per-query dump at x100 (q44, ~1.9 GB
    * before the q96 exclusion existed); override with
    * SPARK_GRAFT_MIN_FREE_GB. */
  def dump(spark: SparkSession, outDir: String, runs: Seq[(String, () => DataFrame)],
      oracleSql: Map[String, String]): Seq[String] = {
    new java.io.File(outDir).mkdirs()
    val minFreeBytes =
      sys.env.getOrElse("SPARK_GRAFT_MIN_FREE_GB", "4").toDouble * (1L << 30)
    val failed = runs.flatMap { case (name, run) =>
      val free = new java.io.File(outDir).getUsableSpace
      if (free < minFreeBytes)
        throw new DiskFloor(
          f"[verify] ABORT before $name: ${free / 1e9}%.1f GB free on the " +
          f"output device < ${minFreeBytes / 1e9}%.1f GB floor. Remedy: free " +
          "space (e.g. delete a regenerable scale corpus — " +
          "tools/scale_up.py rebuilds one in minutes — or a stale dump dir), " +
          "or lower SPARK_GRAFT_MIN_FREE_GB if the projection is known-small. " +
          "Aborting the whole run so a partial dump can't read as complete.")
      val t = Bench.timed(e => System.err.println(s"[verify] $name failed: ${e.getMessage}")) {
        run().coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      }
      if (t < 0) Some(name)
      else { System.err.println(f"[verify] $name ok in $t%.1fs"); None }
    }
    writeJson(s"$outDir/oracle_sql.json", oracleSql)
    failed
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    val selected = SparkEntry.select(args.drop(2).toSeq)
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
    val runs = selected.collect { case (name, fn) if !excluded(name) =>
      name -> (() => fn(spark, sfDir))
    }
    try dump(spark, outDir, runs, SparkEntry.oracleSql)
    catch { case e: DiskFloor =>
      System.err.println(e.getMessage)
      spark.stop()
      sys.exit(3)
    }
    // Record skips in the report (ADVICE r10): a skipped query must read
    // as SKIPPED downstream, not be silently absent from the dump dir.
    if (excluded.nonEmpty)
      writeJson(s"$outDir/skipped.json", excluded.map { n =>
        val why = if (autoExclude(n)) "clone-corpus autodetect"
                  else "SPARK_GRAFT_VERIFY_EXCLUDE"
        n -> s"skipped ($why); checked by derived count per tools/scale_sweep.py"
      }.toMap)
    spark.stop()
    // post-stop totals are exact: SparkContext.stop flushes the listener bus
    if (metricsOn)
      println(f"[verify] TOTAL metrics shuffle_write=${shufW.get}%,d " +
        f"shuffle_read=${shufR.get}%,d disk_spill=${spill.get}%,d bytes")
  }
}
