package graft
import org.apache.spark.metrics.source.CodegenMetrics
import scala.util.control.NonFatal
object Bench {
  /** Seconds `run` takes, or the -1.0 sentinel when it throws a non-fatal
    * error (reported by `onFail`). A fatal JVM error (OOM, stack overflow)
    * propagates: timing on in a damaged JVM would only record noise. */
  private[graft] def timed(onFail: Throwable => Unit)(run: => Unit): Double = {
    val t0 = System.nanoTime()
    try { run; (System.nanoTime() - t0) / 1e9 }
    catch { case NonFatal(e) => onFail(e); -1.0 }
  }

  /** Usage: `graft.Bench [entry...]` with the corpus in SPARK_GRAFT_SF_DIR;
    * no entry names times every entry, an unknown name fails before any
    * entry runs. */
  def main(args: Array[String]): Unit = {
    val entries = SparkEntry.select(args.toSeq)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Engine.session()
    // Untimed warmup: first-job scheduler init, parquet footer reads, and
    // codegen-compiler startup otherwise land on whichever query happens to
    // run first (~6s attributed to an arbitrary query).
    Engine.prepare(spark, sfDir)
    Engine.tableNames.foreach(t => try { spark.table(t).count() } catch { case NonFatal(_) => () })
    // Min of two runs per query by default — the first run carries
    // one-time codegen compilation for that query's operators, the min
    // approximates steady-state (the regime that matters at scale, where
    // per-query planning amortizes over hours of execution); the per-round
    // run keeps the default so BENCH_r{N} stays comparable across rounds.
    // Timed action is a full noop-sink materialization, NOT count():
    // count() lets Catalyst prune final projections and drop sorts, so
    // map-heavy queries would be timed as little more than a row count.
    val repsRaw = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "2")
    val reps = try repsRaw.toInt catch { case _: NumberFormatException =>
      throw new IllegalArgumentException(
        s"SPARK_GRAFT_BENCH_REPS must be an integer >= 1, got '$repsRaw'")
    }
    require(reps >= 1, s"SPARK_GRAFT_BENCH_REPS must be >= 1, got $reps")
    var failures = List.empty[String]
    // Reps are INTERLEAVED across queries (A,B,C,A,B,C — full suite passes,
    // not per-query back-to-back): this machine shows 40% ambient swings on
    // multi-minute windows (VERDICT r8 perf section), and back-to-back reps
    // put both samples of a query inside the same swing. With one full pass
    // between a query's samples, min-of-reps picks each query's quieter
    // window and round-over-round numbers track isolated steady state.
    val samples = scala.collection.mutable.Map.empty[String, Vector[Double]]
    // classes each rep compiled: a cache miss is one compilation, so a rep
    // that recompiles the previous rep's classes shows here (stderr only)
    val compiled = (1 to reps).map { _ =>
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      for ((name, fn) <- entries) {
        // a failure must be VISIBLE, not a fast fake result: record a
        // sentinel, report on stderr, surface a count in the total line
        val t = timed { e =>
          if (!failures.contains(name)) failures ::= name
          System.err.println(s"[bench] $name FAILED: ${String.valueOf(e.getMessage).take(200)}")
        } {
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        }
        samples(name) = samples.getOrElse(name, Vector.empty) :+ t
      }
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
    }
    System.err.println(s"[bench] ${Engine.codegenCacheConf}=" +
      s"${spark.conf.get(Engine.codegenCacheConf)}; classes compiled per rep: ${compiled.mkString(", ")}")
    val results = entries.map { case (name, _) =>
      val times = samples(name)
      name -> (if (times.contains(-1.0)) -1.0 else times.min)
    }
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + f"$v%.3f" }
      .mkString("{", ",", "}")
    // failed entries carry the -1.0 sentinel: keep them OUT of the total
    // (summing it would make each failure look 1 s faster); `failed`
    // below reports how many were left out
    val total = results.map(_._2).filter(_ >= 0).sum
    // per-query map on its own line (long), then the small parseable total
    // object LAST: the driver tails stdout, and one giant line used to push
    // the parseable object out of the tail window (VERDICT r1 item 4)
    println(s"""{"metric":"per_query","protocol":"interleaved min of $reps suite passes","queries":$qs,"sf":"$sfDir"}""")
    try {
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get("target/bench_queries.json"),
        s"""{"total":$total,"queries":$qs,"sf":"$sfDir"}""")
    } catch { case NonFatal(_) => () }
    println(f"""{"metric":"total","value":$total%.3f,"unit":"sec","failed":${failures.size},"sf":"$sfDir"}""")
    spark.stop()
  }
}
