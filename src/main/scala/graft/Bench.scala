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

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Engine.session()
    // Untimed warmup: first-job scheduler init, parquet footer reads, and
    // codegen-compiler startup otherwise land on whichever query happens to
    // run first (~6s attributed to an arbitrary query).
    Engine.prepare(spark, sfDir)
    Engine.tableNames.foreach(t => try { spark.table(t).count() } catch { case NonFatal(_) => () })
    // Default: min of two runs per query — the first run carries one-time
    // codegen compilation for that query's operators, the min approximates
    // steady-state (the regime that matters at scale, where per-query
    // planning amortizes over hours of execution). BASELINE.md's stated
    // protocol (median of 5) is available via SPARK_GRAFT_BENCH_REPS=5
    // SPARK_GRAFT_BENCH_STAT=median; the driver's per-round run keeps the
    // default so BENCH_r{N} stays comparable across rounds.
    // Timed action is a full noop-sink materialization, NOT count():
    // count() lets Catalyst prune final projections and drop sorts, so
    // map-heavy queries would be timed as little more than a row count.
    val repsRaw = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "2")
    val reps = try repsRaw.toInt catch { case _: NumberFormatException =>
      throw new IllegalArgumentException(
        s"SPARK_GRAFT_BENCH_REPS must be an integer >= 1, got '$repsRaw'")
    }
    require(reps >= 1, s"SPARK_GRAFT_BENCH_REPS must be >= 1, got $reps")
    val stat = sys.env.getOrElse("SPARK_GRAFT_BENCH_STAT", "min")
    require(stat == "min" || stat == "median",
      s"SPARK_GRAFT_BENCH_STAT must be 'min' or 'median', got '$stat'")
    var failures = List.empty[String]
    // Reps are INTERLEAVED across queries (A,B,C,A,B,C — full suite passes,
    // not per-query back-to-back): this machine shows 40% ambient swings on
    // multi-minute windows (VERDICT r8 perf section), and back-to-back reps
    // put both samples of a query inside the same swing. With one full pass
    // between a query's samples, min-of-reps picks each query's quieter
    // window and round-over-round numbers track isolated steady state.
    // Opt-in exclusion list for scale-corpus runs where a query's OUTPUT is
    // clone-quadratic (q96 materializes 136B pairs at x1000 — answer-bound,
    // covered by the derived-count protocol instead). Never set by the
    // driver's per-round sf0.1 run; exclusions are logged loudly so a
    // filtered total can't be mistaken for a full-suite one.
    val exclude = sys.env.get("SPARK_GRAFT_BENCH_EXCLUDE")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty[String])
    val unknown = exclude -- SparkEntry.queries.keySet
    require(unknown.isEmpty, s"SPARK_GRAFT_BENCH_EXCLUDE names unknown queries: $unknown")
    if (exclude.nonEmpty)
      System.err.println(s"[bench] EXCLUDING ${exclude.size} queries: ${exclude.toSeq.sorted.mkString(",")}")
    // Count-only mode (round 12, VERDICT r11 #2): for answer-bound
    // enumerations whose OUTPUT is clone-quadratic at a given scale (q96 =
    // 136B pairs at ×1000), timing the full materialization measures row
    // copying, not the operator — but EXCLUDING the query leaves a bare
    // hole in the artifact. A count-only query is timed on `count()` — the
    // join/refine work still runs, but note (ADVICE r12) that count() also
    // lets the optimizer PRUNE the output columns, so any expression that
    // feeds only the output projection is elided along with the row
    // transfer: a count-only number can understate per-row projection cost
    // and is comparable only to other count-only numbers. Its row in the
    // JSON carries an explicit "count_only" label so a
    // reader can never mistake it for a full-materialization number. Never
    // set by the driver's per-round sf0.1 run.
    val countOnly = sys.env.get("SPARK_GRAFT_BENCH_COUNT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty[String])
    val unknownCo = countOnly -- SparkEntry.queries.keySet
    require(unknownCo.isEmpty, s"SPARK_GRAFT_BENCH_COUNT_ONLY names unknown queries: $unknownCo")
    val overlap = countOnly intersect exclude
    require(overlap.isEmpty, s"queries both excluded and count-only: $overlap")
    if (countOnly.nonEmpty)
      System.err.println(s"[bench] COUNT-ONLY ${countOnly.size} queries: ${countOnly.toSeq.sorted.mkString(",")}")
    val entries = SparkEntry.queries.toSeq.filterNot { case (n, _) => exclude(n) }
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
          val df = fn(spark, sfDir)
          if (countOnly(name)) { df.count(); () }
          else df.write.format("noop").mode("overwrite").save()
        }
        samples(name) = samples.getOrElse(name, Vector.empty) :+ t
      }
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
    }
    System.err.println(s"[bench] ${Engine.codegenCacheConf}=" +
      s"${spark.conf.get(Engine.codegenCacheConf)}; classes compiled per rep: ${compiled.mkString(", ")}")
    val results = entries.map { case (name, _) =>
      val times = samples(name)
      // median of even reps = upper median (exact for the intended odd-5)
      name -> (if (times.contains(-1.0)) -1.0
               else if (stat == "median") times.sorted.apply(times.size / 2)
               else times.min)
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
    val exclNote = (if (exclude.isEmpty) ""
      else s""","excluded":[${exclude.toSeq.sorted.map("\"" + _ + "\"").mkString(",")}]""") +
      (if (countOnly.isEmpty) ""
      else s""","count_only":[${countOnly.toSeq.sorted.map("\"" + _ + "\"").mkString(",")}]""")
    println(s"""{"metric":"per_query","protocol":"interleaved $stat of $reps suite passes","queries":$qs$exclNote,"sf":"$sfDir"}""")
    try {
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get("target/bench_queries.json"),
        s"""{"total":$total,"queries":$qs$exclNote,"sf":"$sfDir"}""")
    } catch { case NonFatal(_) => () }
    println(f"""{"metric":"total","value":$total%.3f,"unit":"sec","failed":${failures.size}$exclNote%s,"sf":"$sfDir"}""")
    spark.stop()
  }
}
