package graft

import Engine.GraftCkptOps

/** Disk-bounded K-pass runner for the q46/q66 prefix-filtered n-gram join
  * (round 15, VERDICT r14 #1). The single-shot stage-3 enumeration at
  * organic ×300 is a measured 68.05B rows ≈ 360-405 GB of shuffle scratch
  * — more than this box's free disk at any patience — but the candidate
  * space partitions cleanly by the SMALLER rep of each pair:
  * `pmod(hash(a.rep), K) = i` (see [[Pipeline.ngramCandSql]]). Every
  * unordered pair lands in exactly one pass (a.rep < b.rep fixes which rep
  * is hashed), the predicate pushes below the join so pass i enumerates
  * and shuffles only ~1/K of the stage-3 volume, and each pass's verify
  * runs against the broadcast groups view so the per-pass dump is
  * answer-bound (qualifying content pairs only, ~answer/K rows). The
  * union of pass dumps therefore equals the single-shot verified
  * content-pair set with NO cross-pass dedup debt — invariance pinned at
  * toy scale by NgramPassSpec. Each pass materializes the production
  * [[Pipeline.ngramPxSql]] relation once and runs the production
  * [[Pipeline.ngramContentPairsSql]] with the pass predicate, and the
  * finish stage expands with [[Pipeline.ngramExpandTailSql]] and clusters
  * with [[Pipeline.contentComponents]] — the q46/q66 builders verbatim.
  *
  * On a 1000-executor cluster the same join runs single-shot (~360 MB
  * scratch per executor at og300 — BASELINE); K-passing is the single-box
  * protocol for the same answer, not a different algorithm.
  *
  * Usage (one JVM per pass so shuffle scratch is released between passes
  * by process exit, never by GC timing):
  *   SPARK_GRAFT_SF_DIR=DIR tools/run_main.sh graft.NgramPassRun pass K I CANDDIR
  *   SPARK_GRAFT_SF_DIR=DIR tools/run_main.sh graft.NgramPassRun finish K CANDDIR OUTDIR
  * finish refuses to run unless all K pass_<i> dumps exist (a missing
  * pass must never read as an empty pass). */
object NgramPassRun {
  def main(args: Array[String]): Unit = {
    val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Engine.session(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
    Engine.prepare(spark, sf)
    val t0 = System.nanoTime()
    def elapsed = f"${(System.nanoTime() - t0) / 1e9}%.1f s"

    val g = spark.sql(Pipeline.ngramGroupsSpark).graftCkpt()
    g.createOrReplaceTempView("q46_g")
    println(s"NGRAM-PASS-RUN groups=${g.count()} built in $elapsed")

    args.toList match {
      case "pass" :: kS :: iS :: candDir :: Nil =>
        val (k, i) = (kS.toInt, iS.toInt)
        require(0 <= i && i < k, s"pass index $i out of range for K=$k")
        // px once per pass JVM, the same relation the production entries
        // materialize; the pass predicate filters its left self-join side
        spark.sql(Pipeline.ngramPxSql("q46_g")).graftCkptView("q46_px")
        spark.sql(Pipeline.ngramContentPairsSql("q46_px", "q46_g",
          Pipeline.broadcastVerify(spark), passWhere = s"pmod(hash(a.rep), $k) = $i"))
          .write.mode("overwrite").parquet(s"$candDir/pass_$i")
        val n = spark.read.parquet(s"$candDir/pass_$i").count()
        println(s"NGRAM-PASS-RUN pass $i/$k: $n verified content pairs, total $elapsed")

      case "finish" :: kS :: candDir :: outDir :: Nil =>
        val k = kS.toInt
        val missing = (0 until k).filterNot(i =>
          new java.io.File(s"$candDir/pass_$i/_SUCCESS").isFile)
        require(missing.isEmpty,
          s"finish K=$k: missing completed pass dumps ${missing.mkString(",")} under $candDir")
        // Passes are pair-disjoint by construction; DISTINCT is
        // belt-and-braces against a double-written pass directory.
        spark.read.parquet((0 until k).map(i => s"$candDir/pass_$i"): _*)
          .distinct().graftCkpt().createOrReplaceTempView("q46_cpv")
        val cp = spark.table("q46_cpv").count()
        println(s"NGRAM-PASS-RUN finish: $cp distinct verified content pairs in $elapsed")
        val cfg = Pipeline.expandCfg(spark, sf)
        spark.sql(
          s"""WITH ${Pipeline.ngramExpandTailSql("q46_cpv", "q46_g", cfg)}
             |ORDER BY da, db""".stripMargin)
          .write.mode("overwrite").parquet(s"$outDir/q46_dedup_ngram_jaccard.parquet")
        println(s"NGRAM-PASS-RUN q46 dump done in $elapsed")
        // q66 over EXACTLY these content pairs, with the production tail
        Pipeline.contentComponents(spark, "q46_cpv", "q46_g")
          .coalesce(1)
          .write.mode("overwrite").parquet(s"$outDir/q66_dedup_components.parquet")
        println(s"NGRAM-PASS-RUN q66 dump done in $elapsed")

      case other =>
        sys.error(s"usage: pass K I CANDDIR | finish K CANDDIR OUTDIR (got: $other)")
    }
    spark.stop()
  }
}
