package graft

import Engine.GraftCkptOps

/** Disk-bounded K-pass runner for q45's SimHash dedup (round 16, VERDICT
  * r15 #3). At organic ×3000 (m = 750k marked texts, answer ≈ 2.44 B
  * pairs — the oracle-slice mass measured it before the Spark side could
  * run) the single-shot run ENOSPCs this box twice at ~69 GB free: the
  * content-pair localCheckpoint (~2.44 B × ~20 B through the block store
  * — invisible to shuffle metrics, which read only 0.36 GB at death)
  * plus the expand joins' double cp exchange and the final sort total
  * ~100-140 GB. Same protocol as MinhashPassRun/NgramPassRun: partition
  * the pair space by `pmod(hash(a.rep), K)` — here placed in an a-side
  * SUBQUERY so [[Pipeline.simhashContentPairPassSql]] keeps the exact
  * join-condition shape [[HammingJoinRewrite]] pattern-matches (an extra
  * ON conjunct could silently drop the rewrite and fall back to the
  * naive all-pairs join). Every unordered pair lands in exactly one pass
  * via its smaller rep; per-pass dump is (ra, rb, hamming); the finish is
  * per-JVM expand appends + one clique append (the finish-big lesson:
  * scratch is released by process exit, never by GC timing).
  *
  * Usage (one JVM per step — tools/simhash_pass_sweep.sh):
  *   SPARK_GRAFT_SF_DIR=DIR tools/run_main.sh graft.SimhashPassRun pass K I CANDDIR
  *   SPARK_GRAFT_SF_DIR=DIR tools/run_main.sh graft.SimhashPassRun expand K I CANDDIR OUTDIR
  *   SPARK_GRAFT_SF_DIR=DIR tools/run_main.sh graft.SimhashPassRun clique OUTDIR
  */
object SimhashPassRun {
  def main(args: Array[String]): Unit = {
    val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Engine.session(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
    Engine.prepare(spark, sf)
    val t0 = System.nanoTime()
    def elapsed = f"${(System.nanoTime() - t0) / 1e9}%.1f s"

    val g = spark.sql(Pipeline.simhashGroupsSql).graftCkpt()
    g.createOrReplaceTempView("q45_g")
    println(s"SIMHASH-PASS-RUN groups=${g.count()} built in $elapsed")

    args.toList match {
      case "pass" :: kS :: iS :: candDir :: Nil =>
        val (k, i) = (kS.toInt, iS.toInt)
        require(0 <= i && i < k, s"pass index $i out of range for K=$k")
        spark.sql(Pipeline.simhashContentPairPassSql(s"pmod(hash(rep), $k) = $i"))
          .write.mode("overwrite").parquet(s"$candDir/pass_$i")
        val n = spark.read.parquet(s"$candDir/pass_$i").count()
        println(s"SIMHASH-PASS-RUN pass $i/$k: $n content pairs, total $elapsed")

      case "expand" :: kS :: iS :: candDir :: outDir :: Nil =>
        val (k, i) = (kS.toInt, iS.toInt)
        require(0 <= i && i < k, s"expand index $i out of range for K=$k")
        require(new java.io.File(s"$candDir/pass_$i/_SUCCESS").isFile,
          s"expand $i: missing completed pass dump under $candDir")
        val cfg = Pipeline.expandCfg(spark, sf)
        spark.read.parquet(s"$candDir/pass_$i").createOrReplaceTempView(s"q45_p$i")
        spark.sql(
          s"""SELECT da, db, hamming FROM (
             |${Pipeline.crossPairExpand(s"q45_p$i", "q45_g",
                 "least(ia, ib) AS da, greatest(ia, ib) AS db, hamming", ", cp.hamming", cfg)}) u""".stripMargin)
          .write.mode("append").parquet(s"$outDir/q45_dedup_simhash.parquet")
        println(s"SIMHASH-PASS-RUN expand $i/$k appended in $elapsed")

      case "clique" :: outDir :: Nil =>
        val cfg = Pipeline.expandCfg(spark, sf)
        val out = s"$outDir/q45_dedup_simhash.parquet"
        spark.sql(
          s"""SELECT da, db, hamming FROM (
             |${Pipeline.selfCliqueExpand("q45_g",
                 "ia AS da, ib AS db, cast(0 AS BIGINT) AS hamming", "", "", cfg)}) u""".stripMargin)
          .write.mode("append").parquet(out)
        println(s"SIMHASH-PASS-RUN clique appended; dump rows=${spark.read.parquet(out).count()} in $elapsed")

      case other =>
        sys.error(s"usage: pass K I CANDDIR | expand K I CANDDIR OUTDIR | clique OUTDIR (got: $other)")
    }
    spark.stop()
  }
}
