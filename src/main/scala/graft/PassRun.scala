package graft

import org.apache.spark.sql.SparkSession
import Engine.GraftCkptOps

/** Disk-bounded K-pass runner for the three collapse-first dedup families:
  * `minhash` (q44), `simhash` (q45) and `ngram` (q46 and q66).
  *
  * Past some corpus size the single-shot content-pair join needs more
  * shuffle scratch than one box has: q46 at og300 (360-405 GB), q44 at
  * og1000 (~250 GB-class), q45 at og3000 (~100-140 GB); BASELINE §"Round
  * 15", §"q44 at og1000" and §"q45 at og3000" have the measurements. The
  * candidate space partitions by the SMALLER rep of each pair: pass i
  * keeps the pairs with `pmod(hash(a.rep), K) = i`. The predicate reads
  * only the a side, so Catalyst pushes it below the join and a pass
  * enumerates and shuffles ~1/K of the volume. Every unordered pair lands
  * in exactly one pass (a.rep < b.rep fixes which rep is hashed), so the
  * passes are disjoint and their union is the single-shot content-pair set
  * with no cross-pass dedup. A pass dumps only its qualifying (ra, rb,
  * score) content pairs, so its scratch is ~single-shot / K: the bound a
  * cluster's executors hold each share to. K-passing is the single-box
  * protocol for the same answer, not a different algorithm.
  *
  * Steps, one JVM each from `tools/pass_sweep.sh`, so shuffle scratch is
  * released by process exit and never waits on GC timing (at og1000,
  * twelve append jobs in one JVM left ~43 GB of dead shuffle files):
  *  - `pass K I CANDDIR`, every family: dump pass I to `CANDDIR/pass_I`;
  *  - `expand K I CANDDIR OUTDIR`, minhash and simhash: append pass I's
  *    id-level cross pairs to the dump;
  *  - `clique OUTDIR`, minhash and simhash: append every group's clique,
  *    once;
  *  - `finish K CANDDIR OUTDIR`, ngram: dump q46, and q66's components,
  *    which need every content pair at once.
  * `expand` and `finish` refuse to run unless the pass dumps they read are
  * complete: a missing pass must never read as an empty one.
  *
  * Usage: `SPARK_GRAFT_SF_DIR=DIR tools/run_main.sh graft.PassRun FAMILY STEP ARGS...` */
object PassRun {
  /** A dedup family: its groups view; the content pairs of one pass, given
    * the pass predicate (materializing what they read first); the score
    * column and the score of two identical contents; the dump file; and,
    * for ngram, q66's components dump, which makes it finish in one JVM. */
  private case class Family(groupsSql: String, groupsView: String,
      passSql: (SparkSession, String) => String, score: String, selfScore: String,
      dump: String, components: Option[String] = None)

  private val families: Map[String, Family] = Map(
    "minhash" -> Family(Pipeline.minhashGroupsSql, "q44_g", { (s, pass) =>
      s.sql(Pipeline.minhashSigSql).graftCkptView("q44_sig")
      s"""${Pipeline.minhashCandSql(pass)}
         |${Pipeline.minhashVerifySql(Pipeline.broadcastVerify(s))}""".stripMargin
    }, "jacc", "cast(1.0 AS DOUBLE)", "q44_dedup_minhash_lsh.parquet"),
    "simhash" -> Family(Pipeline.simhashGroupsSql, "q45_g",
      (_, pass) => Pipeline.simhashContentPairPassSql(pass),
      "hamming", "cast(0 AS BIGINT)", "q45_dedup_simhash.parquet"),
    "ngram" -> Family(Pipeline.ngramGroupsSpark, "q46_g", { (s, pass) =>
      // px once per pass, the relation the q46/q66 entries materialize
      s.sql(Pipeline.ngramPxSql("q46_g")).graftCkptView("q46_px")
      Pipeline.ngramContentPairsSql("q46_px", "q46_g", Pipeline.broadcastVerify(s), pass)
    }, "jacc", "cast(1.0 AS DOUBLE)", "q46_dedup_ngram_jaccard.parquet",
      Some("q66_dedup_components.parquet")))

  private val usage = "usage: PassRun FAMILY pass K I CANDDIR | FAMILY expand K I CANDDIR OUTDIR" +
    " | FAMILY clique OUTDIR (minhash, simhash) | ngram finish K CANDDIR OUTDIR"

  def main(args: Array[String]): Unit = {
    val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Engine.session()
    try run(spark, sf, args.toSeq) finally spark.stop()
  }

  /** One step on `spark` over the corpus at `sf`; `args` as for [[main]]. */
  def run(spark: SparkSession, sf: String, args: Seq[String]): Unit = {
    val f = args.headOption.flatMap(families.get)
      .getOrElse(sys.error(s"$usage (got: ${args.mkString(" ")})"))
    Engine.reclaim(spark)
    Engine.prepare(spark, sf)
    val t0 = System.nanoTime()
    def log(msg: String): Unit =
      println(f"PASS-RUN ${args.head} $msg, ${(System.nanoTime() - t0) / 1e9}%.1f s")
    // after a step's checks: at scale the groups take minutes to build
    def groups(): Unit = {
      spark.sql(f.groupsSql).graftCkptView(f.groupsView)
      log(s"groups=${spark.table(f.groupsView).count()} built")
    }
    def parseK(kS: String): Int = {
      val k = kS.toInt
      require(k >= 1, s"K=$k must be at least 1")
      k
    }
    def parseI(k: Int, iS: String): Int = {
      val i = iS.toInt
      require(0 <= i && i < k, s"pass index $i out of range for K=$k")
      i
    }
    def passDir(cand: String, i: Int) = s"$cand/pass_$i"
    def requireDone(cand: String, is: Seq[Int]): Unit = {
      val missing = is.filterNot(i => new java.io.File(s"${passDir(cand, i)}/_SUCCESS").isFile)
      require(missing.isEmpty,
        s"missing completed pass dumps ${missing.mkString(",")} under $cand")
    }
    def expandSql(cpView: Option[String], clique: Boolean) = Pipeline.pairExpandSql(
      cpView, f.groupsView, f.score, f.selfScore, Pipeline.expandCfg(spark, sf), clique)

    args.tail.toList match {
      case "pass" :: kS :: iS :: cand :: Nil =>
        val k = parseK(kS)
        val i = parseI(k, iS)
        groups()
        spark.sql(f.passSql(spark, s"pmod(hash(a.rep), $k) = $i"))
          .write.mode("overwrite").parquet(passDir(cand, i))
        log(s"pass $i/$k: ${spark.read.parquet(passDir(cand, i)).count()} content pairs")

      case "expand" :: kS :: iS :: cand :: out :: Nil if f.components.isEmpty =>
        val k = parseK(kS)
        val i = parseI(k, iS)
        requireDone(cand, Seq(i))
        groups()
        spark.read.parquet(passDir(cand, i)).createOrReplaceTempView("pass_cp")
        spark.sql(expandSql(Some("pass_cp"), clique = false))
          .write.mode("append").parquet(s"$out/${f.dump}")
        log(s"expand $i/$k appended")

      case "clique" :: out :: Nil if f.components.isEmpty =>
        groups()
        spark.sql(expandSql(None, clique = true)).write.mode("append").parquet(s"$out/${f.dump}")
        log(s"clique appended; dump rows=${spark.read.parquet(s"$out/${f.dump}").count()}")

      case "finish" :: kS :: cand :: out :: Nil if f.components.nonEmpty =>
        val k = parseK(kS)
        requireDone(cand, 0 until k)
        groups()
        // the passes are pair-disjoint by construction; DISTINCT guards
        // against a pass directory written twice
        spark.read.parquet((0 until k).map(passDir(cand, _)): _*).distinct()
          .graftCkptView("pass_cp")
        log(s"finish: ${spark.table("pass_cp").count()} distinct content pairs")
        spark.sql(expandSql(Some("pass_cp"), clique = true) + "\nORDER BY da, db")
          .write.mode("overwrite").parquet(s"$out/${f.dump}")
        Pipeline.contentComponents(spark, "pass_cp", f.groupsView).coalesce(1)
          .write.mode("overwrite").parquet(s"$out/${f.components.get}")
        log("dumps done")

      case _ =>
        sys.error(s"$usage (got: ${args.mkString(" ")})")
    }
  }
}
