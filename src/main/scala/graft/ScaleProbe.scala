package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import Engine.GraftCkptOps

/** Scale-stress probe: runs representative operators on synthetically
  * multiplied testdata (lineitem ×16 ≈ 9.6M rows, documents ×10 = 50k,
  * embeddings ×8 = 16k) to verify the plans hold away from the toy sizes —
  * near-linear for scans/aggs/map-side ops, candidate-bounded for LSH.
  * Multiplied copies get distinct keys (id offset) so key semantics and
  * group cardinalities scale realistically.
  *
  * Run: `SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 sbt "runMain graft.ScaleProbe"`
  */
object ScaleProbe {
  private def t(label: String)(f: => Long): Unit = {
    val t0 = System.nanoTime()
    val n = f
    println(f"SCALE $label%-34s ${(System.nanoTime() - t0) / 1e9}%7.2f s   $n%,d rows")
  }

  def main(args: Array[String]): Unit = {
    val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Engine.session("local[32]")
    Engine.prepare(spark, sf)
    if (args.contains("skew-only")) { // fast iteration on the skew scenario
      skewProbe(spark, full = !args.contains("no-straggler"))
      spark.stop(); return
    }
    if (args.contains("zmap-only")) { zmapProbe(spark); spark.stop(); return }
    if (args.contains("cosine-collapse-only")) {
      // `no-enum` skips the enumerated-q47 comparator arm: past the ×10
      // corpus the exact pair LIST is Ω(clone²) ≈ 10⁹ rows — the identity
      // of the two arms is proven at ×10; larger decades time the
      // collapsed arm alone (the only one a production pipeline runs).
      cosineCollapseProbe(spark, sf, enumerate = !args.contains("no-enum"))
      spark.stop(); return
    }
    if (args.contains("pack-only")) { // fast iteration on the packing rows
      shadowDocsX(spark, 10)
      packProbe(spark)
      Engine.registerTables(spark, sf)
      spark.stop(); return
    }
    if (args.contains("tq4-only")) {
      tq4Probe(spark, sf, args.filterNot(_ == "tq4-only").headOption)
      spark.stop(); return
    }
    if (args.contains("bucket-only")) {
      bucketProbe(spark, sf, keep = args.contains("keep"),
        write = !args.contains("nowrite"))
      spark.stop(); return
    }

    // lineitem ×16: distinct order keys per copy so join/group cardinality scales
    val li = spark.table("lineitem")
    val maxOk = li.agg(max("l_orderkey")).head.getLong(0) + 1
    li.crossJoin(spark.range(16).select(col("id").as("cp")))
      .withColumn("l_orderkey", col("l_orderkey") + col("cp") * maxOk)
      .drop("cp")
      .createOrReplaceTempView("lineitem_x16")
    val ordersX = spark.table("orders")
    val maxOrd = ordersX.agg(max("o_orderkey")).head.getLong(0) + 1
    ordersX.crossJoin(spark.range(16).select(col("id").as("cp")))
      .withColumn("o_orderkey", col("o_orderkey") + col("cp") * maxOrd)
      .drop("cp")
      .createOrReplaceTempView("orders_x16")

    t("q1-agg  lineitem x16") {
      spark.sql(
        """SELECT l_returnflag, l_linestatus,
          |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS sum_qty,
          |  COUNT(*) AS n
          |FROM lineitem_x16
          |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
          |GROUP BY l_returnflag, l_linestatus""".stripMargin).count()
    }
    t("q6-filter lineitem x16") {
      spark.sql(
        """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(6,2))) AS DECIMAL(38,4)) AS revenue
          |FROM lineitem_x16
          |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
          |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin).count()
    }
    t("join+agg lineitem x16 / orders x16") {
      spark.sql(
        """SELECT o_orderpriority, COUNT(*) AS n,
          |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS rev
          |FROM lineitem_x16 JOIN orders_x16 ON l_orderkey = o_orderkey
          |GROUP BY o_orderpriority""".stripMargin).count()
    }

    // The 100 TB answer to the shuffle join above: bucket both fact tables
    // by the join key at write time → the join plan has NO Exchange on
    // either side (verified below), so the dominant cost at scale — the
    // all-to-all network shuffle of the big side — disappears entirely.
    spark.sql("DROP TABLE IF EXISTS li_bkt"); spark.sql("DROP TABLE IF EXISTS ord_bkt")
    // repartition on the bucket key first: bucketBy hashes the same way,
    // so each task writes one bucket instead of every task sorting and
    // writing a slice of all 32
    t("bucketed write lineitem x16 (32 buckets)") {
      spark.table("lineitem_x16").repartition(32, col("l_orderkey")).write
        .bucketBy(32, "l_orderkey").sortBy("l_orderkey")
        .format("parquet").saveAsTable("li_bkt"); 0L
    }
    t("bucketed write orders x16 (32 buckets)") {
      spark.table("orders_x16").repartition(32, col("o_orderkey")).write
        .bucketBy(32, "o_orderkey").sortBy("o_orderkey")
        .format("parquet").saveAsTable("ord_bkt"); 0L
    }
    val bucketed = spark.sql(
      """SELECT o_orderpriority, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS rev
        |FROM li_bkt JOIN ord_bkt ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority""".stripMargin)
    val plan = bucketed.queryExecution.executedPlan.toString
    println(s"SCALE bucketed-join exchanges on join keys: " +
      (if (plan.contains("SortMergeJoin") && !plan.contains("Exchange hashpartitioning(l_orderkey"))
        "NONE (co-located scan-merge-join)" else "present — inspect plan"))
    t("bucketed join+agg (no shuffle)") { bucketed.count() }
    spark.sql("DROP TABLE IF EXISTS li_bkt"); spark.sql("DROP TABLE IF EXISTS ord_bkt")

    // Skew: 80% of a 32M-row fact hits ONE join key. Broadcast is disabled
    // to emulate a dim too big to broadcast (the 100 TB regime); AQE's
    // skew-join splits the hot partition into parallel sub-splits at
    // runtime — no manual salting needed in the query.
    spark.range(32L * 1000 * 1000)
      .select((when(col("id") % 5 =!= 0, lit(0L)).otherwise(col("id") % 100000)).as("k"),
        col("id").as("v"))
      .createOrReplaceTempView("skew_fact")
    spark.range(100000).select(col("id").as("k"), (col("id") * 7).as("payload"))
      .createOrReplaceTempView("skew_dim")
    val skewQ =
      """SELECT COUNT(*) AS n, SUM(v + payload) AS s
        |FROM skew_fact JOIN skew_dim ON skew_fact.k = skew_dim.k""".stripMargin
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
    t("skewed join, AQE skew-split OFF") { spark.sql(skewQ).count() }
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "8m")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m")
    t("skewed join, AQE skew-split ON") { spark.sql(skewQ).count() }
    spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    spark.conf.unset("spark.sql.adaptive.skewJoin.skewedPartitionFactor")
    spark.conf.unset("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes")
    spark.conf.unset("spark.sql.adaptive.advisoryPartitionSizeInBytes")

    // Dynamic partition pruning: the fact table is laid out partitioned on
    // the join key's category; the query filters only the DIM side, so no
    // literal partition predicate exists at plan time — Spark's DPP injects
    // a runtime subquery filter from the broadcast dim and the scan reads
    // only the matching partitions. At 100 TB this is the difference
    // between scanning 2/50 partitions and scanning everything.
    locally {
      val dppDir = s"${Engine.tmpDir}/scaleprobe_dpp"
      spark.table("lineitem_x16")
        .withColumn("pkey", (col("l_partkey") % 50).cast("int"))
        .write.mode("overwrite").partitionBy("pkey").parquet(dppDir)
      spark.range(50).select(col("id").cast("int").as("pkey"),
        (col("id") % 25).as("cat"))
        .createOrReplaceTempView("dpp_dim")
      spark.read.parquet(dppDir).createOrReplaceTempView("dpp_fact")
      val q = """SELECT COUNT(*) AS n, SUM(l_quantity) AS s
                |FROM dpp_fact JOIN dpp_dim ON dpp_fact.pkey = dpp_dim.pkey
                |WHERE dpp_dim.cat = 7""".stripMargin
      val plan = spark.sql(q).queryExecution.executedPlan.toString
      println("SCALE dpp plan injects runtime partition filter: " +
        (if (plan.contains("dynamicpruning")) "YES" else "NO — inspect plan"))
      spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.enabled", "false")
      t("partitioned join, DPP OFF (scans all 50)") { spark.sql(q).count() }
      spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.enabled", "true")
      t("partitioned join, DPP ON (scans 2/50)") { spark.sql(q).count() }
    }

    zmapProbe(spark)

    // documents ×10: distinct doc_ids; map-side text analytics scale linearly
    val docs = spark.table("documents")
    val maxDoc = docs.agg(max("doc_id")).head.getLong(0) + 1
    docs.crossJoin(spark.range(10).select(col("id").as("cp")))
      .withColumn("doc_id", col("doc_id") + col("cp") * maxDoc)
      .drop("cp")
      .createOrReplaceTempView("documents_x10")
    t("quality-score documents x10") {
      spark.sql(
        """SELECT doc_id, length(text) AS n_chars,
          |  size(split(text, ' ')) AS n_tok,
          |  size(array_distinct(split(text, ' '))) AS n_uniq
          |FROM documents_x10""".stripMargin).count()
    }
    t("exact-dedup documents x10") {
      spark.sql(
        """SELECT md5(text) AS h, COUNT(*) AS n, MIN(doc_id) AS keeper
          |FROM documents_x10 GROUP BY md5(text)""".stripMargin).count()
    }

    // embeddings ×8: brute-force ANN stays queries×corpus; IVF probes 1/k
    val emb = spark.table("embeddings")
    val maxVec = emb.agg(max("vec_id")).head.getLong(0) + 1
    emb.crossJoin(spark.range(8).select(col("id").as("cp")))
      .withColumn("vec_id", col("vec_id") + col("cp") * maxVec)
      .drop("cp")
      .createOrReplaceTempView("embeddings_x8")
    t("ann-brute top-10, 5 queries x 16k corpus") {
      spark.sql(
        """WITH e AS (
          |  SELECT vec_id, embedding, sqrt(dot_product(embedding, embedding)) AS nrm
          |  FROM embeddings_x8),
          |q AS (SELECT vec_id AS qid, embedding AS qv, nrm AS qn FROM e WHERE vec_id < 5)
          |SELECT qid, vec_id, cos FROM (
          |  SELECT qid, e.vec_id,
          |    round(dot_product(qv, e.embedding) / (qn * e.nrm), 6) AS cos,
          |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY round(dot_product(qv, e.embedding) / (qn * e.nrm), 6) DESC, e.vec_id) AS rn
          |  FROM q JOIN e ON e.vec_id != qid) t WHERE rn <= 10""".stripMargin).count()
    }

    // k-means / LSH-ANN at ×8 embeddings (16k vectors): the Lloyd
    // assignment is broadcast+map-side and the centroid update a
    // k×dim-group aggregate, so per-iteration cost is linear in the
    // corpus; LSH sketching is map-side and candidate generation stays
    // collision-bounded. Both contract lambdas read the `embeddings` view,
    // shadowed here exactly like the `documents` shadow below (prepare is
    // memoized per session, so the lambdas' own prepare is a no-op).
    emb.crossJoin(spark.range(8).select(col("id").as("cp")))
      .withColumn("vec_id", col("vec_id") + col("cp") * maxVec)
      .drop("cp")
      .createOrReplaceTempView("embeddings")
    t("kmeans 2 iters, embeddings x8") {
      SparkEntry.queries("q100_kmeans")(spark, sf).count()
    }
    t("lsh-ann 2x6-bit, embeddings x8") {
      SparkEntry.queries("q102_ann_lsh")(spark, sf).count()
    }
    // bits must grow ~log2(n / target_bucket) with the corpus: at 16k
    // vectors, 6 bits = 64 buckets/table → expected bucket ≈ 256 and
    // candidate pairs ∝ n²/64; 12 bits = 4096 buckets → bucket ≈ 4,
    // candidates collision-bounded (≈ n·B). Measured side by side:
    Seq(6, 12).foreach { bits =>
      val sk = Corpus.lshSketch(spark, bits).graftCkpt()
      sk.createOrReplaceTempView("lsh_probe_sk")
      val n = sk.count()
      val cand = spark.sql(
        """SELECT COUNT(*) FROM (
          |  SELECT DISTINCT a.vec_id, b.vec_id AS v2 FROM (
          |    SELECT vec_id, t, b FROM lsh_probe_sk
          |    LATERAL VIEW inline(array(struct(1 AS t, b1 AS b), struct(2 AS t, b2 AS b))) x AS t, b) a
          |  JOIN (
          |    SELECT vec_id, t, b FROM lsh_probe_sk
          |    LATERAL VIEW inline(array(struct(1 AS t, b1 AS b), struct(2 AS t, b2 AS b))) x AS t, b) b
          |  ON a.t = b.t AND a.b = b.b AND a.vec_id < b.vec_id)""".stripMargin)
        .collect()(0).getLong(0)
      println(f"SCALE lsh-ann bits=$bits%2d candidates: $cand%,d of ${n * (n - 1) / 2}%,d all-pairs (n=$n%,d)")
      t(f"lsh-ann 2x$bits%d-bit search, embeddings x8") {
        Corpus.lshSearch(spark, sk).count()
      }
      sk.unpersist(true)
    }
    // IVF nprobe dial: probing 2 of the 10 coarse cells doubles the scan
    // fraction (nprobe/k of the corpus) for monotonically better recall —
    // the latency/recall trade a production index tunes per workload.
    Seq(1, 2).foreach { np =>
      t(s"ivf-ann nprobe=$np, embeddings x8") {
        spark.sql(Pipeline.annIvfSql("spark", np)).count()
      }
    }

    // Packing / passage dedup at ×10 documents: the greedy packer is a
    // secondary-sorted per-shard scan (O(1) state, shards stream), passage
    // dedup is two shuffles regardless of corpus size — and the clones
    // make it a pathological dup-heavy corpus (every passage repeats 10×).
    docs.crossJoin(spark.range(10).select(col("id").as("cp")))
      .withColumn("doc_id", col("doc_id") + col("cp") * maxDoc)
      .drop("cp")
      .createOrReplaceTempView("documents")
    t("greedy packing documents x10") {
      SparkEntry.queries("q99_greedy_packing")(spark, sf).count()
    }
    packProbe(spark)
    t("passage dedup documents x10 (dup-heavy)") {
      SparkEntry.queries("q101_passage_dedup")(spark, sf).count()
    }

    // MinHash LSH at ×4 documents: duplicated docs are true near-dups of
    // their copies, so candidate pairs grow ~copies² inside each clone
    // cluster — the stress is the verification fan-out staying bounded by
    // LSH buckets, not n².
    // NOTE this deliberately shadows the `documents` view AFTER
    // Engine.prepare ran for (this session, sf): prepare memoizes per live
    // session, so the q44 lambda's own prepare call is a guaranteed no-op
    // and reads the shadowed view. registerTables below restores it.
    docs.crossJoin(spark.range(4).select(col("id").as("cp")))
      .withColumn("doc_id", col("doc_id") + col("cp") * maxDoc)
      .drop("cp")
      .createOrReplaceTempView("documents")
    t("minhash-LSH documents x4 (clone-heavy)") {
      SparkEntry.queries("q44_dedup_minhash_lsh")(spark, sf).count()
    }
    t("simhash-banded documents x4 (clone-heavy)") {
      SparkEntry.queries("q45_dedup_simhash")(spark, sf).count()
    }
    // HammingJoinRewrite, measured: 200k sketches → the naive plan is a
    // 20B-comparison nested-loop join (codegen pushes ~1B cmp/s/core, so
    // it is surprisingly fast single-node — but it cannot distribute: the
    // whole corpus broadcasts to every task and work grows n²); the k=3
    // rewrite (4 bands × 16 bits) is an equi-join whose comparison count
    // is n²/band-space — ~4 orders of magnitude fewer — and whose shuffle
    // partitions by band value, the shape that scales out on a cluster.
    locally {
      spark.range(200000)
        .selectExpr("id AS doc_id", "xxhash64(id) & ((1L << 60) - 1) AS sh")
        .createOrReplaceTempView("hj_scale")
      val q =
        """SELECT count(*) FROM hj_scale a JOIN hj_scale b
          |ON bit_count(a.sh ^ b.sh) <= 3 AND a.doc_id < b.doc_id""".stripMargin
      // the conf kill switch is the only reliable OFF: the rule is ALSO
      // builder-injected, so clearing extraOptimizations would leave it
      // active and time the banded plan twice
      spark.conf.set(HammingJoinRewrite.EnabledConf, "false")
      try {
        val plan = spark.sql(q).queryExecution.executedPlan.toString
        require(!plan.contains("Generate"), "kill switch must yield the naive plan")
        t("hamming join 200k, naive NLJ (rule OFF)") {
          spark.sql(q).collect()(0).getLong(0)
        }
      } finally spark.conf.set(HammingJoinRewrite.EnabledConf, "true")
      require(spark.sql(q).queryExecution.executedPlan.toString.contains("Generate"),
        "rule ON must yield the banded plan")
      t("hamming join 200k, banded (rule ON)") {
        spark.sql(q).collect()(0).getLong(0)
      }
    }
    skewProbe(spark, full = true)
    // Candidate-count evidence for the banded SimHash pairing, measured
    // with the RULE'S OWN band layout (interleaved k+1=9 bands over 64
    // bits): the (band, value) equi-join examines only colliding pairs,
    // not n²/2.
    runCandidateCount(spark)
    Engine.registerTables(spark, sf) // restore the real view
    spark.stop()
  }

  /** Collapse-first remedy for clone-heavy cosine near-dup, measured
    * (BASELINE §x10): on a clone-multiplied corpus the exact pair LIST is
    * Ω(clone²) by definition — q47 at ×10 returns 98,600 pairs in ~100 s
    * because the answer itself grew 1,147×. When the application wants
    * clusters/counts rather than the enumerated pairs, collapse identical
    * embeddings FIRST (one cheap hash shuffle), pair-search only the
    * DISTINCT vectors, and recover the clone-expanded pair count
    * arithmetically: Σ cnt_a·cnt_b over matched distinct pairs plus
    * Σ C(cnt,2) per distinct vector (cos(v,v)=1 ≥ τ always). Exactly the
    * q43→q45 composition the pipeline uses; this probe proves it returns
    * the SAME pair count as the enumerated q47 at a fraction of the time.
    *
    * Run: `SPARK_GRAFT_SF_DIR=/tmp/sfx10 tools/run_main.sh graft.ScaleProbe cosine-collapse-only`
    */
  private def cosineCollapseProbe(spark: SparkSession, sf: String,
      enumerate: Boolean = true): Unit = {
    var fullPairs = 0L
    if (enumerate) t("q47 enumerated pair list (gridded)") {
      fullPairs = SparkEntry.queries("q47_dedup_embedding_cosine")(spark, sf).count()
      fullPairs
    }
    var recovered = 0L
    t("collapse-first + arithmetic recovery") {
      spark.table("embeddings")
        .groupBy(col("label"), col("embedding"))
        .agg(count(lit(1)).as("cnt"))
        .createOrReplaceTempView("de")
      val dot = "dot_product(%s, %s)"
      val cross = spark.sql(
        s"""WITH e AS (
           |  SELECT label, embedding, cnt,
           |    sqrt(${dot.format("embedding", "embedding")}) AS nrm,
           |    row_number() OVER (ORDER BY label, cnt) AS rid
           |  FROM de)
           |SELECT CAST(SUM(cnt_prod) AS BIGINT) AS n FROM (
           |  SELECT a.cnt * b.cnt AS cnt_prod,
           |    round(${dot.format("a.embedding", "b.embedding")} / (a.nrm * b.nrm), 6) AS cos_sim
           |  FROM e a JOIN e b ON a.label = b.label AND a.rid < b.rid) t
           |WHERE cos_sim >= 0.4""".stripMargin).head.getLong(0)
      val selfPairs = spark.sql(
        "SELECT CAST(COALESCE(SUM(cnt * (cnt - 1) / 2), 0) AS BIGINT) FROM de WHERE cnt >= 2")
        .head.getLong(0)
      recovered = cross + selfPairs
      recovered
    }
    if (enumerate) {
      println(s"SCALE cosine collapse-first pair count: $recovered vs enumerated $fullPairs " +
        (if (recovered == fullPairs) "IDENTICAL" else "MISMATCH"))
      if (recovered != fullPairs) sys.exit(1)
    } else
      println(s"SCALE cosine collapse-first pair count: $recovered (enumeration skipped)")
  }

  /** tq4 remedy matrix (BASELINE §x1000): the contract's EXISTS semi-join
    * plans as SMJ and must sort the full lineitem side — at ×1000 (600M
    * rows) that sort's working set leaves page cache and the query goes
    * disk-bound. The rewrites a 100 TB deploy picks instead:
    *
    *   preagg    — EXISTS(l_shipdate > o_orderdate) ⟺ per-orderkey
    *               MAX(l_shipdate) > o_orderdate (l_shipdate non-null):
    *               partial agg collapses lineitem MAP-SIDE before its one
    *               shuffle, the filtered 3-month orders slice broadcasts,
    *               and no 600M-row sort ever happens.
    *   broadcast — two-phase: broadcast the filtered orders slice into a
    *               map-side join over lineitem, DISTINCT the matched keys
    *               (the only shuffle — matched keys, not the fact table),
    *               broadcast-join back. The fo CTE inlines twice
    *               (Catalyst), both instances cheap filtered dim scans.
    *
    * No variant arg: all four run and must return IDENTICAL rows (exit 1
    * otherwise) — the correctness leg, run at sf0.1/×10. With a variant
    * arg (baseline|preagg|broadcast|rule) only that one runs, REPS times — so
    * each timing gets a fresh JVM at ×1000 (heap churn from a prior 600M-
    * row variant inflates successors 3–7×, BASELINE §x1000).
    */
  private def tq4Probe(spark: SparkSession, sf: String, variant: Option[String]): Unit = {
    val win = "o_orderdate >= TIMESTAMP '1996-07-01 00:00:00' " +
      "AND o_orderdate < TIMESTAMP '1996-10-01 00:00:00'"
    def run(name: String): Seq[String] = name match {
      case "baseline" =>
        SparkEntry.queries("tq4_order_priority")(spark, sf)
          .collect().map(_.mkString("|")).toSeq
      case "preagg" => spark.sql(
        s"""SELECT /*+ BROADCAST(o) */ o_orderpriority, COUNT(*) AS order_count
           |FROM (SELECT l_orderkey, MAX(l_shipdate) AS max_ship
           |      FROM lineitem GROUP BY l_orderkey) l
           |JOIN (SELECT o_orderkey, o_orderdate, o_orderpriority
           |      FROM orders WHERE $win) o
           |  ON l_orderkey = o_orderkey AND max_ship > o_orderdate
           |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)
          .collect().map(_.mkString("|")).toSeq
      // the optimizer-rule default plan: BroadcastSemiJoinRewrite
      // broadcasts the filtered slice directly (BASELINE §tq4 matrix's
      // `rule-nodistinct` row). It runs the CONTRACT query — whatever a
      // bare user types.
      case "rule" =>
        SparkEntry.queries("tq4_order_priority")(spark, sf)
          .collect().map(_.mkString("|")).toSeq
      case "broadcast" => spark.sql(
        s"""WITH fo AS (SELECT o_orderkey, o_orderdate, o_orderpriority
           |            FROM orders WHERE $win),
           |mk AS (SELECT /*+ BROADCAST(fo) */ DISTINCT l_orderkey AS k
           |       FROM lineitem JOIN fo
           |         ON l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
           |SELECT /*+ BROADCAST(fo) */ o_orderpriority, COUNT(*) AS order_count
           |FROM fo JOIN mk ON o_orderkey = k
           |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)
          .collect().map(_.mkString("|")).toSeq
      case other => sys.error(s"unknown tq4 variant: $other")
    }
    variant match {
      case Some(v) =>
        val reps = sys.env.getOrElse("REPS", "2").toInt
        (1 to reps).foreach(_ => t(s"tq4/$v")(run(v).length.toLong))
      case None =>
        val res = Seq("baseline", "preagg", "broadcast", "rule")
          .map(v => v -> run(v))
        res.foreach { case (v, rows) => println(s"SCALE tq4/$v -> ${rows.length} rows") }
        val ok = res.map(_._2).distinct.size == 1
        println(s"SCALE tq4 variant equality: ${if (ok) "IDENTICAL" else "MISMATCH"}")
        if (!ok) sys.exit(1)
    }
  }

  /** Bucketed-layout remedy measured at the failing scale (BASELINE
    * §x1000): q91 proves the zero-Exchange co-located join at sf0.1; this
    * arm pays the REAL one-time layout cost on the ×1000 corpus (600M-row
    * lineitem) and then runs the two fact⋈fact shapes that went
    * shuffle-bound — tq4's EXISTS semi-join and q3's join+agg — against
    * it. `repartition(n, key)` before `bucketBy(n, key)` uses the same
    * murmur3-pmod placement as the bucket spec, so every bucket lands in
    * exactly ONE file and the scan's sort order is trusted — no re-sort,
    * no Exchange on the join key (asserted; the only allowed exchanges
    * are the FINAL tiny aggregations' — 5 priority groups / top-k rows).
    * Join timings print twice: first touch and steady state — each rep
    * builds a FRESH DataFrame, because re-collecting the same DataFrame
    * instance under AQE silently reuses its materialized shuffle stages
    * (a 0.04 s "steady state" that measures nothing).
    * The bucketed tables are managed (session warehouse) and dropped at
    * the end unless `keep` is passed; `nowrite` skips the write phase and
    * reuses the layout a prior `keep` run left behind.
    */
  private def bucketProbe(spark: SparkSession, sf: String, keep: Boolean,
      write: Boolean = true): Unit = {
    val nb = sys.env.getOrElse("BUCKETS", "64").toInt
    def resetTbl(name: String): Unit = {
      spark.sql(s"DROP TABLE IF EXISTS $name")
      val loc = new java.io.File(
        new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath, name)
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
        f.delete()
      }
      if (loc.exists()) rm(loc)
    }
    def mk(src: String, tbl: String, key: String): Unit =
      t(s"bucketed write $src ($nb buckets)") {
        resetTbl(tbl)
        Queries.T(spark, sf, src)
          .repartition(nb, col(key))
          .write.bucketBy(nb, key).sortBy(key)
          .format("parquet").saveAsTable(tbl)
        spark.table(tbl).count()
      }
    if (write) {
      mk("orders", "graft_orders_bx", "o_orderkey")
      mk("lineitem", "graft_lineitem_bx", "l_orderkey")
    }

    def assertColocated(df: org.apache.spark.sql.DataFrame, label: String): Unit = {
      val plan = df.queryExecution.executedPlan.toString
      require(plan.contains("SortMergeJoin"), s"$label must plan a SortMergeJoin:\n$plan")
      require(!plan.contains("Exchange hashpartitioning(o_orderkey")
        && !plan.contains("Exchange hashpartitioning(l_orderkey"),
        s"$label must not shuffle on the join key:\n$plan")
    }
    // A MERGE hint cannot name a relation inside the EXISTS subquery, so
    // pin the large-scale plan shape (no broadcast candidate at 600M rows)
    // by disabling auto-broadcast for the probe's joins.
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    def mkTq4B() = spark.sql(
      """SELECT o_orderpriority, COUNT(*) AS order_count
        |FROM graft_orders_bx
        |WHERE o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1996-10-01 00:00:00'
        |  AND EXISTS (SELECT 1 FROM graft_lineitem_bx
        |              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)
    assertColocated(mkTq4B(), "bucketed tq4")
    var bucketRows: Seq[String] = Nil
    (1 to 2).foreach(_ => t("tq4 EXISTS on bucketed layout") {
      bucketRows = mkTq4B().collect().map(_.mkString("|")).toSeq
      bucketRows.length.toLong
    })
    // cross-layout equality: same answer as the plain-view contract query
    // (run with broadcast re-enabled — the contract's own regime)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
    val plainRows = SparkEntry.queries("tq4_order_priority")(spark, sf)
      .collect().map(_.mkString("|")).toSeq
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    println(s"SCALE tq4 bucketed-vs-plain rows: " +
      (if (bucketRows == plainRows) "IDENTICAL" else "MISMATCH"))
    if (bucketRows != plainRows) sys.exit(1)

    def mkQ3B() = spark.sql(
      """SELECT /*+ MERGE(l) */ o_orderkey, o_orderdate,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
        |           * (1 - CAST(l_discount AS DECIMAL(6,2)))) AS DECIMAL(38,4)) AS revenue
        |FROM graft_orders_bx o JOIN graft_lineitem_bx l ON o_orderkey = l_orderkey
        |WHERE o_orderdate < TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1996-01-01 00:00:00'
        |GROUP BY o_orderkey, o_orderdate
        |ORDER BY revenue DESC LIMIT 10""".stripMargin)
    assertColocated(mkQ3B(), "bucketed join+agg")
    (1 to 2).foreach(_ => t("q3-shape join+agg on bucketed layout") {
      mkQ3B().count()
    })
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
    if (!keep) { resetTbl("graft_orders_bx"); resetTbl("graft_lineitem_bx") }
  }

  /** Shadow the `documents` view with an ×n clone-multiplied copy
    * (distinct doc_ids). Callers restore via Engine.registerTables. */
  private def shadowDocsX(spark: SparkSession, n: Int): Unit = {
    val docs = spark.table("documents")
    val maxDoc = docs.agg(max("doc_id")).head.getLong(0) + 1
    docs.crossJoin(spark.range(n).select(col("id").as("cp")))
      .withColumn("doc_id", col("doc_id") + col("cp") * maxDoc)
      .drop("cp")
      .createOrReplaceTempView("documents")
  }

  /** Sub-shard salting: with every doc in ONE hot source the unsalted
    * packer serializes the whole corpus through one task (parallelism =
    * #sources); sub-sharding by (source, doc_id/S) spreads it across the
    * cluster at the cost of ≤1 partially-filled pack per sub-shard. */
  private def packProbe(spark: SparkSession): Unit = {
    val hot = spark.table("documents")
      .selectExpr("'hot' AS source", "doc_id",
        "CAST(size(split(text, ' ')) AS BIGINT) AS tok")
    def busyTasks(df: org.apache.spark.sql.DataFrame): Long =
      df.groupBy(org.apache.spark.sql.functions.spark_partition_id())
        .count().count()
    // AQE coalesces the toy-size shuffle into one partition (50k rows ≪
    // advisory 64 MB) — at 100 TB each sub-shard exceeds the advisory
    // size and keeps its own task. Probe the scale regime: coalescing
    // off for the parallelism measurement.
    val coalesceKey = "spark.sql.adaptive.coalescePartitions.enabled"
    val coalescePrev = spark.conf.get(coalesceKey)
    spark.conf.set(coalesceKey, "false")
    try {
      val one = Corpus.greedyPack(spark, hot, 256L, None)
      t("greedy packing, ONE hot source, unsalted") { one.count() }
      println(s"SCALE packing unsalted busy tasks: ${busyTasks(one)} (hot source serializes)")
      val salted = Corpus.greedyPack(spark, hot, 256L, Some(2048L))
      t("greedy packing, ONE hot source, sub-shard S=2048") { salted.count() }
      println(s"SCALE packing sub-sharded busy tasks: ${busyTasks(salted)}")
    } finally
      spark.conf.set(coalesceKey, coalescePrev)
  }

  /** Zone-map data skipping in the custom Arrow source: per-batch min/max
    * stats (.zmap sidecar) let pushed filters prune whole record batches at
    * PLANNING time. At 100 TB this is the parquet row-group-stats story
    * applied to the custom source: a selective range query plans a handful
    * of partitions instead of thousands. */
  private def zmapProbe(spark: SparkSession): Unit = {
    val dir = s"${Engine.tmpDir}/scaleprobe_zmap"
    ArrowSource.write(
      spark.range(10L * 1000 * 1000)
        .select(col("id"), (col("id") % 97).as("k"),
          (col("id") * 31 % 1000003).cast("double").as("v"))
        .coalesce(4),
      dir, batchRows = 8192)
    def scanZ = spark.read.format("graft.ArrowSource").load(dir)
    val sel = scanZ.filter(col("id") >= 5000000L && col("id") < 5100000L)
    println(s"SCALE arrow zone-map partitions: ${sel.rdd.getNumPartitions} " +
      s"of ${scanZ.rdd.getNumPartitions} planned for a 1% range filter")
    t("arrow 10M range filter, zone-map ON") { sel.count() }
    ArrowSource.listFiles(dir).foreach(f => ArrowSource.zmapFile(f).delete())
    t("arrow 10M range filter, zone-map OFF (sidecars deleted)") {
      scanZ.filter(col("id") >= 5000000L && col("id") < 5100000L).count()
    }
  }

  /** Band-value skew: 30% of sketches are IDENTICAL — every band then has
    * one hot (band, value) key, and the duplicate answer itself is
    * quadratic in the clone cluster (inherent: those docs ARE all pairwise
    * dups — ~40.5M pairs here). Broadcast is disabled to emulate the
    * 100 TB regime (band table too big to ship).
    *
    * MEASURED FINDING (r3): straggler enumeration is ~346 s with AQE skew
    * split OFF *and* ON — the split cannot fire: the hot (band, value)
    * shuffle partition is only ~300 KB of INPUT (9k rows/band); the skew
    * is in the join OUTPUT (m² pair explosion), which input-size
    * heuristics never see. Two remedies measured against the same answer:
    * grid-salted banding (distributes the same enumeration) and
    * collapse-first (eliminates it — the production shape).
    */
  private def skewProbe(spark: SparkSession, full: Boolean): Unit = {
    locally {
      spark.range(30000).selectExpr(
        "id AS doc_id",
        // 30% share one sketch value; the rest are effectively random
        "CASE WHEN id % 10 < 3 THEN 81985529216486895L & ((1L << 60) - 1) " +
          "ELSE xxhash64(id) & ((1L << 60) - 1) END AS sh")
        .createOrReplaceTempView("hj_skew")
      val q =
        """SELECT count(*) FROM hj_skew a JOIN hj_skew b
          |ON bit_count(a.sh ^ b.sh) <= 8 AND a.doc_id < b.doc_id""".stripMargin
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      if (full) {
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
        t("hamming 30k, 30% one hot sketch, skew-split OFF") {
          spark.sql(q).collect()(0).getLong(0)
        }
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "8m")
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m")
        t("hamming 30k, 30% one hot sketch, skew-split ON") {
          spark.sql(q).collect()(0).getLong(0)
        }
      }

      // (1) Grid-salted banding — q47's triangular grid applied to the band
      // join: sub-group g = hash(doc_id) mod G; the left replicates to
      // cells (g, j≥g), the right to (i≤g, g), so every unordered pair
      // lands in EXACTLY one of G(G+1)/2 cells and the hot group's m²
      // work is spread over G² tasks with (m/G)² each. Same first-shared-
      // band dedup + exact bit_count verify as the rewrite emits.
      locally {
        val G = 16
        val bds = HammingJoinRewrite.bandPositions(8)
        val structs = bds.zipWithIndex.map { case (ps, i) =>
          s"struct($i AS band, ${HammingJoinRewrite.bandValSql("sh", ps)} AS bv)"
        }.mkString(",\n  ")
        val firstShared = "CASE " + bds.zipWithIndex.map { case (ps, i) =>
          s"WHEN (${HammingJoinRewrite.bandValSql("a.sh", ps)}) = (${HammingJoinRewrite.bandValSql("b.sh", ps)}) THEN $i"
        }.mkString(" ") + " END"
        spark.sql(
          s"""SELECT doc_id, sh, band, bv, pmod(xxhash64(doc_id), $G) AS g
             |FROM hj_skew
             |LATERAL VIEW inline(array(
             |  $structs)) t AS band, bv""".stripMargin)
          .createOrReplaceTempView("hj_bands")
        val salted =
          s"""WITH l AS (
             |  SELECT * FROM hj_bands
             |  LATERAL VIEW explode(sequence(g, ${G - 1})) t AS cellj),
             |r AS (
             |  SELECT * FROM hj_bands
             |  LATERAL VIEW explode(sequence(0, g)) t AS celli)
             |SELECT count(*) FROM l a JOIN r b
             |  ON a.band = b.band AND a.bv = b.bv
             | AND a.cellj = b.g AND b.celli = a.g
             | AND (a.g < b.g OR a.doc_id < b.doc_id)
             | AND bit_count(a.sh ^ b.sh) <= 8
             | AND a.band = $firstShared""".stripMargin
        t(s"hamming 30k hot, grid-salted bands G=$G") {
          spark.sql(salted).collect()(0).getLong(0)
        }
      }

      // (2) Collapse-first — the PRODUCTION shape for clone-heavy corpora:
      // group identical sketches (exact-dup collapse, one cheap shuffle),
      // run the near-dup join on DISTINCT sketches only (21k rows, no hot
      // band key left), and recover pair counts arithmetically (m·(m−1)/2
      // within a clone cluster, m_a·m_b across matching clusters). Output
      // work drops from Σm² enumerated rows to #distinct² candidates —
      // at 100 TB this is the only viable shape, and it is exactly the
      // q43-exact-dedup → q45-near-dup composition the pipeline already
      // uses. The banded join below still goes through HammingJoinRewrite.
      locally {
        val collapsed =
          """WITH d AS (SELECT sh, COUNT(*) AS m FROM hj_skew GROUP BY sh),
            |within AS (SELECT SUM(m * (m - 1) DIV 2) AS p FROM d),
            |crossm AS (
            |  SELECT SUM(a.m * b.m) AS p
            |  FROM d a JOIN d b ON bit_count(a.sh ^ b.sh) <= 8 AND a.sh < b.sh)
            |SELECT within.p + coalesce(crossm.p, 0L) FROM within, crossm""".stripMargin
        t("hamming 30k hot, collapse-first (distinct sketches)") {
          spark.sql(collapsed).collect()(0).getLong(0)
        }
      }
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
      spark.conf.unset("spark.sql.adaptive.skewJoin.skewedPartitionFactor")
      spark.conf.unset("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes")
      spark.conf.unset("spark.sql.adaptive.advisoryPartitionSizeInBytes")
    }
  }

  /** Candidate-count evidence for the banded SimHash pairing, measured with
    * the RULE'S OWN band layout (interleaved k+1=9 bands over 64 bits): the
    * (band, value) equi-join examines only colliding pairs, not n²/2.
    * Requires the `q45_s` sketch view left behind by a prior q45 run. */
  private def runCandidateCount(spark: SparkSession): Unit = {
    // q45_s carries (rep, sh) since the round-10 collapse (this probe
    // read the pre-collapse doc_id column until round 14 — it threw an
    // AnalysisException on any post-round-10 tree)
    val n = spark.table("q45_s").count()
    val structs = HammingJoinRewrite.bandPositions(8).zipWithIndex.map {
      case (ps, i) => s"struct($i AS band, ${HammingJoinRewrite.bandValSql("sh", ps)} AS bv)"
    }.mkString(",\n  ")
    val bands = spark.sql(
      s"""SELECT rep, band, bv FROM q45_s
         |LATERAL VIEW inline(array(
         |  $structs)) t AS band, bv""".stripMargin)
    val cand = bands.as("a").join(bands.as("b"),
      col("a.band") === col("b.band") && col("a.bv") === col("b.bv")
        && col("a.rep") < col("b.rep"))
      .select(col("a.rep"), col("b.rep")).distinct().count()
    println(f"SCALE simhash-band candidates: $cand%,d of ${n * (n - 1) / 2}%,d all-pairs (n=$n%,d sketches)")
  }
}
