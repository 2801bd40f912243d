package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import Engine.GraftCkptOps

/** ANN recall levers on a CLUSTERED synthetic corpus.
  *
  * q106 honestly reports ~0 recall on the near-uniform random driver
  * embeddings: on such data no bucketing scheme beats chance, so the
  * recall levers (tables, bits, multiprobe, nprobe) need the corpus shape
  * they exist FOR. Tight blobs with OVERLAPPING sibling pairs put each
  * query's true top-5 across two cells; each lever must lift recall@5
  * there, or (bits) trade candidate volume for recall:
  *
  *   - LSH tables 1 -> 2        (union of two independent sketches)
  *   - LSH single -> multiprobe (flip the min-|margin| bit per table)
  *   - IVF nprobe 1 -> 2        (probe the runner-up centroid cell)
  *   - LSH bits 12 -> 6         (coarser buckets: recall vs candidates)
  *
  * Corpus: dim 64 (the sketch's hyperplane dimensionality), 20 well-
  * separated super-centers, each split into two sibling sub-blobs whose
  * offset is comparable to the member noise, 50 members per sub-blob
  * (n = 2000, matching sf0.1). IVF cells are the 40 sub-blob labels, so
  * nprobe=1 sees only the query's own sub-blob while its true neighbor
  * set includes siblings. Deterministic (fixed seed); the recorded
  * recall/candidate table is BASELINE.md §"ANN recall levers". The views
  * live on a fresh `newSession`, so the shared session's `embeddings`
  * view stays the testdata's. */
class RecallLeverSpec extends AnyFunSuite {

  private val Q = 5 // queries: vec_id < 5, one per distinct sub-blob

  private lazy val spark: SparkSession = {
    val s = Engine.wireSession(Engine.session("local[4]").newSession())
    buildBlobCorpus(s)
    s
  }

  /** arm name -> (recall@5, candidate count) */
  private lazy val arms: Map[String, (Double, Long)] = {
    val exact = exactTop5(spark)
    def recallOf(res: DataFrame): Double = {
      val got = res.select("qid", "vec_id").collect()
        .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
      exact.map { case (q, e) =>
        got.getOrElse(q, Set.empty).count(e.contains).toDouble / e.size
      }.sum / exact.size
    }
    def arm(run: => (DataFrame, Long)): (Double, Long) = {
      val (res, cands) = run
      (recallOf(res), cands)
    }
    Map(
      "lsh bits=12 tables=1" -> arm(lshArm(12, tables = 1, multiprobe = false)),
      "lsh bits=12 tables=2" -> arm(lshArm(12, tables = 2, multiprobe = false)),
      "lsh bits=6 tables=2" -> arm(lshArm(6, tables = 2, multiprobe = false)),
      "lsh bits=12 tables=2 multiprobe" -> arm(lshArm(12, tables = 2, multiprobe = true)),
      "ivf nprobe=1" -> arm(ivfArm(1)),
      "ivf nprobe=2" -> arm(ivfArm(2)))
  }
  private def recall(arm: String): Double = arms(arm)._1
  private def candidates(arm: String): Long = arms(arm)._2

  test("LSH: 2 tables lift recall over 1") {
    assert(recall("lsh bits=12 tables=2") > recall("lsh bits=12 tables=1"), arms)
  }

  test("LSH: multiprobe lifts recall over a single probe") {
    assert(recall("lsh bits=12 tables=2 multiprobe") > recall("lsh bits=12 tables=2"), arms)
  }

  test("IVF: nprobe=2 lifts recall over nprobe=1") {
    assert(recall("ivf nprobe=2") > recall("ivf nprobe=1"), arms)
  }

  test("LSH: bits 12 -> 6 keeps recall and pays for it in candidates") {
    assert(recall("lsh bits=6 tables=2") >= recall("lsh bits=12 tables=2"), arms)
    assert(candidates("lsh bits=6 tables=2") > candidates("lsh bits=12 tables=2"), arms)
  }

  /** 20 super-centers × 2 sibling sub-blobs × 50 members, dim 64.
    * Sibling offset norm (~0.35·√64 ≈ 2.8) sits well under the member
    * noise norm (√64 = 8) and far under the super separation (~14·√64):
    * sibling members interleave with own-blob members in cosine rank, so
    * true neighbors straddle the sibling pair but never cross supers.
    * vec_id ≡ sub-blob (mod 40): queries 0..4 land in 5 distinct cells. */
  private def buildBlobCorpus(spark: SparkSession): Unit = {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val dim = 64
    val supers = Array.fill(20)(Array.fill(dim)(rnd.nextGaussian() * 10.0))
    val offsets = Array.fill(20)(Array.fill(dim)(rnd.nextGaussian() * 0.35))
    val rows = (0 until 2000).map { i =>
      val sub = i % 40
      val (sup, sign) = (sub / 2, if (sub % 2 == 0) 1.0 else -1.0)
      val v = Array.tabulate(dim)(d =>
        (supers(sup)(d) + sign * offsets(sup)(d) / 2 + rnd.nextGaussian()).toFloat)
      (i.toLong, v.toSeq, sub)
    }
    rows.toDF("vec_id", "embedding", "label")
      .repartition(8).createOrReplaceTempView("embeddings")
  }

  private def exactTop5(spark: SparkSession): Map[Long, Set[Long]] =
    spark.sql(
      s"""WITH e AS (SELECT vec_id, embedding,
         |  sqrt(dot_product(embedding, embedding)) AS nrm FROM embeddings)
         |SELECT qid, vid FROM (
         |  SELECT q.vec_id AS qid, e.vec_id AS vid,
         |    ROW_NUMBER() OVER (PARTITION BY q.vec_id
         |      ORDER BY dot_product(q.embedding, e.embedding) / (q.nrm * e.nrm) DESC, e.vec_id) AS rn
         |  FROM e q JOIN e ON e.vec_id != q.vec_id WHERE q.vec_id < $Q) t
         |WHERE rn <= 5""".stripMargin)
      .collect().groupBy(_.getLong(0)).view
      .mapValues(_.map(_.getLong(1)).toSet).toMap

  /** Generalized [[Corpus.lshSearch]] with table-count + multiprobe dials;
    * returns (top-5 result, candidate-pair count). Candidates stay a
    * (table, bucket) equi-join — the collision-bounded scale shape. */
  private def lshArm(bits: Int, tables: Int, multiprobe: Boolean): (DataFrame, Long) = {
    val sk = Corpus.lshSketchFlips(spark, bits).graftCkpt()
    sk.createOrReplaceTempView("rp_sk")
    val flips = if (multiprobe)
      s"""UNION ALL
         |SELECT vec_id, t, b FROM (
         |  SELECT vec_id,
         |    inline(array(
         |      struct(1 AS t, CAST(b1 ^ shiftleft(CAST(1 AS BIGINT), CAST(f1-1 AS INT)) AS BIGINT) AS b),
         |      struct(2 AS t, CAST(b2 ^ shiftleft(CAST(1 AS BIGINT), CAST(f2-1 AS INT)) AS BIGINT) AS b)))
         |  FROM rp_sk WHERE vec_id < $Q) f WHERE t <= $tables""".stripMargin
    else ""
    val cand = spark.sql(
      s"""WITH tb AS (
         |  SELECT vec_id, t, b FROM rp_sk
         |  LATERAL VIEW inline(array(struct(1 AS t, b1 AS b), struct(2 AS t, b2 AS b))) x AS t, b
         |  WHERE t <= $tables),
         |qtb AS (SELECT vec_id, t, b FROM tb WHERE vec_id < $Q $flips)
         |SELECT DISTINCT q.vec_id AS qid, c.vec_id AS vid
         |FROM qtb q JOIN tb c ON q.t = c.t AND q.b = c.b AND c.vec_id != q.vec_id""".stripMargin)
      .graftCkpt()
    cand.createOrReplaceTempView("rp_cand")
    val res = spark.sql(
      s"""WITH scored AS (
         |  SELECT qid, vid, dot_product(qe.embedding, ce.embedding) / (qe.nrm * ce.nrm) AS cos_sim
         |  FROM rp_cand JOIN rp_sk qe ON qe.vec_id = qid JOIN rp_sk ce ON ce.vec_id = vid)
         |SELECT qid, vid AS vec_id FROM (
         |  SELECT qid, vid, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos_sim DESC, vid) AS rn
         |  FROM scored) t WHERE rn <= 5""".stripMargin)
    (res, cand.count())
  }

  /** IVF over the label cells (the [[Pipeline]] q49/q104 template shape):
    * centroid per cell, query probes its top-`nprobe` cells by centroid
    * cosine, exact rerank inside the probed cells only. */
  private def ivfArm(nprobe: Int): (DataFrame, Long) = {
    val cand = spark.sql(
      s"""WITH dims AS (
         |  SELECT label, pos, avg(CAST(v AS DOUBLE)) AS cv FROM (
         |    SELECT label, posexplode(embedding) AS (pos, v) FROM embeddings) x
         |  GROUP BY label, pos),
         |centroids AS (
         |  SELECT label, cvec, sqrt(dot_product(cvec, cvec)) AS cn FROM (
         |    SELECT label, transform(array_sort(collect_list(struct(pos, cv))), p -> p.cv) AS cvec
         |    FROM dims GROUP BY label) c0),
         |e AS (SELECT vec_id, label, embedding,
         |  sqrt(dot_product(embedding, embedding)) AS nrm FROM embeddings),
         |q AS (SELECT vec_id AS qid, embedding AS qv, nrm AS qn FROM e WHERE vec_id < $Q),
         |assign AS (
         |  SELECT qid, qv, qn, cell FROM (
         |    SELECT qid, qv, qn, centroids.label AS cell,
         |      ROW_NUMBER() OVER (PARTITION BY qid
         |        ORDER BY dot_product(qv, cvec) / (qn * cn) DESC, centroids.label) AS rn
         |    FROM q CROSS JOIN centroids) t
         |  WHERE rn <= $nprobe)
         |SELECT qid, e.vec_id, dot_product(qv, e.embedding) / (qn * e.nrm) AS cos_sim
         |FROM assign JOIN e ON e.label = assign.cell AND e.vec_id != qid""".stripMargin)
      .graftCkpt()
    cand.createOrReplaceTempView("rp_ivf")
    val res = spark.sql(
      s"""SELECT qid, vec_id FROM (
         |  SELECT qid, vec_id, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos_sim DESC, vec_id) AS rn
         |  FROM rp_ivf) t WHERE rn <= 5""".stripMargin)
    (res, cand.count())
  }
}
