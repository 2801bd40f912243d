package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Pins the round-10 collapse-first restatements of the near-dup family
  * on a CRAFTED corpus that hits the node-set edge cases the organic
  * test data may not isolate:
  *  - a singleton content with no qualifying cross edge (must be ABSENT
  *    from q66's clusters — the "has ≥1 edge" rule),
  *  - a multi-member clone group with no cross edges (must form its own
  *    clique cluster — the self-loop rule),
  *  - transitive chains where A~B and B~C but A!~C (one component),
  *  - clone expansion of qualifying content pairs,
  *  - a zero vector (cos = 0/0) and a same-embedding-different-label
  *    pair for q47.
  *
  * References are independent of the implementation under test: a plain
  * Scala union-find over 4-char-substring sets for q66, and the ORIGINAL
  * doc-level naive join SQL for q47 (both run in the same engine, so the
  * restatement — not cross-engine dialect — is what's isolated). Runs in
  * a fresh `newSession` so the crafted `documents`/`embeddings` temp
  * views never leak into specs sharing the session. */
class CollapseFirstSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Engine.wireSession(Engine.session("local[4]").newSession())

  // (doc_id, text): three texts with heavy 4-gram overlap chains, one
  // isolated singleton, one isolated clone group, one non-'dup' text
  private val docs: Seq[(Long, String)] = Seq(
    // clone group A (3 members) strongly overlapping content C (1 member)
    1L -> "dup aaaa bbbb cccc",
    2L -> "dup aaaa bbbb cccc",
    3L -> "dup aaaa bbbb cccc",
    20L -> "dup aaaa bbbb cccd",
    // singleton with no qualifying edge: must NOT appear in q66 output
    10L -> "dup zzzz yyyy xxxx",
    // clone group with no cross edges: its own clique cluster
    30L -> "dup mmmm nnnn oooo",
    31L -> "dup mmmm nnnn oooo",
    // transitive chain: P~Q (jacc .67) and Q~R (.43) qualify, P~R (.19)
    // does not — P and R land in one component via Q only
    40L -> "dup pppp qqqq",
    41L -> "dup pppp qqqq rrrr",
    42L -> "dup qqqq rrrr ssss",
    // filtered out entirely (no 'dup' marker)
    50L -> "aaaa bbbb cccc plain")

  private def grams(t: String): Set[String] = t.sliding(4).toSet
  private def jacc(a: Set[String], b: Set[String]): Double =
    a.intersect(b).size.toDouble / a.union(b).size

  test("q66 clusters == substring-set union-find reference on the crafted corpus") {
    import spark.implicits._
    docs.toDF("doc_id", "text").createOrReplaceTempView("documents")
    val got = SparkEntry.queries("q66_dedup_components")(spark, "unused")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toList

    // reference: union-find over distinct contents, node rule = multi-member
    // group OR incident content edge (thresholds chosen far from 0.35 so
    // hash-vs-substring gram representation cannot flip an edge)
    val kept = docs.filter { case (_, t) => t.contains("dup") && t.length >= 4 }
    val groups = kept.groupBy(_._2).map { case (t, ms) => (t, ms.map(_._1).sorted) }.toList
    val reps = groups.map(_._2.head)
    val parent = scala.collection.mutable.Map(reps.map(r => r -> r): _*)
    def find(x: Long): Long = if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
    def union(a: Long, b: Long): Unit = { val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb) }
    val edges = for {
      (ta, ia) <- groups; (tb, ib) <- groups
      if ia.head < ib.head && jacc(grams(ta), grams(tb)) >= 0.35
    } yield (ia.head, ib.head)
    edges.foreach { case (a, b) => union(a, b) }
    val inGraph = groups.filter { case (t, ids) =>
      ids.size >= 2 || edges.exists { case (a, b) => a == ids.head || b == ids.head } }
    val expected = inGraph.groupBy { case (_, ids) => find(ids.head) }.values.map { comp =>
      val ids = comp.flatMap(_._2)
      (ids.min, ids.size.toLong, ids.min, ids.max)
    }.toList.sortBy(_._1)

    assert(got == expected, s"got=$got expected=$expected")
    // the rules this corpus isolates, stated directly:
    assert(!got.contains((10L, 1L, 10L, 10L)), "edge-free singleton 10 must be absent")
    assert(got.map(_._2).sum == 9L, "memberships: {1,2,3,20} + {30,31} + {40,41,42}")
    assert(got.contains((30L, 2L, 30L, 31L)), "edge-free clone group is its own clique cluster")
    assert(got.contains((1L, 4L, 1L, 20L)), "clone group A + overlapping content C merge")
    assert(got.contains((40L, 3L, 40L, 42L)), "P~Q~R transitive chain is ONE component")
  }

  test("q47 collapse-first == original doc-level naive join on the crafted corpus") {
    import spark.implicits._
    Seq(
      (1L, "L1", Array(1f, 0f)), (2L, "L1", Array(1f, 0f)),   // clone pair, cos 1.0
      (3L, "L1", Array(0f, 1f)),                               // orthogonal: no pairs
      (4L, "L1", Array(1f, 0.2f)), (6L, "L1", Array(1f, 0.2f)), (7L, "L1", Array(1f, 0.2f)),
      (8L, "L2", Array(1f, 0f))                                // same content, other label
    ).toDF("vec_id", "label", "embedding").createOrReplaceTempView("embeddings")

    val naive = spark.sql(
      """WITH e AS (
        |  SELECT vec_id, label, embedding,
        |    sqrt(dot_product(embedding, embedding)) AS nrm
        |  FROM embeddings)
        |SELECT va, vb, label, cos_sim FROM (
        |  SELECT a.vec_id AS va, b.vec_id AS vb, a.label AS label,
        |    round(dot_product(a.embedding, b.embedding) / (a.nrm * b.nrm), 6) AS cos_sim
        |  FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id) t
        |WHERE cos_sim >= 0.4
        |ORDER BY va, vb""".stripMargin).collect().map(_.toSeq).toList
    val got = SparkEntry.queries("q47_dedup_embedding_cosine")(spark, "unused")
      .collect().map(_.toSeq).toList

    assert(got == naive, s"got=$got naive=$naive")
    // stated directly: clones expand at cos 1.0; the cross-label same-content
    // pair does NOT appear; vectors 1 and 4 pair at cos 1/sqrt(1.04)
    assert(got.contains(Seq(1L, 2L, "L1", 1.0)))
    assert(!got.exists(r => r(0) == 8L || r(1) == 8L), "label L2 must not join L1")
    assert(got.exists(r => r(0) == 1L && r(1) == 4L))
  }

  test("chunk-parallel expansion is chunk-invariant (round 11 straggler fix)") {
    import spark.implicits._
    // groups LARGER than the test chunk sizes, with a qualifying cross
    // pair, so the (ca, cb) grid genuinely tiles: chunk=2 over a 7-group
    // produces 4 chunks / 10 triangular tiles; chunk=1 is the extreme
    // one-pair-per-tile tiling. Equal output across chunk sizes (default
    // 2048 = the single-chunk path, provably the pre-split semantics) is
    // exactly the invariant the rewrite must keep.
    val tA = "dup aaaa bbbb cccc dddd eeee ffff gggg"  // 7 clones
    val tB = "dup aaaa bbbb cccc dddd eeee ffff hhhh"  // 5 clones, near A
    val docs = Seq(1L, 3L, 5L, 7L, 9L, 11L, 13L).map(_ -> tA) ++
      Seq(2L, 4L, 6L, 8L, 10L).map(_ -> tB) :+ (100L -> "dup zzzz yyyy")
    docs.toDF("doc_id", "text").createOrReplaceTempView("documents")
    (Seq(1L, 2L, 3L, 4L, 5L, 6L).map(i => (i, "L1", Array(1f, 0f))) ++
     Seq(7L, 8L, 9L, 10L).map(i => (i, "L1", Array(1f, 0.2f))))
      .toDF("vec_id", "label", "embedding").createOrReplaceTempView("embeddings")

    def runAll(chunk: Option[Int]): Map[String, List[Seq[Any]]] = {
      chunk match {
        case Some(c) => spark.conf.set(Pipeline.ExpandChunkConf, c.toString)
        case None    => spark.conf.unset(Pipeline.ExpandChunkConf)
      }
      Seq("q44_dedup_minhash_lsh", "q45_dedup_simhash",
          "q46_dedup_ngram_jaccard", "q47_dedup_embedding_cosine").map { n =>
        n -> SparkEntry.queries(n)(spark, "unused").collect().map(_.toSeq).toList
      }.toMap
    }
    try {
      val base = runAll(None)
      // arithmetic floors that don't depend on LSH banding: the self
      // cliques alone are C(7,2)+C(5,2)=31 doc pairs / C(6,2)+C(4,2)=21
      // vec pairs; q46's cross pair qualifies deterministically (substring
      // jacc far above 0.35) adding 7*5=35
      assert(base("q44_dedup_minhash_lsh").size >= 31)
      assert(base("q46_dedup_ngram_jaccard").size == 66,
        s"got ${base("q46_dedup_ngram_jaccard").size}")
      assert(base("q47_dedup_embedding_cosine").size == 45,
        s"got ${base("q47_dedup_embedding_cosine").size}")
      for (c <- Seq(2, 1)) {
        val got = runAll(Some(c))
        for ((n, rows) <- base)
          assert(got(n) == rows, s"$n diverged at chunk=$c")
      }
      // and the split must actually BUY parallelism: an explicit-count
      // exchange sits between the chunk grid and the element explode
      spark.conf.set(Pipeline.ExpandChunkConf, "2")
      val plan = SparkEntry.queries("q44_dedup_minhash_lsh")(spark, "unused")
        .queryExecution.executedPlan.toString
      assert(plan.contains("REPARTITION_BY_NUM"), plan.take(2000))
    } finally spark.conf.unset(Pipeline.ExpandChunkConf)
  }

  test("q47 adaptive grid is cell-size-invariant (round 13 straggler fix)") {
    import spark.implicits._
    // 9 distinct contents in L1 (one cloned), 3 in L2: cell=1 forces
    // G = m_label (9 and 3 — every content its own sub-group, maximal
    // grid), cell=2 a mid grid (G=5/2), and the default 2048 hits the
    // parallelism FLOOR G = min(m_label, 4) (here 4 and 3) — since the
    // round-13 floor the degenerate G=1 plain join is only reachable
    // for singleton labels, which produce no pairs. Equal output across
    // all three pins the tiling: every unordered within-label pair
    // lands in exactly one (min,max) cell at ANY G, including G values
    // that differ per label in one run.
    (Seq((1L, "L1", Array(1f, 0f)), (2L, "L1", Array(1f, 0f))) ++
     (3L to 9L).map(i => (i, "L1", Array(1f, i / 100f))) ++
     Seq((20L, "L2", Array(0.5f, 1f)), (21L, "L2", Array(0.5f, 1.01f)),
         (22L, "L2", Array(0.5f, 0.99f))))
      .toDF("vec_id", "label", "embedding").createOrReplaceTempView("embeddings")
    def run(cell: Option[String]): List[Seq[Any]] = {
      cell match {
        case Some(c) => spark.conf.set(Pipeline.GridCellConf, c)
        case None    => spark.conf.unset(Pipeline.GridCellConf)
      }
      SparkEntry.queries("q47_dedup_embedding_cosine")(spark, "unused")
        .collect().map(_.toSeq).toList
    }
    try {
      val base = run(None)
      // floor: the L1 near-collinear family alone gives C(8,2)-ish pairs
      // above 0.4 plus the clone pair; exact count pinned so a silently
      // empty grid can never pass
      assert(base.size == 39, s"got ${base.size}")
      for (c <- Seq("2", "1"))
        assert(run(Some(c)) == base, s"diverged at ${Pipeline.GridCellConf}=$c")
    } finally spark.conf.unset(Pipeline.GridCellConf)
  }

  test("q47 on a zero vector: ANSI divide-by-zero, same as the naive join") {
    import spark.implicits._
    Seq((1L, "L1", Array(1f, 0f)), (5L, "L1", Array(0f, 0f)))
      .toDF("vec_id", "label", "embedding").createOrReplaceTempView("embeddings")
    // both formulations evaluate round(dot/(nrm*nrm or na*nb)) on the zero
    // vector and raise under the session's ANSI mode — the restatement
    // must not silently swallow what the naive join rejects
    val ex = intercept[Exception] {
      SparkEntry.queries("q47_dedup_embedding_cosine")(spark, "unused").collect()
    }
    assert(ex.getMessage.contains("DIVIDE_BY_ZERO"), ex.getMessage)
  }

  test("q47 on a zero vector ALONE in its label: parity with the naive Spark join") {
    import spark.implicits._
    // ADVICE r10 asked that a singleton zero vector not raise eagerly in
    // groupsSql (selfcos is now guarded to groups of size >= 2). The
    // remaining raise is NOT a collapse-first artifact: under Spark ANSI
    // the pushed `cos_sim >= 0.4` predicate is evaluated inside the join
    // on the label-self-pair before `vec_id < vec_id` can exclude it, so
    // the NAIVE formulation raises on this corpus too (probed empirically;
    // DuckDB's lazy per-pair evaluation returns empty — an engine-level
    // ANSI evaluation-order difference, not a restatement divergence).
    // Pin parity: both formulations raise the same DIVIDE_BY_ZERO here.
    Seq((1L, "L1", Array(1f, 0f)), (2L, "L1", Array(1f, 0f)),
        (9L, "L9", Array(0f, 0f)))
      .toDF("vec_id", "label", "embedding").createOrReplaceTempView("embeddings")
    val naiveEx = intercept[Exception] {
      spark.sql(
        """WITH e AS (
          |  SELECT vec_id, label, embedding,
          |    sqrt(dot_product(embedding, embedding)) AS nrm
          |  FROM embeddings)
          |SELECT va, vb, label, cos_sim FROM (
          |  SELECT a.vec_id AS va, b.vec_id AS vb, a.label AS label,
          |    round(dot_product(a.embedding, b.embedding) / (a.nrm * b.nrm), 6) AS cos_sim
          |  FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id) t
          |WHERE cos_sim >= 0.4
          |ORDER BY va, vb""".stripMargin).collect()
    }
    val ex = intercept[Exception] {
      SparkEntry.queries("q47_dedup_embedding_cosine")(spark, "unused").collect()
    }
    assert(naiveEx.getMessage.contains("DIVIDE_BY_ZERO"), naiveEx.getMessage)
    assert(ex.getMessage.contains("DIVIDE_BY_ZERO"), ex.getMessage)
  }
}
