package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import Engine.GraftCkptOps
import org.apache.spark.sql.functions._

/** Round-4 training-corpus operators beyond [[Pipeline]]: context-window
  * chunking, sequence packing (both the concat-and-chunk and the greedy
  * no-split variants), passage-level global dedup, and k-means (Lloyd)
  * clustering over the embedding corpus.
  *
  * These are the remaining table-stakes ops of a 100 TB pretraining-data
  * pipeline: every document-local computation is a codegen'd expression
  * (map-side, no shuffle); packing is a per-shard stateful scan with NO
  * whole-group buffering; passage dedup is one shuffle on the passage hash
  * + one on doc_id; k-means is the classic broadcast-centroids iteration
  * (the training step behind [[Pipeline]]'s IVF cells).
  *
  * Oracle determinism follows Pipeline's contract: identical fold order
  * for float math on both engines (the codegen'd `dot_product` ≡ DuckDB's
  * seeded list_reduce), hashes are md5, and every rank/threshold is
  * applied to a ROUNDED value so a last-ulp difference cannot flip a
  * decision.
  */
object Corpus {
  import Queries.{Entry, e}

  // ---------------------------------------------------------------------
  // q97: context-window chunking (chunk 120 chars, stride 90 = overlap 30)
  // ---------------------------------------------------------------------

  /** Overlapping fixed-size character chunks per document — the map from
    * raw documents to model-context-sized training rows. Map-side only: a
    * `sequence` + explode per row, no shuffle before the final ORDER BY.
    * n_chunks = 1 + ceil(max(0, len − CHUNK) / STRIDE) so every character
    * is covered and a doc shorter than one chunk still yields one row. */
  private val docChunking = {
    def q(dialect: String): String = {
      val explode = dialect match {
        case "spark" => "d LATERAL VIEW explode(sequence(0, n_chunks - 1)) t AS idx"
        case _ => "d, unnest(range(0, n_chunks)) AS t(idx)"
      }
      val sub = dialect match {
        case "spark" => "substr(text, idx * 90 + 1, 120)"
        case _ => "substr(text, (idx * 90 + 1)::INT, 120)"
      }
      s"""WITH d AS (
         |  SELECT doc_id, text,
         |    CAST(1 + floor((greatest(0, length(text) - 120) + 89) / 90.0) AS INT) AS n_chunks
         |  FROM documents WHERE doc_id < 60)
         |SELECT doc_id, CAST(idx AS BIGINT) AS chunk_idx,
         |  CAST(idx * 90 + 1 AS BIGINT) AS start_pos,
         |  CAST(length($sub) AS BIGINT) AS chunk_len,
         |  md5($sub) AS chunk_md5
         |FROM $explode
         |ORDER BY doc_id, chunk_idx""".stripMargin
    }
    e("q97_doc_chunking", q("duck")) { (s, _) => s.sql(q("spark")) }
  }

  // ---------------------------------------------------------------------
  // q98: concat-and-chunk sequence packing (GPT-style, windowed cumsum)
  // ---------------------------------------------------------------------

  /** Documents concatenated into a token stream PER SOURCE SHARD and cut
    * every C=256 tokens: each doc's pack span falls out of a running token
    * offset — one `SUM OVER (PARTITION BY source ORDER BY doc_id)` window,
    * i.e. one shuffle on the shard key and linear work. Packing within the
    * shard (not globally) is the 100 TB shape: a global ORDER BY cumsum
    * would serialize the corpus through one task. */
  private val seqPacking = {
    def q(tok: String): String =
      s"""WITH toks AS (
         |  SELECT source, doc_id, CAST($tok AS BIGINT) AS tok
         |  FROM documents),
         |off AS (
         |  SELECT source, doc_id, tok,
         |    CAST(COALESCE(SUM(tok) OVER (PARTITION BY source ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_offset
         |  FROM toks)
         |SELECT source, doc_id, tok, start_offset,
         |  CAST(floor(start_offset / 256.0) AS BIGINT) AS pack_first,
         |  CAST(floor((start_offset + tok - 1) / 256.0) AS BIGINT) AS pack_last,
         |  CAST(floor((start_offset + tok - 1) / 256.0)
         |       - floor(start_offset / 256.0) + 1 AS BIGINT) AS n_packs
         |FROM off ORDER BY source, doc_id""".stripMargin
    e("q98_sequence_packing", q("len(string_split(text, ' '))")) { (s, _) =>
      s.sql(q("size(split(text, ' '))"))
    }
  }

  // ---------------------------------------------------------------------
  // q99: greedy first-fit packing (no doc splitting) — stateful shard scan
  // ---------------------------------------------------------------------

  /** Greedy no-split packing: docs are scanned in doc_id order within each
    * source shard; a doc that would overflow the C=256 budget starts a new
    * pack (an oversized doc gets a pack to itself). The run-accumulate
    * state (current pack, current fill) cannot be a plain window function
    * — each reset depends on all prior resets — so the Spark side is the
    * canonical distributed stateful scan: repartition on the shard key,
    * sortWithinPartitions (secondary sort), then one `mapPartitions` pass
    * holding O(1) state — NO whole-group buffering, shards stream through.
    * The DuckDB oracle computes the identical recurrence as a recursive
    * CTE stepping row_number-per-source (all sources advance in parallel,
    * depth = max shard size). */
  /** The greedy first-fit scan shared by q99 and the sub-sharded scale
    * variant: docs keyed by `shard`, secondary-sorted by doc_id, one
    * O(1)-state mapPartitions pass; a new shard resets (pack, fill).
    *
    * Sub-sharding (`subShardDocs = Some(S)`) bounds per-task serialization:
    * the pack key becomes (source, floor(doc_id / S)), so a single hot
    * source splits across ~|source|/S independent tasks instead of
    * serializing through one. Boundary semantics (documented contract):
    * packs NEVER cross a sub-shard boundary — each sub-shard starts pack 0
    * with an empty budget, so up to one trailing partially-filled pack per
    * sub-shard is the price of parallelism (bounded fill loss:
    * ≤ budget·#subshards tokens). Pack identity is (source, sub, pack_id).
    * Within a sub-shard the packing is bit-identical to running the
    * unsalted packer on that sub-shard's docs alone (CorpusSpec). */
  private[graft] def greedyPack(s: SparkSession, docs: DataFrame,
      budget: Long, subShardDocs: Option[Long] = None): DataFrame = {
    import s.implicits._
    val keyed = subShardDocs match {
      case Some(sz) => docs.select(
        concat_ws("#", col("source"), (col("doc_id") / sz).cast("long")).as("shard"),
        col("source"), (col("doc_id") / sz).cast("long").as("sub"),
        col("doc_id"), col("tok"))
      case None => docs.select(col("source").as("shard"), col("source"),
        lit(0L).as("sub"), col("doc_id"), col("tok"))
    }
    keyed.as[(String, String, Long, Long, Long)]
      .repartition(col("shard"))
      .sortWithinPartitions("shard", "doc_id")
      .mapPartitions { it =>
        // O(1) state per task; shards are contiguous after the secondary
        // sort, so a shard boundary resets the pack counter
        var cur: String = null
        var pack = 0L
        var fill = 0L
        it.map { case (sh, src, sub, id, tok) =>
          if (sh != cur) { cur = sh; pack = 0L; fill = 0L }
          if (fill > 0 && fill + tok > budget) { pack += 1; fill = 0L }
          fill += tok
          (src, sub, id, tok, pack, fill)
        }
      }.toDF("source", "sub", "doc_id", "tok", "pack_id", "fill_after")
  }

  private val greedyPacking = {
    val oracle =
      """WITH RECURSIVE d AS (
        |  SELECT source, doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS tok,
        |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS rn
        |  FROM documents),
        |s AS (
        |  SELECT source, doc_id, tok, rn, CAST(0 AS BIGINT) AS pack_id, tok AS fill_after
        |  FROM d WHERE rn = 1
        |  UNION ALL
        |  SELECT d.source, d.doc_id, d.tok, d.rn,
        |    CASE WHEN s.fill_after + d.tok > 256 THEN s.pack_id + 1 ELSE s.pack_id END,
        |    CASE WHEN s.fill_after + d.tok > 256 THEN d.tok ELSE s.fill_after + d.tok END
        |  FROM s JOIN d ON d.source = s.source AND d.rn = s.rn + 1)
        |SELECT source, doc_id, tok, pack_id, fill_after FROM s
        |ORDER BY source, doc_id""".stripMargin
    e("q99_greedy_packing", oracle) { (s, _) =>
      val docs = s.table("documents")
        .selectExpr("source", "doc_id", "CAST(size(split(text, ' ')) AS BIGINT) AS tok")
      greedyPack(s, docs, 256L)
        .select("source", "doc_id", "tok", "pack_id", "fill_after")
        .orderBy("source", "doc_id")
    }
  }

  // ---------------------------------------------------------------------
  // q103: sub-sharded greedy packing — the hot-source scale variant
  // ---------------------------------------------------------------------

  /** The [[greedyPack]] sub-shard variant as a contract query: packing
    * keyed by (source, floor(doc_id/100)) so a single hot source splits
    * across ~|source|/100 independent tasks. The DuckDB oracle runs the
    * identical recurrence per (source, sub) via a recursive CTE — packs
    * provably never cross a sub-shard boundary on either engine. */
  private val subShardPacking = {
    val S = 100L
    val oracle =
      s"""WITH RECURSIVE d AS (
         |  SELECT source, doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS tok,
         |    CAST(floor(doc_id / $S) AS BIGINT) AS sub,
         |    ROW_NUMBER() OVER (PARTITION BY source, CAST(floor(doc_id / $S) AS BIGINT)
         |      ORDER BY doc_id) AS rn
         |  FROM documents),
         |s AS (
         |  SELECT source, sub, doc_id, tok, rn, CAST(0 AS BIGINT) AS pack_id, tok AS fill_after
         |  FROM d WHERE rn = 1
         |  UNION ALL
         |  SELECT d.source, d.sub, d.doc_id, d.tok, d.rn,
         |    CASE WHEN s.fill_after + d.tok > 256 THEN s.pack_id + 1 ELSE s.pack_id END,
         |    CASE WHEN s.fill_after + d.tok > 256 THEN d.tok ELSE s.fill_after + d.tok END
         |  FROM s JOIN d ON d.source = s.source AND d.sub = s.sub AND d.rn = s.rn + 1)
         |SELECT source, sub, doc_id, tok, pack_id, fill_after FROM s
         |ORDER BY source, doc_id""".stripMargin
    e("q103_subshard_packing", oracle) { (s, _) =>
      val docs = s.table("documents")
        .selectExpr("source", "doc_id", "CAST(size(split(text, ' ')) AS BIGINT) AS tok")
      greedyPack(s, docs, 256L, Some(S)).orderBy("source", "doc_id")
    }
  }

  // ---------------------------------------------------------------------
  // q101: passage-level global dedup (CCNet-style, 16-word passages)
  // ---------------------------------------------------------------------

  /** Corpus-wide passage dedup: each doc is cut into non-overlapping
    * 16-word passages; a passage seen before (global first occurrence =
    * smallest (doc_id, pos)) is dropped from every later doc, and the doc
    * is reassembled from its surviving passages. Exactly two shuffles at
    * any scale: one on the passage hash (the row_number window that picks
    * first occurrences), one on doc_id (reassembly) — the same shape CCNet
    * uses to strip boilerplate paragraphs from web crawls. */
  private val passageDedup = {
    val spark =
      """WITH w AS (SELECT doc_id, split(text, ' ') AS words FROM documents),
        |b AS (
        |  SELECT doc_id, idx AS pos,
        |    array_join(slice(words, idx * 16 + 1, 16), ' ') AS block
        |  FROM w LATERAL VIEW explode(sequence(0, CAST(ceil(size(words) / 16.0) AS INT) - 1)) t AS idx),
        |keep AS (
        |  SELECT doc_id, pos, block,
        |    ROW_NUMBER() OVER (PARTITION BY md5(block) ORDER BY doc_id, pos) AS occ
        |  FROM b)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_blocks,
        |  CAST(COUNT(*) FILTER (WHERE occ > 1) AS BIGINT) AS n_removed,
        |  md5(coalesce(array_join(transform(array_sort(
        |    collect_list(CASE WHEN occ = 1 THEN struct(pos, block) END)),
        |    p -> p.block), ' '), '')) AS clean_md5
        |FROM keep GROUP BY doc_id ORDER BY doc_id""".stripMargin
    val duck =
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
        |b AS (
        |  SELECT doc_id, idx AS pos,
        |    array_to_string(list_slice(words, (idx*16+1)::INT, (idx*16+16)::INT), ' ') AS block
        |  FROM w, unnest(range(0, CAST(ceil(len(words)/16.0) AS INT))) AS t(idx)),
        |keep AS (
        |  SELECT doc_id, pos, block,
        |    ROW_NUMBER() OVER (PARTITION BY md5(block) ORDER BY doc_id, pos) AS occ
        |  FROM b)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_blocks,
        |  CAST(COUNT(*) FILTER (WHERE occ > 1) AS BIGINT) AS n_removed,
        |  md5(coalesce(string_agg(block, ' ' ORDER BY pos) FILTER (WHERE occ = 1), '')) AS clean_md5
        |FROM keep GROUP BY doc_id ORDER BY doc_id""".stripMargin
    e("q101_passage_dedup", duck) { (s, _) => s.sql(spark) }
  }

  // ---------------------------------------------------------------------
  // q100: k-means (Lloyd) over the embedding corpus — 2 iterations, k=8
  // ---------------------------------------------------------------------

  /** Distributed Lloyd iterations — the training step for [[Pipeline]]'s
    * IVF coarse quantizer. Init = the first k vectors (deterministic);
    * each iteration collapses the k×64 centroid table into ONE
    * array-of-struct cell, broadcasts it, and assigns by a pure PROJECTION
    * — `array_sort(transform(cm, c -> struct(d2, cid)))[0].cid` over the
    * broadcast matrix, squared L2 via the codegen'd dot_product
    * (‖e‖² − 2·e·c + ‖c‖², norms precomputed). No join shuffle, no window:
    * the corpus is touched map-side only, and the sole exchange per
    * iteration is the k×dim-group centroid-update aggregate (asserted
    * exchange-free up to that agg in CorpusSpec). Between iterations the
    * centroid table is `localCheckpoint`ed: k×dim rows, and it cuts the
    * lineage so the per-iteration plan stays flat (the exchange-storm
    * lesson from q85). Determinism: centroid components round to 1e-6,
    * distances to 1e-3, ties broken by cluster id (the struct sort orders
    * by (d2, cid)) — a last-ulp avg() difference cannot flip an
    * assignment. Output is every vector's final assignment (integers, the
    * strongest seam).
    *
    * At 100 TB: assignment is genuinely map-side — each corpus partition
    * streams once past the broadcast matrix, no n×k row inflation, no
    * shuffle of embedding payloads — and the update is one k×dim-group
    * shuffle per iteration: the textbook scalable k-means shape; swap the
    * init for k-means∥ sampling when k grows. */
  private[graft] def kmeansAssign(e0: DataFrame, cents: DataFrame): DataFrame = {
    // one-row (cid, cvec) matrix; array_sort is deterministic regardless
    // of collect_list order, so the [0] argmin is stable
    val cm = cents.agg(expr("collect_list(struct(cid, cvec))").as("cm"))
    e0.crossJoin(broadcast(cm))
      .withColumn("best", expr(
        """array_sort(transform(cm, c -> struct(
          |  round(ee - 2 * dot_product(embedding, c.cvec)
          |        + dot_product(c.cvec, c.cvec), 3) AS d2,
          |  c.cid AS cid)))[0]""".stripMargin))
      .select(col("vec_id"), col("embedding"), col("ee"),
        col("best.cid").as("cid"))
  }

  /** Deterministic k-means∥ initialization (Bahmani et al., VLDB'12) —
    * the init that replaces take-first-k when k grows: instead of k
    * sequential k-means++ passes, `rounds` passes each sample points with
    * probability ∝ l·cost(x)/Σcost (cost = squared distance to the
    * nearest center so far), then the small oversampled set is weighted
    * by attraction counts and clustered locally to k seeds.
    *
    * Everything distributed is map-side: per-round costs are a projection
    * against the broadcast center matrix (the [[kmeansAssign]] shape), the
    * sampling coin is a deterministic md5 uniform per (vec_id, round) —
    * reproducible across runs and engines — and only the O(l·rounds)
    * sampled set ever reaches the driver. At 100 TB each round is one
    * corpus scan + a scalar agg; rounds ≈ 5 beats k sequential passes of
    * k-means++ by orders of magnitude when k is large. Spec-only (the
    * local weighted Lloyd is driver-side float math with no oracle seam);
    * the q100 contract keeps its deterministic take-first-k init. */
  private[graft] def kmeansParallelInit(s: SparkSession, emb: DataFrame,
      k: Int, rounds: Int = 3, l: Double = 8.0): Array[Array[Double]] = {
    import s.implicits._
    val pts = emb.selectExpr("vec_id",
      "transform(embedding, v -> CAST(v AS DOUBLE)) AS e",
      "dot_product(embedding, embedding) AS ee").graftCkpt()
    // deterministic uniform in [0,1) per (vec_id, round) — md5, like the
    // LSH hyperplanes, so reruns and engines agree bit-for-bit
    def coin(r: Int) =
      s"(cast(conv(substr(md5(concat(cast(vec_id AS STRING), '#', '$r')),1,8),16,10) AS DOUBLE) / 4294967296.0)"
    val first = pts.orderBy("vec_id").limit(1)
      .select("e").as[Seq[Double]].head.toArray
    var centers = Vector(first)
    for (r <- 1 to rounds) {
      val cm = centers.map(_.toSeq)
      val cmDf = broadcast(cm.toDF("cv").agg(
        expr("collect_list(cv)").as("cm")))
      val costed = pts.crossJoin(cmDf).selectExpr("vec_id", "e",
        // min over centers of ‖e − c‖² via the HOF argmin projection
        """array_min(transform(cm, c ->
          |  ee - 2 * dot_product(e, c) + dot_product(c, c))) AS cost""".stripMargin)
        .graftCkpt()
      val tot = costed.agg(sum("cost")).head.getDouble(0)
      if (tot > 0) {
        val picked = costed
          .filter(expr(s"${coin(r)} < least(1.0, $l * cost / $tot)"))
          .select("e").as[Seq[Double]].collect()
        centers = centers ++ picked.map(_.toArray)
      }
      costed.unpersist()
    }
    // weight each candidate by its attraction count (one map-side pass)
    val cm = centers.map(_.toSeq)
    val cmDf2 = broadcast(cm.toDF("cv").agg(
      expr("collect_list(cv)").as("cm")))
    val weights = pts.crossJoin(cmDf2).selectExpr(
      """array_sort(transform(sequence(1, size(cm)), i ->
        |  struct(ee - 2 * dot_product(e, element_at(cm, i))
        |         + dot_product(element_at(cm, i), element_at(cm, i)) AS d, i AS i)))[0].i AS ci""".stripMargin)
      .groupBy("ci").count().collect()
      .map(r0 => r0.getInt(0) - 1 -> r0.getLong(1)).toMap
    pts.unpersist()
    // local weighted Lloyd over the tiny candidate set → k seeds
    localWeightedKmeans(centers.toArray,
      centers.indices.map(i => weights.getOrElse(i, 0L).toDouble).toArray, k)
  }

  /** Driver-side weighted Lloyd on the oversampled candidate set (size
    * O(l·rounds) — tiny by construction). Seeds = deterministic greedy
    * weighted farthest-point (the argmax-of-w·d² variant of k-means++:
    * no randomness, ties and empty clusters resolve by lowest index). */
  private def localWeightedKmeans(pts: Array[Array[Double]],
      w: Array[Double], k: Int, iters: Int = 20): Array[Array[Double]] = {
    def d2(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }
    val seed0 = pts.indices.maxBy(i => (w(i), -i))
    val seeds = scala.collection.mutable.ArrayBuffer(seed0)
    while (seeds.length < math.min(k, pts.length)) {
      val next = pts.indices.maxBy { i =>
        (w(i) * seeds.map(s0 => d2(pts(i), pts(s0))).min, -i)
      }
      seeds += next
    }
    var cents = seeds.map(pts).toArray
    for (_ <- 1 to iters) {
      val asg = pts.indices.map { i =>
        cents.indices.minBy(c => (d2(pts(i), cents(c)), c))
      }
      cents = cents.indices.map { c =>
        val members = pts.indices.filter(i => asg(i) == c && w(i) > 0)
        if (members.isEmpty) cents(c)
        else {
          val dim = pts(0).length
          val acc = new Array[Double](dim)
          var tw = 0.0
          members.foreach { i =>
            var j = 0
            while (j < dim) { acc(j) += pts(i)(j) * w(i); j += 1 }
            tw += w(i)
          }
          acc.map(_ / tw)
        }
      }.toArray
    }
    cents
  }

  private val kmeans = {
    val K = 8
    def dotDuck(a: String, b: String) =
      s"list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, len($a)+1), i -> $a[i]::DOUBLE * $b[i]::DOUBLE)), (acc, v) -> acc + v)"
    def duckIter(prevC: String, a: String, c: String): String =
      s"""$a AS (
         |  SELECT vec_id, embedding, ee, cid FROM (
         |    SELECT e.vec_id, e.embedding, e.ee, c.cid,
         |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |        ORDER BY round(e.ee - 2 * ${dotDuck("e.embedding", "c.cvec")}
         |                       + ${dotDuck("c.cvec", "c.cvec")}, 3), c.cid) AS rn
         |    FROM e CROSS JOIN $prevC c) t
         |  WHERE rn = 1),
         |$c AS (
         |  SELECT cid, list(cv ORDER BY pos) AS cvec FROM (
         |    SELECT cid, pos, round(avg(v), 6) AS cv
         |    FROM (SELECT cid, generate_subscripts(embedding, 1) AS pos,
         |            unnest(embedding)::DOUBLE AS v FROM $a)
         |    GROUP BY cid, pos) d
         |  GROUP BY cid)""".stripMargin
    val oracle =
      s"""WITH e AS (
         |  SELECT vec_id, embedding, ${dotDuck("embedding", "embedding")} AS ee
         |  FROM embeddings),
         |c0 AS (
         |  SELECT vec_id AS cid, list_transform(embedding, v -> round(v::DOUBLE, 6)) AS cvec
         |  FROM embeddings WHERE vec_id < $K),
         |${duckIter("c0", "a1", "c1")},
         |${duckIter("c1", "a2", "c2")}
         |SELECT vec_id, CAST(cid AS BIGINT) AS cid FROM a2 ORDER BY vec_id""".stripMargin
    e("q100_kmeans", oracle) { (s, _) =>
      val emb = s.table("embeddings")
      // norms once, tiny table (n×(64+2)) — checkpoint so both iterations
      // scan a materialized base instead of re-reading parquet
      val e0 = emb.selectExpr("vec_id", "embedding",
        "dot_product(embedding, embedding) AS ee").graftCkpt()
      def assign(cents: DataFrame): DataFrame = kmeansAssign(e0, cents)
      var cents = emb.filter(col("vec_id") < K).selectExpr(
        "vec_id AS cid",
        "transform(embedding, v -> round(CAST(v AS DOUBLE), 6)) AS cvec")
      for (_ <- 1 until 2) { // ITER=2 assignments total, 1 centroid update
        cents = assign(cents)
          .selectExpr("cid", "posexplode(embedding) AS (pos, v)")
          .groupBy("cid", "pos")
          .agg(round(avg(col("v").cast("double")), 6).as("cv"))
          .groupBy("cid")
          .agg(expr("transform(array_sort(collect_list(struct(pos, cv))), p -> p.cv)").as("cvec"))
          .graftCkpt()
      }
      assign(cents)
        .select(col("vec_id"), col("cid").cast("long").as("cid"))
        .orderBy("vec_id")
    }
  }

  // ---------------------------------------------------------------------
  // q102: LSH-bucketed ANN (random hyperplanes, 2 tables × 6 bits)
  // ---------------------------------------------------------------------

  /** Approximate nearest neighbours via sign-random-projection LSH — the
    * bucketed scale path next to [[Pipeline]]'s IVF (coarse-quantizer
    * cells) and brute-force baseline (q48). 2·bits deterministic
    * hyperplanes (components md5-derived, identical doubles on both
    * engines) give each vector two `bits`-bit sketch buckets (two LSH
    * tables — the MinHash banding trick applied to cosine space);
    * candidates are vectors sharing a bucket in EITHER table, reranked
    * exactly.
    *
    * Sizing rule: `bits` must grow with the corpus — expected bucket
    * occupancy is n/2^bits, so candidate pairs per table are
    * ≈ n²/2^bits·(1/2); pick bits ≈ log2(n / B) for a target bucket size B
    * (B ≈ 64–256 keeps rerank work ≈ n·B, linear in n). The contract
    * query pins bits=6 for the 2k-vector oracle corpus; at bits=12 on the
    * ×8 corpus candidates stay collision-bounded (BASELINE.md §"Scale
    * stress").
    *
    * At 100 TB: the sketch table (vec_id, norm, b1, b2) is computed in ONE
    * pass over the corpus (the 2·bits×64 hyperplane matrix rides a
    * broadcast; one `aggregate` HOF per table, no per-bit shuffle) and
    * materialized, so both LSH tables, the query side, and BOTH rerank
    * probes read the same materialization instead of re-planning the scan
    * (Spark inlines CTEs — a `sk UNION ALL sk` plan executes the sketch
    * twice; round-4's version did exactly that and hit 18 exchanges).
    * Candidate generation is an equi-join on (table, bucket) — work ∝
    * collisions, never |Q|·|N| — and only the candidate set pays an exact
    * distance, against norms the sketch already carries. Determinism:
    * hyperplane components are exact (md5 integer / 2^31), the sign test
    * compares identical doubles, and the rerank orders by ROUNDED cosine
    * with a vec_id tiebreak. */
  private[graft] def lshSketch(s: SparkSession, bits: Int): DataFrame =
    s.sql(
      s"""WITH hp AS (
         |  SELECT j, pos,
         |    (cast(conv(substr(md5(concat(cast(j AS STRING), ':', cast(pos AS STRING))),1,8),16,10) AS DOUBLE) / 2147483648.0) - 1.0 AS hv
         |  FROM (SELECT explode(sequence(1, ${2 * bits})) AS j) LATERAL VIEW explode(sequence(1, 64)) x AS pos),
         |hvecs AS (SELECT j, transform(array_sort(collect_list(struct(pos, hv))), p -> p.hv) AS hvec FROM hp GROUP BY j),
         |hmat AS (SELECT transform(array_sort(collect_list(struct(j, hvec))), p -> p.hvec) AS hm FROM hvecs)
         |SELECT vec_id, embedding, sqrt(dot_product(embedding, embedding)) AS nrm,
         |  aggregate(sequence(1, $bits), CAST(0 AS BIGINT), (acc, j) ->
         |    acc + CASE WHEN dot_product(embedding, element_at(hm, j)) >= 0
         |               THEN shiftleft(CAST(1 AS BIGINT), j-1) ELSE CAST(0 AS BIGINT) END) AS b1,
         |  aggregate(sequence(${bits + 1}, ${2 * bits}), CAST(0 AS BIGINT), (acc, j) ->
         |    acc + CASE WHEN dot_product(embedding, element_at(hm, j)) >= 0
         |               THEN shiftleft(CAST(1 AS BIGINT), j-${bits + 1}) ELSE CAST(0 AS BIGINT) END) AS b2
         |FROM embeddings CROSS JOIN hmat""".stripMargin)

  /** Bucket-join candidate generation + exact rerank over a MATERIALIZED
    * sketch (callers pass `lshSketch(...).graftCkpt()` or any
    * (vec_id, embedding, nrm, b1, b2) frame that is cheap to rescan). */
  private[graft] def lshSearch(s: SparkSession, sk: DataFrame,
      maxQueryId: Long = 5, topK: Int = 5, view: String = "q102_sk"): DataFrame = {
    // each caller names its own view (ADVICE r5: a shared global view name
    // coupled q102/q106 and the scale-stress run through analysis-time
    // ordering)
    sk.createOrReplaceTempView(view)
    s.sql(
      s"""WITH tb AS (
         |  SELECT vec_id, t, b FROM $view
         |  LATERAL VIEW inline(array(struct(1 AS t, b1 AS b), struct(2 AS t, b2 AS b))) x AS t, b),
         |qtb AS (SELECT vec_id, t, b FROM tb WHERE vec_id < $maxQueryId),
         |cand AS (SELECT DISTINCT q.vec_id AS qid, c.vec_id AS vid
         |         FROM qtb q JOIN tb c ON q.t = c.t AND q.b = c.b AND c.vec_id != q.vec_id),
         |scored AS (
         |  SELECT qid, vid, round(dot_product(qe.embedding, ce.embedding) / (qe.nrm * ce.nrm), 6) AS cos_sim
         |  FROM cand JOIN $view qe ON qe.vec_id = qid JOIN $view ce ON ce.vec_id = vid)
         |SELECT qid, vid AS vec_id, cos_sim, CAST(rn AS BIGINT) AS rn FROM (
         |  SELECT qid, vid, cos_sim, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos_sim DESC, vid) AS rn
         |  FROM scored) t
         |WHERE rn <= $topK ORDER BY qid, rn""".stripMargin)
  }

  private def lshDotDuck(a: String, b: String) =
    s"list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, len($a)+1), i -> $a[i]::DOUBLE * $b[i]::DOUBLE)), (acc, v) -> acc + v)"

  /** The DuckDB CTE chain shared by q102 (top-k) and q106 (recall audit):
    * hyperplanes → per-bit signs → 2-table sketches → bucket-join
    * candidates → exact rerank (`scored` = (qid, vid, cos_sim)); `e`
    * carries (vec_id, embedding, nrm) for any exact-search consumer. */
  private def lshDuckChain(bits: Int): String = {
    val dotDuck = lshDotDuck _
    s"""hp AS (
       |  SELECT j, pos,
       |    (('0x'||substr(md5(concat(j::VARCHAR, ':', pos::VARCHAR)),1,8))::BIGINT / 2147483648.0) - 1.0 AS hv
       |  FROM (SELECT unnest(range(1,${2 * bits + 1})) AS j), (SELECT unnest(range(1,65)) AS pos)),
       |hvecs AS (SELECT j, list(hv ORDER BY pos) AS hvec FROM hp GROUP BY j),
       |bits AS (
       |  SELECT e.vec_id, h.j,
       |    CASE WHEN ${dotDuck("e.embedding", "h.hvec")} >= 0 THEN 1::BIGINT ELSE 0::BIGINT END AS bit
       |  FROM embeddings e CROSS JOIN hvecs h),
       |sk AS (
       |  SELECT vec_id,
       |    CAST(SUM(CASE WHEN j <= $bits THEN bit << (j-1) ELSE 0 END) AS BIGINT) AS b1,
       |    CAST(SUM(CASE WHEN j > $bits THEN bit << (j-${bits + 1}) ELSE 0 END) AS BIGINT) AS b2
       |  FROM bits GROUP BY vec_id),
       |tb AS (SELECT vec_id, 1 AS t, b1 AS b FROM sk UNION ALL SELECT vec_id, 2 AS t, b2 AS b FROM sk),
       |qtb AS (SELECT vec_id, t, b FROM tb WHERE vec_id < 5),
       |cand AS (SELECT DISTINCT q.vec_id AS qid, c.vec_id AS vid
       |         FROM qtb q JOIN tb c ON q.t = c.t AND q.b = c.b AND c.vec_id != q.vec_id),
       |e AS (SELECT vec_id, embedding, sqrt(${dotDuck("embedding", "embedding")}) AS nrm FROM embeddings),
       |scored AS (
       |  SELECT qid, vid, round(${dotDuck("qe.embedding", "ce.embedding")} / (qe.nrm * ce.nrm), 6) AS cos_sim
       |  FROM cand JOIN e qe ON qe.vec_id = qid JOIN e ce ON ce.vec_id = vid)""".stripMargin
  }

  private val annLsh = {
    val BITS = 6 // per table; 2 tables from 12 hyperplanes (oracle-pinned)
    val duck =
      s"""WITH ${lshDuckChain(BITS)}
         |SELECT qid, vid AS vec_id, cos_sim, CAST(rn AS BIGINT) AS rn FROM (
         |  SELECT qid, vid, cos_sim, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos_sim DESC, vid) AS rn
         |  FROM scored) t
         |WHERE rn <= 5 ORDER BY qid, rn""".stripMargin
    e("q102_ann_lsh", duck) { (s, _) =>
      lshSearch(s, lshSketch(s, BITS).graftCkpt())
    }
  }

  // ---------------------------------------------------------------------
  // q106: LSH recall audit — recall@5 of the bucketed search vs brute
  // ---------------------------------------------------------------------

  /** The measurement a production ANN deployment runs continuously (the
    * q85 SQ8-audit pattern applied to LSH): per query, how many of the
    * exact top-5 neighbors did the bucketed search return? The brute
    * reference is a deliberate exact pass over the (materialized) sketch
    * table — the audit is run on a sample at scale, never the full query
    * log. Everything is integer counts over rounded-cosine rankings, so
    * the oracle pins recall bit-for-bit.
    *
    * Expected LOW values on the synthetic corpus (≈0–0.2 at sf0.01): the
    * driver's embeddings are near-uniform random, so true cosine
    * neighbors are barely closer than average and 2 tables × 6 sign-bits
    * capture them at near-chance rates — exactly the signal this audit
    * exists to surface. On clustered real-world embeddings sign-LSH
    * recall rises steeply; the remedies the audit would drive are more
    * tables, more bits (q102's parameterized knob), and multiprobe
    * (q105). Both engines agree on the numbers bit-for-bit either way. */
  private val annLshRecall = {
    val BITS = 6
    val duck =
      s"""WITH ${lshDuckChain(BITS)},
         |lsh AS (
         |  SELECT qid, vid FROM (
         |    SELECT qid, vid, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos_sim DESC, vid) AS rn
         |    FROM scored) t
         |  WHERE rn <= 5),
         |exact AS (
         |  SELECT qid, vid FROM (
         |    SELECT q.vec_id AS qid, e.vec_id AS vid,
         |      ROW_NUMBER() OVER (PARTITION BY q.vec_id
         |        ORDER BY round(${lshDotDuck("q.embedding", "e.embedding")} / (q.nrm * e.nrm), 6) DESC, e.vec_id) AS rn
         |    FROM e q JOIN e ON e.vec_id != q.vec_id WHERE q.vec_id < 5) t
         |  WHERE rn <= 5)
         |SELECT exact.qid, CAST(COUNT(lsh.vid) AS BIGINT) AS n_overlap,
         |  CAST(round(COUNT(lsh.vid) / 5.0, 2) AS DOUBLE) AS recall5
         |FROM exact LEFT JOIN lsh ON lsh.qid = exact.qid AND lsh.vid = exact.vid
         |GROUP BY exact.qid ORDER BY exact.qid""".stripMargin
    e("q106_ann_lsh_recall", duck) { (s, _) =>
      val sk = lshSketch(s, BITS).graftCkpt()
      lshSearch(s, sk, view = "q106_sk").createOrReplaceTempView("q106_lsh")
      // the brute reference reads the SAME materialized sketch (embedding
      // + nrm ride along), so the audit adds zero extra corpus scans
      s.sql(
        """WITH exact AS (
          |  SELECT qid, vid FROM (
          |    SELECT q.vec_id AS qid, e.vec_id AS vid,
          |      ROW_NUMBER() OVER (PARTITION BY q.vec_id
          |        ORDER BY round(dot_product(q.embedding, e.embedding) / (q.nrm * e.nrm), 6) DESC, e.vec_id) AS rn
          |    FROM q106_sk q JOIN q106_sk e ON e.vec_id != q.vec_id WHERE q.vec_id < 5) t
          |  WHERE rn <= 5)
          |SELECT exact.qid, CAST(COUNT(l.vec_id) AS BIGINT) AS n_overlap,
          |  CAST(round(COUNT(l.vec_id) / 5.0, 2) AS DOUBLE) AS recall5
          |FROM exact LEFT JOIN q106_lsh l ON l.qid = exact.qid AND l.vec_id = exact.vid
          |GROUP BY exact.qid ORDER BY exact.qid""".stripMargin)
    }
  }

  // ---------------------------------------------------------------------
  // q105: multiprobe LSH — probe the neighbor bucket on the weakest bit
  // ---------------------------------------------------------------------

  /** [[lshSketch]] plus per-table minimum-|margin| flip indices (f1, f2):
    * the hyperplane each vector sits closest to, i.e. the bit most likely
    * to be "wrong" for a true neighbor — the multiprobe lever's input.
    * Same one-pass broadcast-hyperplane shape as the plain sketch; the
    * margins reuse the dot products the sign test already computes. */
  private[graft] def lshSketchFlips(s: SparkSession, bits: Int): DataFrame =
    s.sql(
      s"""WITH hp AS (
         |  SELECT j, pos,
         |    (cast(conv(substr(md5(concat(cast(j AS STRING), ':', cast(pos AS STRING))),1,8),16,10) AS DOUBLE) / 2147483648.0) - 1.0 AS hv
         |  FROM (SELECT explode(sequence(1, ${2 * bits})) AS j) LATERAL VIEW explode(sequence(1, 64)) x AS pos),
         |hvecs AS (SELECT j, transform(array_sort(collect_list(struct(pos, hv))), p -> p.hv) AS hvec FROM hp GROUP BY j),
         |hmat AS (SELECT transform(array_sort(collect_list(struct(j, hvec))), p -> p.hvec) AS hm FROM hvecs)
         |SELECT vec_id, embedding, sqrt(dot_product(embedding, embedding)) AS nrm,
         |  aggregate(sequence(1, $bits), CAST(0 AS BIGINT), (acc, j) ->
         |    acc + CASE WHEN dot_product(embedding, element_at(hm, j)) >= 0
         |               THEN shiftleft(CAST(1 AS BIGINT), j-1) ELSE CAST(0 AS BIGINT) END) AS b1,
         |  aggregate(sequence(${bits + 1}, ${2 * bits}), CAST(0 AS BIGINT), (acc, j) ->
         |    acc + CASE WHEN dot_product(embedding, element_at(hm, j)) >= 0
         |               THEN shiftleft(CAST(1 AS BIGINT), j-${bits + 1}) ELSE CAST(0 AS BIGINT) END) AS b2,
         |  CAST(array_sort(transform(sequence(1, $bits), j ->
         |    struct(abs(dot_product(embedding, element_at(hm, j))) AS m, j AS j)))[0].j AS BIGINT) AS f1,
         |  CAST(array_sort(transform(sequence(${bits + 1}, ${2 * bits}), j ->
         |    struct(abs(dot_product(embedding, element_at(hm, j))) AS m, j - $bits AS j)))[0].j AS BIGINT) AS f2
         |FROM embeddings CROSS JOIN hmat""".stripMargin)

  /** Multiprobe extension of [[annLsh]]: each query probes its own bucket
    * AND the bucket reached by flipping its minimum-|margin| bit (the
    * hyperplane the vector sits closest to — the bit most likely to be
    * "wrong" for a true neighbor). This is the production recall lever
    * that needs NO extra tables and no extra corpus passes: the corpus
    * side is untouched, only the tiny query probe set doubles (2 probes ×
    * 2 tables per query). Margins are exact doubles (identical fold order
    * on both engines, like the sign test), ties broken by bit index.
    *
    * Spark side stays one-pass map-side: margins/flip indices come from
    * the same broadcast hyperplane matrix via array HOFs
    * (`array_sort(transform(...))[0].j` — argmin as a projection), the
    * sketch is materialized once, and candidates remain a (table, bucket)
    * equi-join. At 100 TB multiprobe multiplies only probe-side rows
    * (queries × probes), never corpus work — candidates grow ≈ 2× for
    * ≈ 2× recall headroom, still collision-bounded. */
  private val annLshMultiprobe = {
    val B = 6
    def dotDuck(a: String, b: String) =
      s"list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, len($a)+1), i -> $a[i]::DOUBLE * $b[i]::DOUBLE)), (acc, v) -> acc + v)"
    val duck =
      s"""WITH hp AS (
         |  SELECT j, pos,
         |    (('0x'||substr(md5(concat(j::VARCHAR, ':', pos::VARCHAR)),1,8))::BIGINT / 2147483648.0) - 1.0 AS hv
         |  FROM (SELECT unnest(range(1,${2 * B + 1})) AS j), (SELECT unnest(range(1,65)) AS pos)),
         |hvecs AS (SELECT j, list(hv ORDER BY pos) AS hvec FROM hp GROUP BY j),
         |bits AS (
         |  SELECT e.vec_id, h.j, ${dotDuck("e.embedding", "h.hvec")} AS d
         |  FROM embeddings e CROSS JOIN hvecs h),
         |sk0 AS (
         |  SELECT vec_id,
         |    CAST(SUM(CASE WHEN j <= $B AND d >= 0 THEN 1 << (j-1) ELSE 0 END) AS BIGINT) AS b1,
         |    CAST(SUM(CASE WHEN j > $B AND d >= 0 THEN 1 << (j-${B + 1}) ELSE 0 END) AS BIGINT) AS b2
         |  FROM bits GROUP BY vec_id),
         |fl AS (
         |  SELECT vec_id,
         |    CAST(MIN(CASE WHEN rn1 = 1 THEN j END) AS BIGINT) AS f1,
         |    CAST(MIN(CASE WHEN rn2 = 1 THEN j - $B END) AS BIGINT) AS f2
         |  FROM (
         |    SELECT vec_id, j,
         |      CASE WHEN j <= $B THEN ROW_NUMBER() OVER (PARTITION BY vec_id, j <= $B ORDER BY abs(d), j) END AS rn1,
         |      CASE WHEN j > $B THEN ROW_NUMBER() OVER (PARTITION BY vec_id, j <= $B ORDER BY abs(d), j) END AS rn2
         |    FROM bits) t
         |  GROUP BY vec_id),
         |e AS (SELECT vec_id, embedding, sqrt(${dotDuck("embedding", "embedding")}) AS nrm FROM embeddings),
         |sk AS (
         |  SELECT sk0.vec_id, b1, b2, f1, f2, e.embedding, e.nrm
         |  FROM sk0 JOIN fl ON fl.vec_id = sk0.vec_id JOIN e ON e.vec_id = sk0.vec_id),
         |tb AS (SELECT vec_id, 1 AS t, b1 AS b FROM sk UNION ALL SELECT vec_id, 2 AS t, b2 AS b FROM sk),
         |qtb AS (
         |  SELECT vec_id, t, b FROM tb WHERE vec_id < 5
         |  UNION ALL SELECT vec_id, 1 AS t, xor(b1, 1 << (f1-1)) AS b FROM sk WHERE vec_id < 5
         |  UNION ALL SELECT vec_id, 2 AS t, xor(b2, 1 << (f2-1)) AS b FROM sk WHERE vec_id < 5),
         |cand AS (SELECT DISTINCT q.vec_id AS qid, c.vec_id AS vid
         |         FROM qtb q JOIN tb c ON q.t = c.t AND q.b = c.b AND c.vec_id != q.vec_id),
         |scored AS (
         |  SELECT qid, vid, round(${dotDuck("qe.embedding", "ce.embedding")} / (qe.nrm * ce.nrm), 6) AS cos_sim
         |  FROM cand JOIN sk qe ON qe.vec_id = qid JOIN sk ce ON ce.vec_id = vid)
         |SELECT qid, vid AS vec_id, cos_sim, CAST(rn AS BIGINT) AS rn FROM (
         |  SELECT qid, vid, cos_sim, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos_sim DESC, vid) AS rn
         |  FROM scored) t
         |WHERE rn <= 5 ORDER BY qid, rn""".stripMargin
    e("q105_ann_lsh_multiprobe", duck) { (s, _) =>
      val sk = lshSketchFlips(s, B).graftCkpt()
      sk.createOrReplaceTempView("q105_sk")
      s.sql(
        s"""WITH tb AS (
           |  SELECT vec_id, t, b FROM q105_sk
           |  LATERAL VIEW inline(array(struct(1 AS t, b1 AS b), struct(2 AS t, b2 AS b))) x AS t, b),
           |qtb AS (
           |  SELECT vec_id, t, b FROM tb WHERE vec_id < 5
           |  UNION ALL
           |  SELECT vec_id, t, b FROM (
           |    SELECT vec_id,
           |      inline(array(
           |        struct(1 AS t, CAST(b1 ^ shiftleft(CAST(1 AS BIGINT), CAST(f1-1 AS INT)) AS BIGINT) AS b),
           |        struct(2 AS t, CAST(b2 ^ shiftleft(CAST(1 AS BIGINT), CAST(f2-1 AS INT)) AS BIGINT) AS b)))
           |    FROM q105_sk WHERE vec_id < 5) flip),
           |cand AS (SELECT DISTINCT q.vec_id AS qid, c.vec_id AS vid
           |         FROM qtb q JOIN tb c ON q.t = c.t AND q.b = c.b AND c.vec_id != q.vec_id),
           |scored AS (
           |  SELECT qid, vid, round(dot_product(qe.embedding, ce.embedding) / (qe.nrm * ce.nrm), 6) AS cos_sim
           |  FROM cand JOIN q105_sk qe ON qe.vec_id = qid JOIN q105_sk ce ON ce.vec_id = vid)
           |SELECT qid, vid AS vec_id, cos_sim, CAST(rn AS BIGINT) AS rn FROM (
           |  SELECT qid, vid, cos_sim, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos_sim DESC, vid) AS rn
           |  FROM scored) t
           |WHERE rn <= 5 ORDER BY qid, rn""".stripMargin)
    }
  }

  val all: Seq[Entry] = Seq(docChunking, seqPacking, greedyPacking, kmeans,
    passageDedup, annLsh, subShardPacking, annLshMultiprobe, annLshRecall)
}
