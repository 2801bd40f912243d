package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import Engine.GraftCkptOps

/** Training-data pipeline operators over the `documents` / `embeddings`
  * tables: deduplication (exact, MinHash+LSH, SimHash, n-gram Jaccard,
  * embedding-cosine), similarity search (brute-force + IVF), and text
  * analysis (language-ID heuristic, quality scoring, tokenization,
  * fingerprinting).
  *
  * These go beyond the reference's own operator set (SURVEY §2) — they are
  * the operations a 100 TB LLM-corpus pipeline needs, built Spark-first:
  * every per-document computation is a higher-order-function expression
  * (codegen'd, map-side, no shuffle); the only shuffles are the LSH
  * band-bucket self-joins — which is the point of LSH: candidate
  * generation without the O(n²) cross join.
  *
  * Oracle determinism contract: all hashing is md5-derived (identical in
  * Spark and DuckDB), float folds use the same left-to-right order on both
  * engines, and every ranking/threshold is applied to a ROUNDED value so a
  * last-ulp difference can never flip a rank or a filter.
  */
object Pipeline {
  import Queries.{Entry, e}

  /** 32-bit hash from the md5 hex prefix — the cross-engine hash primitive.
    * Spark: conv(hex, 16, 10); DuckDB: '0x…'::BIGINT. Values in [0, 2^32).
    * private[graft]: this pair IS the oracle-determinism contract for every
    * hashing query (also used by Extras) — exactly one definition per
    * dialect may exist. */
  private[graft] def h32Spark(s: String) = s"cast(conv(substr(md5($s),1,8),16,10) AS BIGINT)"
  private[graft] def h32Duck(s: String) = s"('0x' || substr(md5($s),1,8))::BIGINT"

  /** Shared n-gram/Jaccard builders: q46 (the pair query) and q66
    * (clustering over exactly those pairs) must stay in lockstep — one
    * definition of the gram extraction, the inverted-index pair join, and
    * the threshold, parameterized by the materialized-grams view name. */
  private[graft] val JaccThreshold = "0.35"
  /** One row per DISTINCT text among the dedup candidates: representative
    * id, the sorted id list of every doc carrying that text, and the gram
    * set (computed once per distinct text, not once per doc). This is the
    * collapse-first shape (q47's measured remedy, BASELINE §cosine):
    * identical texts have identical gram sets, so all-pairs work only ever
    * runs over distinct contents. Without it the postings self-join
    * shuffles one row per (pair × shared gram) — quadratic in the
    * duplicate multiplicity, measured >70 GB of shuffle scratch at ×100
    * (500k docs, ~100 clones each) before it ENOSPC'd; collapsed, the
    * join input is duplicate-free and the quadratic regime moves to the
    * OUTPUT expansion only, which is bounded by the answer itself. On a
    * corpus with no exact duplicates every group has size 1 and this
    * degenerates to exactly the per-doc plan. */
  private[graft] def ngramGroupsSpark: String =
    s"""SELECT min(doc_id) AS rep,
       |  sort_array(collect_list(doc_id)) AS ids,
       |  array_distinct(transform(sequence(1, length(text) - 3),
       |    i -> ${h32Spark("substr(text, i, 4)")})) AS grams
       |FROM documents WHERE text LIKE '%dup%' AND length(text) >= 4
       |GROUP BY text""".stripMargin
  /** Qualifying DISTINCT-CONTENT pairs (ra, rb, jacc) — the collapse-first
    * core shared by q46 (which expands them to id pairs) and q66 (which
    * runs connected components over them WITHOUT expanding: the id-level
    * edge set is quadratic in duplicate multiplicity — materializing it at
    * ×1000 ENOSPC'd a 250 GB disk — while the content-level graph is
    * bounded by distinct contents at any clone multiple). */
  /** Filter-stage threshold guard. The ANSWER predicate is
    * `round(jacc, 6) >= 0.35`, which admits true jacc down to 0.3499995
    * (round-half-up at the 7th decimal); the prefix/length filters must
    * therefore be derived from a threshold at or below that bound or a
    * rounds-up borderline pair could be pruned before the exact verify.
    * 0.349999 < 0.3499995, and a smaller threshold only LENGTHENS prefixes
    * / widens the length window — the safe direction. */
  private[graft] val JaccGuard = "0.349999"
  /** Qualifying distinct-content pairs via the prefix-filtered exact
    * similarity join (round 13, VERDICT r12 #1 — the AllPairs/PPJoin
    * reduction; the engine-surface seam is the same nested-functions
    * similarity capability as before, `DF:functions-nested/src/lib.rs:
    * 117-163`). The round-12 plan enumerated one row per (pair × EVERY
    * shared gram) — Θ(Σ_g df(g)²) ≈ 5B rows at organic ×100, >110 GB of
    * shuffle scratch, the measured single-box wall. This plan enumerates
    * only (pair × shared PREFIX gram):
    *
    *  1. a global total order on grams, ascending DOCUMENT FREQUENCY with
    *     the gram value as tie-break (computed in two linear passes:
    *     explode + count, join back — [[ngramPxSql]]). Rare-first is the canonical AllPairs
    *     order — it pushes the high-df grams (exactly the df² heavy
    *     hitters of the old enumeration) out of every prefix;
    *  2. each set's PREFIX = its first `sz - ceil(g*sz) + 1` grams in that
    *     order (g = [[JaccGuard]]). Exactness: round(jacc,6) >= t implies
    *     overlap o >= ceil(g*max(sa,sb)) (o/(sa+sb-o) >= g and union >=
    *     max), and two sets with o >= a share an element in their first
    *     sz-a+1 elements under ANY common total order (pigeonhole), so
    *     prefixes of length sz - ceil(g*sz) + 1 >= sz - o + 1 must
    *     intersect — no false negatives, for any data;
    *  3. candidates = the prefix-postings self-join, deduplicated, with
    *     the exact length filter least(sa,sb) >= g*greatest(sa,sb)
    *     (jacc <= min/max always, so qualifying pairs survive);
    *  4. exact verify: ni = size(array_intersect(grams_a, grams_b)) — the
    *     arrays are distinct, so this is the same integer the old
    *     COUNT(*)-over-shared-grams computed, and the jacc expression is
    *     UNCHANGED, so every emitted value is bit-identical to the naive
    *     all-pairs oracle. Both verify joins broadcast the groups view
    *     (grams ~220 BIGINTs per distinct content — ~1 GB at organic
    *     ×100, fine for one JVM / a 1000-node cluster's executors): the
    *     candidate stream probes in place and reduces to 24-byte rows
    *     before any exchange, instead of shuffling a candidate×grams
    *     intermediate (~60 GB at og100) between two shuffle joins.
    *
    * Scale shape: stages 1-2 are linear in postings; stage 3's enumeration
    * is answer-pair-bound (each qualifying pair appears once per shared
    * PREFIX gram — the irreducible part of a postings join — while
    * non-qualifying df² bulk is gone with the frequent grams); stage 4 is
    * answer-bound. At toy scale the extra df/window/verify stages cost
    * ~2 s fixed vs the round-12 plan (same-box fresh-JVM steady state:
    * q46 0.9 → 2.9 s, q66 2.6 → 3.9 s at sf0.1 — pinned in BASELINE
    * §"Collapse-first: the pinned sf0.1 price"); they amortize before
    * organic ×10 (62.4 → 46.4 s same-box) and at organic ×100 they are
    * what brings the enumeration under the box (>110 GB scratch →
    * ~40 GB, 1441 s). */
  /** Stages 1-2 of the prefix-filter join as ONE standalone statement: the
    * px relation (rep, sz, gr), each set's rare-first prefix. Every caller
    * materializes it once (graftCkpt) — the q46/q66 entries and each
    * [[PassRun]] n-gram pass JVM alike — because the stage-3 self-join
    * references px on both sides and Catalyst inlines CTEs: inline, px is
    * computed once per self-join SIDE (measured round 16: the two ~1.4 s
    * jobs that dominated q46 at sf0.1). Counting the stage-3 enumeration
    * bound Σ_g C(df_px(g), 2) over this relation, without running the
    * join, is how scratch volume was bracketed for corpora where the full
    * join exceeds the box (counts in BASELINE §"q46/q66 at og300:
    * bracketed").
    *
    * The gram document frequency is an aggregate joined back under a
    * SHUFFLE_HASH pin on the dict side (round 16): left to the estimator,
    * Spark sizes the EXPLODED postings from the corpus file bytes (blind to
    * the ~200× gram explode) and broadcasts them at small scales, flipping
    * strategy as the corpus grows. The pinned plan hash-partitions both
    * sides by gr and builds the aggregated (gram, count) side per
    * partition — same plan at every scale, and skew-immune: map-side
    * partial aggregation collapses a hot gram before any exchange. A
    * window count (`COUNT(*) OVER (PARTITION BY gr)`: one explode, one
    * exchange) gives the identical relation, but buffers a hot gram's
    * whole posting list per task, and whole-entry A/Bs of q46 and q66 at
    * sf0.1 and og10 found it no faster end to end (OPTIMIZATION_r17.md,
    * addendum).
    *
    * Ranking prefixes by the gram hash instead of rare-first df was
    * measured and rejected: still exact (the pigeonhole argument holds
    * under any common total order) but the candidate volume doubles
    * (sf0.1 702,764 → 1,447,189; og10 76.0M → 159.8M). */
  private[graft] def ngramPxSql(groupsView: String): String =
    s"""WITH xall AS (
       |  SELECT rep, size(grams) AS sz, explode(grams) AS gr FROM $groupsView),
       |dfreq AS (SELECT gr, COUNT(*) AS dfc FROM xall GROUP BY gr)
       |SELECT rep, sz, gr FROM (
       |  SELECT /*+ SHUFFLE_HASH(dfreq) */ xall.rep, xall.sz, xall.gr,
       |    row_number() OVER (PARTITION BY xall.rep
       |                       ORDER BY dfreq.dfc, xall.gr) AS rk
       |  FROM xall JOIN dfreq ON xall.gr = dfreq.gr) r
       |WHERE rk <= sz - cast(ceil($JaccGuard * sz) AS INT) + 1""".stripMargin
  /** Stage-3 candidate CTE over a materialized px view (prefix-postings
    * self-join + length filter + GROUP BY dedup), optionally restricted by
    * `passWhere` — the disk-bounded K-pass protocol (round 15, VERDICT r14
    * #1): `pmod(hash(a.rep), K) = i` partitions the CANDIDATE SPACE by the
    * smaller rep, so (a) every unordered pair lands in exactly ONE pass
    * (a.rep < b.rep fixes which rep hashes), making the union of passes
    * trivially equal to the single-shot candidate set with no cross-pass
    * dedup; and (b) the predicate references only the LEFT join input, so
    * Catalyst pushes it below the join — each pass shuffles and
    * enumerates only ~1/K of the Σ_g C(df,2) stage-3 volume (the measured
    * 360-405 GB og300 scratch wall becomes K × the og100-proven ~40 GB
    * envelope). Invariance of the K-pass union vs the single-shot plan is
    * pinned by NgramPassSpec.
    *
    * The self-join is pinned to SHUFFLE_HASH on the right side (round 16):
    * a checkpoint keeps its origin's file-size estimate, blind to the ~200×
    * gram explode, so left alone Spark BROADCASTS one whole px side at
    * small scales (~5 GB un-gated at og300, a certain 8 GiB failure past
    * it) and flips strategy as the corpus grows. px is rare-first by
    * construction, so its gram keys are skew-light and the per-partition
    * hash build is px_bytes / partitions at any scale. */
  private[graft] def ngramCandSql(pxView: String, passWhere: String = ""): String = {
    val where = if (passWhere.isEmpty) "" else s"\n  WHERE $passWhere"
    s"""cand AS (
       |  SELECT /*+ SHUFFLE_HASH(b) */ a.rep AS ra, b.rep AS rb
       |  FROM $pxView a JOIN $pxView b ON a.gr = b.gr AND a.rep < b.rep
       |    AND least(a.sz, b.sz) >= $JaccGuard * greatest(a.sz, b.sz)$where
       |  GROUP BY a.rep, b.rep)""".stripMargin
  }
  /** Exact-Jaccard verify + threshold over a candidate relation. The
    * broadcast hint is conf-gated (see [[broadcastVerify]]): past the
    * broadcast ceiling (BASELINE §broadcast-slice ceiling) callers flip
    * `spark.graft.verify.broadcast=false` and the same SQL degrades to the
    * shuffled verify instead of hard-failing on the 8 GB broadcast limit. */
  private[graft] def ngramVerifySql(candRel: String, groupsView: String,
      broadcast: Boolean = true): String =
    s"""v AS (
       |  SELECT ${if (broadcast) "/*+ BROADCAST(ga, gb) */ " else ""}ra, rb,
       |    size(array_intersect(ga.grams, gb.grams)) AS ni,
       |    size(ga.grams) AS sa, size(gb.grams) AS sb
       |  FROM $candRel cand JOIN $groupsView ga ON ga.rep = cand.ra
       |            JOIN $groupsView gb ON gb.rep = cand.rb)
       |SELECT ra, rb, jacc FROM (
       |  SELECT ra, rb, round(ni / cast(sa + sb - ni AS DOUBLE), 6) AS jacc
       |  FROM v) t
       |WHERE jacc >= $JaccThreshold""".stripMargin
  /** Verified content pairs (ra, rb, jacc) from a materialized px view,
    * optionally one K-pass slice (`passWhere`, see [[ngramCandSql]]). */
  private[graft] def ngramContentPairsSql(pxView: String, groupsView: String,
      broadcast: Boolean = true, passWhere: String = ""): String =
    s"""WITH ${ngramCandSql(pxView, passWhere)},
       |${ngramVerifySql("cand", groupsView, broadcast)}""".stripMargin
  // the tail goes through a CTE so q46's plan keeps the CTE reference's
  // no-op `jacc AS jacc` alias and stays identical to its recorded form
  private def ngramPairsSql(pxView: String, groupsView: String,
      cfg: ExpandCfg, broadcast: Boolean = true): String =
    s"""WITH cp AS (
       |  SELECT * FROM (
       |${ngramContentPairsSql(pxView, groupsView, broadcast)}
       |  ) _cp),
       |pairs AS (
       |${pairExpandSql(Some("cp"), groupsView, "jacc", "cast(1.0 AS DOUBLE)", cfg)})
       |SELECT da, db, jacc FROM pairs""".stripMargin
  /** Chunk-parallel membership expansion (round 11). Collapse-first leaves
    * exactly one quadratic stage — expanding distinct-content groups back
    * to id-level pairs — and its naive form (`LATERAL VIEW explode(ids) ×
    * explode(ids)`) has parallelism bounded by the PARTITIONING of the
    * collapsed groups view: the generate pipelines with its input rows, and
    * a distinct-content view is only thousands of rows (≈5k at every
    * testdata scale), which AQE coalesces to one or two partitions — so at
    * ×1000 the entire ~2.5B-row id-pair expansion funnels through one or
    * two cores (>15 min CPU-bound in UnsafeRow.copy, run stopped; BASELINE
    * §full-suite ×1000). Repartitioning the group rows alone cannot fix it:
    * a single group's C(n,2) clique (C(2000,2)≈2M pairs at ×1000) still
    * binds to one task. These builders split `ids` into fixed chunks,
    * explode the (ca, cb) chunk-index grid FIRST, and force an
    * explicit-count repartition between the grid and the element explode,
    * so each group becomes ⌈n/C⌉(⌈n/C⌉+1)/2 independent ≤C² tasks spread
    * by (rep, ca, cb) — parallelism ∝ output volume, independent of both
    * group count and group size. The count is explicit because AQE would
    * otherwise coalesce the tiny-by-bytes chunk rows back into one
    * partition — the row-count explosion happens AFTER the exchange,
    * invisible to AQE's size estimate. Slices are projected BEFORE the
    * shuffle so a chunk row carries 2C ids, not the whole group.
    *
    * Output-set equivalence: `ids` is sorted and duplicate-free (unique
    * doc/vec ids through sort_array(collect_list(..))), the chunk grid
    * tiles the full cross product exactly once (triangular grid `cb >= ca`
    * for the self-clique), and the `ia < ib` filter keeps exactly the
    * strict upper triangle — it is vacuously true on off-diagonal tiles of
    * the sorted array and prunes the diagonal tiles precisely as the naive
    * form does. Chunk size is runtime-tunable ([[ExpandChunkConf]]) so
    * specs can exercise multi-chunk paths on toy groups; 2048 keeps the
    * biggest task at ~4M emitted pairs. Since round 12 the chunk grid is
    * SIZE-ADAPTIVE — see [[expandChunked]]: toy corpora take the plain
    * LATERAL VIEW path (no grid, no explicit-count exchange), scale/clone
    * corpora the chunked one, with output invariance across modes pinned
    * by CollapseFirstSpec. */
  private[graft] val ExpandChunkConf = "spark.graft.expand.chunk"
  private[graft] def expandChunk(s: SparkSession): Int =
    s.conf.getOption(ExpandChunkConf).map(_.toInt).getOrElse(2048)
  private[graft] def expandParts(s: SparkSession): Int =
    s.conf.get("spark.sql.shuffle.partitions").toInt

  /** Size-adaptive expansion mode (round 12, VERDICT r11 #4). The
    * chunk-parallel machinery costs two explicit-count exchanges that are
    * pure overhead at toy scale, where every group fits one chunk anyway
    * (~0.3 s per dedup query at sf0.1); at clone/scale corpora it is what
    * keeps the 2.5B-row expansions off a single core. Resolution:
    *  1. an explicitly-set [[ExpandChunkConf]] size means `chunk`
    *     (a manual chunk size IS a request for the chunked path — this is
    *     what keeps CollapseFirstSpec's invariance test spanning BOTH
    *     modes: its base run takes the plain path, its chunk=2/1 runs the
    *     chunked one, and equal output across all three is asserted);
    *  2. otherwise autodetect: chunked iff the corpus table file at `dir` is
    *     >= 4 MB — every clone/scale corpus (>= ×10 = ~10× sf0.1's
    *     0.6 MB documents / 0.8 MB embeddings) crosses it, every
    *     sf-scale dir and crafted spec view (no file at all) stays
    *     plain. A false `chunk` on a big organic corpus is harmless —
    *     one small exchange, same output (the invariance above). */
  private val ChunkAutoBytes = 4L << 20
  /** Corpus-table size for the autodetect: a plain file's length, or — for
    * a directory-style parquet layout (Spark-written table) — the sum of
    * the files directly inside it (ADVICE r12: a directory used to resolve
    * to length()=0 and silently force the plain path on an arbitrarily
    * large corpus, reintroducing the single-task clique straggler). A path
    * that exists as NEITHER (non-local URI, missing table) still resolves
    * plain — that direction is only ever a toy-scale spec view or a probe,
    * and the per-query mode log below makes a wrong resolution visible
    * instead of silent. */
  private def corpusBytes(dir: String, table: String): Long = {
    val f = new java.io.File(s"$dir/$table.parquet")
    if (f.isFile) f.length()
    else if (f.isDirectory)
      Option(f.listFiles()).map(_.iterator.filter(_.isFile).map(_.length()).sum).getOrElse(0L)
    else 0L
  }
  private[graft] def expandChunked(s: SparkSession, dir: String, table: String): Boolean = {
    val (mode, why) =
      if (s.conf.getOption(ExpandChunkConf).isDefined)
        (true, "explicit chunk size implies chunk mode")
      else {
        val bytes = corpusBytes(dir, table)
        (bytes >= ChunkAutoBytes,
          s"autodetect: $dir/$table.parquet = $bytes bytes vs $ChunkAutoBytes threshold")
      }
    // one line per resolution (ADVICE r12): the autodetect is heuristic, so
    // the resolved mode must be visible in any run's stderr, never silent
    System.err.println(s"[graft] expand mode=${if (mode) "chunk" else "plain"} ($why)")
    mode
  }

  /** Verify-stage broadcast kill switch (round 15, ADVICE r14 #4). The
    * q44/q46 verify joins broadcast a slim per-distinct-content slice
    * (~900 MB-1 GB at og300's m=1.5M); past Spark's 8 GB / 512M-row
    * broadcast hard limit (~m in the low tens of millions — BASELINE
    * §broadcast-slice ceiling has the measured curve) the forced hint
    * would hard-fail instead of degrading. `spark.graft.verify.broadcast=false`
    * drops the hint so the
    * planner falls back to the shuffled verify — answer-identical
    * (NgramPassSpec pins both modes equal), just paying the candidate
    * ×slice shuffle bytes the broadcast form avoids. Default true: at
    * every corpus this box can hold, broadcast is the right plan. */
  private[graft] val BroadcastVerifyConf = "spark.graft.verify.broadcast"
  private[graft] def broadcastVerify(s: SparkSession): Boolean =
    s.conf.getOption(BroadcastVerifyConf).forall(_.toBoolean)

  /** Bundled expansion parameters threaded into the builders. */
  private[graft] case class ExpandCfg(chunked: Boolean, parts: Int, chunk: Int)
  private[graft] def expandCfg(s: SparkSession, dir: String,
      table: String = "documents"): ExpandCfg =
    ExpandCfg(expandChunked(s, dir, table), expandParts(s), expandChunk(s))

  /** Within-group clique branch: semantically identical to
    * `FROM groupsView LATERAL VIEW explode(ids) ta AS ia
    *  LATERAL VIEW explode(ids) tb AS ib WHERE ia < ib`, chunk-parallel.
    * `carry` = extra group columns to thread through (", label, selfcos");
    * `groupsFilter` prunes groups before chunking (e.g. the q47 selfcos
    * threshold — NULL-safe: a dropped NULL never had a pair to emit). */
  private[graft] def selfCliqueExpand(groupsView: String, outSelect: String,
      carry: String, groupsFilter: String, cfg: ExpandCfg): String = {
    val (parts, chunk) = (cfg.parts, cfg.chunk)
    val nch = s"cast((size(ids) + ${chunk - 1}) DIV $chunk AS INT)"
    val src = if (groupsFilter.isEmpty) groupsView
              else s"(SELECT * FROM $groupsView WHERE $groupsFilter)"
    if (!cfg.chunked)
      // plain path (size-adaptive, round 12): the exact pre-chunking
      // semantics — same projected subquery shape as the chunked form so
      // carry columns resolve identically, minus the grid, the slices and
      // the explicit-count exchange
      s"""SELECT $outSelect
         |FROM (SELECT rep$carry, ids FROM $src g) ch
         |LATERAL VIEW explode(ids) ta AS ia
         |LATERAL VIEW explode(ids) tb AS ib
         |WHERE ia < ib""".stripMargin
    else
    s"""SELECT $outSelect
       |FROM (
       |  SELECT /*+ REPARTITION($parts, rep, ca, cb) */ rep$carry,
       |    slice(ids, ca * $chunk + 1, $chunk) AS sa,
       |    slice(ids, cb * $chunk + 1, $chunk) AS sb
       |  FROM $src g
       |  LATERAL VIEW explode(sequence(0, $nch - 1)) tca AS ca
       |  LATERAL VIEW explode(sequence(ca, $nch - 1)) tcb AS cb) ch
       |LATERAL VIEW explode(sa) ta AS ia
       |LATERAL VIEW explode(sb) tb AS ib
       |WHERE ia < ib""".stripMargin
  }

  /** Cross-group branch: semantically identical to
    * `FROM pairsView cp JOIN groupsView ga ON ga.rep = cp.ra
    *  JOIN groupsView gb ON gb.rep = cp.rb LATERAL VIEW explode(ga.ids) ta
    *  AS ia LATERAL VIEW explode(gb.ids) tb AS ib`, chunk-parallel over the
    * full (not triangular) chunk grid — two near-dup contents can BOTH
    * carry tens of thousands of clones, making |A|×|B| a straggler the
    * same way a clique is. `carry` threads pair columns (", cp.jacc"). */
  private[graft] def crossPairExpand(pairsView: String, groupsView: String,
      outSelect: String, carry: String, cfg: ExpandCfg): String = {
    val (parts, chunk) = (cfg.parts, cfg.chunk)
    def nch(t: String) = s"cast((size($t.ids) + ${chunk - 1}) DIV $chunk AS INT)"
    if (!cfg.chunked)
      // plain path: the subquery projection keeps carry columns (cp.label
      // etc.) unambiguous vs same-named group columns, exactly as the
      // chunked form does
      s"""SELECT $outSelect
         |FROM (
         |  SELECT cp.ra, cp.rb$carry, ga.ids AS sa, gb.ids AS sb
         |  FROM $pairsView cp JOIN $groupsView ga ON ga.rep = cp.ra
         |                     JOIN $groupsView gb ON gb.rep = cp.rb) ch
         |LATERAL VIEW explode(sa) ta AS ia
         |LATERAL VIEW explode(sb) tb AS ib""".stripMargin
    else
    s"""SELECT $outSelect
       |FROM (
       |  SELECT /*+ REPARTITION($parts, ra, rb, ca, cb) */ cp.ra, cp.rb$carry,
       |    slice(ga.ids, ca * $chunk + 1, $chunk) AS sa,
       |    slice(gb.ids, cb * $chunk + 1, $chunk) AS sb
       |  FROM $pairsView cp JOIN $groupsView ga ON ga.rep = cp.ra
       |                     JOIN $groupsView gb ON gb.rep = cp.rb
       |  LATERAL VIEW explode(sequence(0, ${nch("ga")} - 1)) tca AS ca
       |  LATERAL VIEW explode(sequence(0, ${nch("gb")} - 1)) tcb AS cb) ch
       |LATERAL VIEW explode(sa) ta AS ia
       |LATERAL VIEW explode(sb) tb AS ib""".stripMargin
  }

  /** The id-level tail of the collapse-first dedups (q44, q45, q46 and
    * [[PassRun]]): pairs (da, db, `score`) from [[crossPairExpand]] over
    * the content pairs in `cpView`, each carrying its own score, and from
    * [[selfCliqueExpand]] over every group, whose identical contents score
    * `selfScore`. The entries take both branches; a K-pass run appends
    * each pass's cross pairs (`clique = false`) and the cliques once
    * (`cpView = None`). */
  private[graft] def pairExpandSql(cpView: Option[String], groupsView: String,
      score: String, selfScore: String, cfg: ExpandCfg, clique: Boolean = true): String = {
    val branches = cpView.map(crossPairExpand(_, groupsView,
        s"least(ia, ib) AS da, greatest(ia, ib) AS db, $score", s", cp.$score", cfg)) ++
      Option.when(clique)(selfCliqueExpand(groupsView,
        s"ia AS da, ib AS db, $selfScore AS $score", "", "", cfg))
    require(branches.nonEmpty, "pairExpandSql: neither branch selected")
    s"""SELECT da, db, $score FROM (
       |${branches.mkString("\n  UNION ALL\n")}) u""".stripMargin
  }

  private def ngramGramsDuck: String =
    s"""SELECT doc_id,
       |  list_distinct(list_transform(range(1, length(text) - 2),
       |    i -> ${h32Duck("substr(text, i, 4)")})) AS grams
       |FROM documents WHERE text LIKE '%dup%' AND length(text) >= 4""".stripMargin
  private def ngramPairsDuck(gramsView: String): String =
    s"""SELECT a.doc_id AS da, b.doc_id AS db,
       |  round(len(list_intersect(a.grams, b.grams)) / len(list_distinct(a.grams || b.grams)), 6) AS jacc
       |FROM $gramsView a JOIN $gramsView b ON a.doc_id < b.doc_id
       |WHERE round(len(list_intersect(a.grams, b.grams)) / len(list_distinct(a.grams || b.grams)), 6) >= $JaccThreshold""".stripMargin

  // =========================================================================
  // Dedup 1: exact (hash-groupBy keep-first) — SURVEY-adjacent, LLM-pipeline
  // =========================================================================

  /** Exact dedup, two keys: full-content hash (md5(text): no collisions in
    * corpus → all survive) and a coarse (lang, source) key (keep lowest
    * doc_id). At 100 TB: one hash-partition shuffle on the dedup key; the
    * row_number window never materializes more than one group per task.
    */
  private val dedupExact = {
    val body =
      """SELECT lang, source, keeper, n_dups, distinct_texts FROM (
        |  SELECT lang, source, MIN(doc_id) AS keeper, COUNT(*) AS n_dups,
        |         COUNT(DISTINCT md5(text)) AS distinct_texts
        |  FROM documents GROUP BY lang, source) t
        |ORDER BY lang, source""".stripMargin
    e("q43_dedup_exact", body) { (s, _) => s.sql(body) }
  }

  // =========================================================================
  // Dedup 2: MinHash + LSH (shingle → minhash sig → band → bucket-join)
  // =========================================================================

  private val K = 16 // minhash signature length
  private val BANDS = 4 // 4 bands × 4 rows
  private val P = 1000000007L
  private def permA(i: Int): Long = 2L * i + 3
  private def permB(i: Int): Long = 104729L * i + 12345

  /** word-3-gram shingle set (as 32-bit hashes), DuckDB dialect (the
    * Spark side computes shingles per DISTINCT content inside q44's
    * collapse-first builders). */
  private val shinglesDuck =
    """WITH t AS (
      |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
      |  WHERE len(string_split(text, ' ')) >= 3),
      |hs AS (
      |  SELECT doc_id,
      |    list_distinct(list_transform(
      |      list_transform(range(1, len(toks)-1),
      |        i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]),
      |      s -> HASH32)) AS h
      |  FROM t)""".stripMargin.replace("HASH32", h32Duck("s"))

  private def sigColsSpark: String = (0 until K).map { i =>
    s"array_min(transform(h, x -> (${permA(i)}*x + ${permB(i)}) % $P)) AS s$i"
  }.mkString(",\n    ")

  private def sigColsDuck: String = (0 until K).map { i =>
    s"list_min(list_transform(h, x -> (${permA(i)}*x + ${permB(i)}) % $P)) AS s$i"
  }.mkString(",\n    ")

  private def bandSelects(castV: String => String): String =
    (0 until BANDS).map { b =>
      val cols = (0 until K / BANDS).map(r => castV(s"s${b * K / BANDS + r}")).mkString(" || '_' || ")
      s"SELECT doc_id, $b AS b, md5($cols) AS bh FROM sig"
    }.mkString("\n  UNION ALL ")

  /** MinHash-LSH near-dup pairs, verified with exact Jaccard ≥ 0.6.
    * Scale shape: shingling+signatures are map-side; `bands` is a narrow
    * 4× row blowup; the self-join shuffles only on (band, band_hash) — the
    * LSH buckets — so work is proportional to bucket collisions, not n².
    *
    * The shingle+signature table is materialized once with
    * `localCheckpoint()` before the self-join: Catalyst inlines CTEs, so
    * without it the shingling + 16 minhash folds would be recomputed once
    * per reference (bands a, bands b, verify x, verify y). `.cache()`
    * does NOT work here — cached-plan lookup through a temp view misses
    * for plans containing higher-order-function lambdas (fresh lambda
    * exprIds defeat canonicalized plan matching), and both join sides
    * silently recompute from the file scan. At 100 TB this is the
    * persisted signature dataset every MinHash pipeline checkpoints
    * between candidate generation and verification.
    */
  /** Spark-side band generation in ONE pass over the signatures: `inline`
    * explodes an array of (b, bh) structs, so the 16 minhash folds run once
    * per distinct content — a UNION ALL of 4 selects would recompute them
    * 4× since Catalyst inlines CTEs. */
  private def bandsInlineSpark: String = {
    val structs = (0 until BANDS).map { b =>
      val cols = (0 until K / BANDS).map(r => s"cast(s${b * K / BANDS + r} AS STRING)")
        .mkString(" || '_' || ")
      s"named_struct('b', $b, 'bh', md5($cols))"
    }.mkString(",\n      ")
    s"""SELECT rep, inline(array(
       |      $structs))
       |  FROM q44_sig""".stripMargin
  }

  // COLLAPSE-FIRST (round 10, the q46/q66 remedy): signatures and band
  // hashes are pure functions of text, so shingling, the 16 minhash
  // folds, the banded bucket join, and the exact-Jaccard verify all run
  // over DISTINCT contents (one row per text, keyed by its min doc_id).
  // Identical contents share every band and verify at jacc = 1.0, so a
  // group's ids expand to a within-group clique and a qualifying
  // content pair expands to all cross pairs — exactly the doc-level
  // answer, proven by the unchanged all-pairs DuckDB oracle. At ×1000
  // (1000 clones/content) this cuts the candidate join's input 1000×
  // and the quadratic regime survives only in the OUTPUT expansion,
  // bounded by the answer itself. The verified content pairs are
  // checkpointed so the expansion copies jacc instead of recomputing
  // the array-intersect per emitted row.
  // (private[graft]: PassRun and MinhashPassSpec rebuild these
  // views; the verify stage's measured broadcast bytes are in BASELINE
  // §broadcast-slice ceiling.)
  private[graft] val minhashGroupsSql =
    """SELECT min(doc_id) AS rep, sort_array(collect_list(doc_id)) AS ids, text
      |FROM documents WHERE size(split(text, ' ')) >= 3
      |GROUP BY text""".stripMargin
  private[graft] val minhashSigSql =
    s"""WITH t AS (
       |  SELECT rep, split(text, ' ') AS toks FROM q44_g),
       |hs AS (
       |  SELECT rep,
       |    array_distinct(transform(
       |      transform(sequence(1, size(toks)-2),
       |        i -> concat_ws(' ', element_at(toks,i), element_at(toks,i+1), element_at(toks,i+2))),
       |      s -> ${h32Spark("s")})) AS h
       |  FROM t)
       |SELECT rep, h,
       |    $sigColsSpark
       |FROM hs""".stripMargin
  /** Candidate stage of q44 (bands inline + banded self-join + DISTINCT),
    * as a WITH prefix. `passFilter` (round 16, the q46 K-pass protocol
    * carried to q44): a predicate on `a.rep` only — e.g.
    * `pmod(hash(a.rep), K) = i` — so Catalyst pushes it below the banded
    * self-join to the a side and every unordered pair lands in exactly
    * one pass via its SMALLER rep (ra < rb is the join condition). Empty
    * string = the production single-shot form, byte-identical to the
    * pre-factoring SQL. Needs temp views `q44_sig`. */
  private[graft] def minhashCandSql(passFilter: String): String = {
    val pf = if (passFilter.isEmpty) "" else s" AND $passFilter"
    s"""WITH bands AS (
       |  $bandsInlineSpark),
       |cand AS (
       |  SELECT DISTINCT a.rep AS ra, b.rep AS rb
       |  FROM bands a JOIN bands b ON a.b = b.b AND a.bh = b.bh AND a.rep < b.rep$pf)""".stripMargin
  }

  /** Exact-Jaccard verify over `cand` against the (rep, h) slice of
    * `q44_sig` — broadcast below the measured m* ≈ 9.4M ceiling,
    * shuffled past it (BASELINE §broadcast-slice ceiling). */
  private[graft] def minhashVerifySql(broadcast: Boolean): String =
    s"""SELECT ${if (broadcast) "/*+ BROADCAST(x, y) */ " else ""}ra, rb,
       |  round(size(array_intersect(x.h, y.h)) / size(array_union(x.h, y.h)), 6) AS jacc
       |FROM cand JOIN (SELECT rep, h FROM q44_sig) x ON x.rep = ra
       |          JOIN (SELECT rep, h FROM q44_sig) y ON y.rep = rb
       |WHERE round(size(array_intersect(x.h, y.h)) / size(array_union(x.h, y.h)), 6) >= 0.6""".stripMargin

  private val dedupMinhash = {
    val groupsSpark = minhashGroupsSql
    val hsSigSpark = minhashSigSql
    // The verify joins BROADCAST a projected (rep, shingles) slice of the
    // sig view — q46's round-13 lesson applied here (round 14, the og300
    // wall): shuffling the candidate stream against sig rows that carry
    // the ~500 B shingle arrays materializes a candidate×h intermediate
    // that is answer-bound in ROWS but not in BYTES (og300: ~235M
    // candidate pairs × ~600 B ≈ 140 GB of shuffle scratch — ENOSPC'd a
    // 46 GB-free box; og100's 26M-pair run just fit). Broadcast, the
    // candidate stream probes both sides in place and reduces to 24-byte
    // (ra, rb, jacc) rows before any exchange. The broadcast slice is one
    // row per DISTINCT content (~900 MB at og300's m=1.5M, same scale as
    // q46's groups view — fine for one JVM / a 1000-node cluster's
    // executors, and the piece to watch at 100× more distinct contents).
    // Broadcast conf-gated like q46's verify (ADVICE r14 #4): past the
    // broadcast ceiling spark.graft.verify.broadcast=false degrades this to the
    // shuffled verify instead of hard-failing on Spark's 8 GB limit.
    def contentPairsSpark(broadcast: Boolean) =
      s"""${minhashCandSql("")}
         |${minhashVerifySql(broadcast)}""".stripMargin
    val duck =
      s"""$shinglesDuck,
         |sig AS (
         |  SELECT doc_id, h,
         |    $sigColsDuck
         |  FROM hs),
         |bands AS (
         |  ${bandSelects(v => s"$v::VARCHAR")}),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
         |  FROM bands a JOIN bands b ON a.b = b.b AND a.bh = b.bh AND a.doc_id < b.doc_id)
         |SELECT da, db,
         |  round(len(list_intersect(x.h, y.h)) / len(list_distinct(x.h || y.h)), 6) AS jacc
         |FROM cand JOIN hs x ON x.doc_id = da JOIN hs y ON y.doc_id = db
         |WHERE round(len(list_intersect(x.h, y.h)) / len(list_distinct(x.h || y.h)), 6) >= 0.6
         |ORDER BY da, db""".stripMargin
    e("q44_dedup_minhash_lsh", duck) { (s, dir) =>
      s.sql(groupsSpark).graftCkptView("q44_g")
      s.sql(hsSigSpark).graftCkptView("q44_sig")
      s.sql(contentPairsSpark(broadcastVerify(s))).graftCkpt()
        .createOrReplaceTempView("q44_cp")
      // sp's jacc is identically 1.0: x.h == y.h, so intersect == union
      // (h is already array_distinct'd and non-empty under the >= 3 filter)
      s.sql(pairExpandSql(Some("q44_cp"), "q44_g", "jacc", "cast(1.0 AS DOUBLE)",
        expandCfg(s, dir)) + "\nORDER BY da, db")
    }
  }

  // =========================================================================
  // Dedup 3: SimHash (token-hash bit-vote → 60-bit sketch → hamming pairs)
  // =========================================================================

  private def h60Duck(s: String) = s"('0x' || substr(md5($s),1,15))::BIGINT"

  /** SimHash over the marked candidate subset (docs containing the planted
    * 'dup' token). Spark side: the 60-bit sketch (token hash = 15 md5 hex
    * chars, so every sketch bit carries signal and the BIGINT sign bit
    * stays clear — shiftright never sign-extends) is the codegen'd
    * `simhash60(text)` kernel ([[Fingerprints.simhash60]]): one pass over
    * the text's bytes, one md5 per token, the 60 per-bit ±1 votes in a
    * local array. It replaced an explode of every token hash into a row
    * and a 60-column `SUM(CASE ...)` vote aggregate behind a shuffle,
    * whose fused method was the one generated method over HotSpot's
    * 8,000-byte JIT limit. Integer vote sums are order-independent, so
    * the sketch is identical (ExpressionsSpec keeps the old SQL as the
    * reference).
    *
    * Pairing is BANDED, not all-pairs — and since round 2 the banding is
    * done by the [[HammingJoinRewrite]] optimizer rule: the query below is
    * the NAIVE `bit_count(a.sh ^ b.sh) <= 8` join, and the rule rewrites
    * it into the (band, value) equi-join at plan time (k+1 = 9 interleaved
    * bands partitioning the 64-bit domain, so the 4 dead high bits spread
    * across bands). By pigeonhole, a pair at
    * hamming ≤ 8 differs in at most 8 of the 9 bands, so at least one
    * band is exactly equal — the equi-join has PERFECT recall at the ≤8
    * threshold and the exact bit_count verify keeps precision, so the
    * output is provably identical to the all-pairs formulation the oracle
    * runs. Work is ∝ band collisions: each interleaved band carries 6-7
    * signal bits of a 60-bit sketch → ~1/64-1/128 collision for unrelated
    * sketches (a 32-bit sketch was measurably useless here — its 3-4-bit
    * bands put ~91% of all pairs in some shared bucket; BASELINE.md
    * §"Scale stress" records the candidate ratio measured under the rule's
    * own layout). 4 bands
    * would not suffice even for recall: 8 differing bits can spread 2 per
    * band.
    * The groups table carries the sketch and feeds both join sides and
    * both expansions → eagerly materialized via `localCheckpoint`
    * (Catalyst would otherwise inline the view and recompute the
    * aggregate per use).
    *
    * COLLAPSE-FIRST (round 10): the sketch is a pure function of text,
    * so both the sketch and the hamming join run over DISTINCT contents
    * (keyed by min doc_id) and the id-level answer is recovered by
    * expanding group memberships — identical contents have hamming 0,
    * always within threshold, so a group is a clique; a qualifying
    * content pair expands to all cross pairs carrying its hamming. The
    * unchanged all-pairs DuckDB oracle proves the restatement.
    */
  // `text` is never null here (the LIKE drops nulls), but the grouping
  // key's type stays nullable and so would `sh`; the coalesce only gives
  // `sh` the non-null type. A nullable sketch puts a null check on each
  // of the rewrite's 60 band-bit extractions, and the banded join's
  // generated method grew from 3,825 to 6,431 bytes.
  private[graft] val simhashGroupsSql =
    """SELECT text, min(doc_id) AS rep, sort_array(collect_list(doc_id)) AS ids,
      |  coalesce(simhash60(text), 0) AS sh
      |FROM documents WHERE text LIKE '%dup%'
      |GROUP BY text""".stripMargin
  // written as the NAIVE all-pairs hamming join: [[HammingJoinRewrite]]
  // (active on every prepared session) rewrites it into the banded LSH
  // equi-join at optimization time — HammingJoinSpec and PlanSweep pin
  // the plan shape, this oracle pins the semantics. Content-level
  // keys don't change the rule's pattern (it matches the join
  // condition's shape, not column names).
  private[graft] val simhashContentPairSql =
    s"""SELECT a.rep AS ra, b.rep AS rb,
       |  cast(bit_count(a.sh ^ b.sh) AS BIGINT) AS hamming
       |FROM q45_g a JOIN q45_g b
       |  ON bit_count(a.sh ^ b.sh) <= 8 AND a.rep < b.rep""".stripMargin
  /** K-pass variant of [[simhashContentPairSql]] (round 16, the q44/q46
    * protocol carried to q45): the pass predicate lives in an a-side
    * SUBQUERY rather than an extra join conjunct, so the join condition
    * keeps the exact `bit_count(^) <= t AND a.rep < b.rep` shape
    * [[HammingJoinRewrite]] pattern-matches — the rewrite still fires
    * (SimhashPassSpec asserts the banded plan) and the filter sits
    * below the join by construction. Every unordered pair lands in
    * exactly one pass via its SMALLER rep. The subquery names its table
    * `a` too, so the filter reads `pmod(hash(a.rep), K) = i` as q44's and
    * q46's do. */
  private[graft] def simhashContentPairPassSql(passFilter: String): String =
    s"""SELECT a.rep AS ra, b.rep AS rb,
       |  cast(bit_count(a.sh ^ b.sh) AS BIGINT) AS hamming
       |FROM (SELECT * FROM q45_g a WHERE $passFilter) a JOIN q45_g b
       |  ON bit_count(a.sh ^ b.sh) <= 8 AND a.rep < b.rep""".stripMargin

  private val dedupSimhash = {
    val duck =
      s"""WITH t AS (
         |  SELECT doc_id, list_transform(string_split(text, ' '), w -> ${h60Duck("w")}) AS h
         |  FROM documents WHERE text LIKE '%dup%'),
         |s AS (
         |  SELECT doc_id,
         |    list_sum(list_transform(range(0, ${Fingerprints.SimhashBits}), bb ->
         |      CASE WHEN list_sum(list_transform(h,
         |                  x -> CASE WHEN ((x >> bb) & 1) = 1 THEN 1 ELSE -1 END)) >= 0
         |           THEN (1::BIGINT << bb) ELSE 0::BIGINT END))::BIGINT AS sh
         |  FROM t)
         |SELECT a.doc_id AS da, b.doc_id AS db,
         |  bit_count(xor(a.sh, b.sh))::BIGINT AS hamming
         |FROM s a JOIN s b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.sh, b.sh)) <= 8
         |ORDER BY da, db""".stripMargin
    e("q45_dedup_simhash", duck) { (s, dir) =>
      s.sql(simhashGroupsSql).graftCkptView("q45_g")
      s.sql(simhashContentPairSql).graftCkptView("q45_cp")
      s.sql(pairExpandSql(Some("q45_cp"), "q45_g", "hamming", "cast(0 AS BIGINT)",
        expandCfg(s, dir)) + "\nORDER BY da, db")
    }
  }

  // =========================================================================
  // Dedup 4: character-n-gram Jaccard (direct verification pass)
  // =========================================================================

  /** Spark side is a collapse-first PREFIX-FILTERED inverted-index join —
    * the shape that survives 100 TB of duplicate-heavy data: group
    * identical texts (the [[ngramGroupsSpark]] view), find qualifying
    * distinct-content pairs via [[ngramContentPairsSql]] (rare-first
    * prefix postings join + exact array_intersect verify — see its
    * scaladoc for the exactness argument), then expand qualifying group
    * pairs back to id pairs (cross-group via the ids lists; within-group
    * pairs are jacc = 1.0 exactly — identical gram sets give
    * ni = |A| = |B|, so ni/(|A|+|B|−ni) is x/x = 1.0 before and after
    * round()). The collapse is the ×100 clone lesson (the un-collapsed
    * postings join wrote >70 GB of shuffle at ×100 before ENOSPC); the
    * prefix filter is the organic-×100 lesson (the un-filtered collapsed
    * join still enumerated one row per pair × EVERY shared gram — >110 GB
    * of scratch at organic ×100, BASELINE). The groups table is
    * materialized once with `localCheckpoint()` (it feeds the postings
    * stages, the broadcast verify, and both expansion joins; `.cache()`
    * through a temp view misses for HOF-lambda plans — see q44). */
  private val dedupNgram = {
    val duck =
      s"""WITH g AS (
         |  $ngramGramsDuck)
         |${ngramPairsDuck("g")}
         |ORDER BY da, db""".stripMargin
    e("q46_dedup_ngram_jaccard", duck) { (s, dir) =>
      s.sql(ngramGroupsSpark).graftCkptView("q46_g")
      // px materialized once — see [[ngramPxSql]]
      s.sql(ngramPxSql("q46_g")).graftCkptView("q46_px")
      s.sql(ngramPairsSql("q46_px", "q46_g", expandCfg(s, dir),
        broadcastVerify(s)) + "\nORDER BY da, db")
    }
  }

  // =========================================================================
  // Similarity: embedding cosine (shared fold-order-exact dot product)
  // =========================================================================

  /** Spark: the custom codegen'd [[DotProduct]] expression — same strict
    * left-to-right summation order as a zip_with fold, compiled to a
    * primitive loop inside whole-stage codegen. */
  private def dotSpark(a: String, b: String) = s"dot_product($a, $b)"

  /** DuckDB: list_reduce with a prepended 0 — same left-to-right order, so
    * the double result is bit-identical to Spark's fold. */
  private def dotDuck(a: String, b: String) =
    s"list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, len($a)+1), i -> $a[i]::DOUBLE * $b[i]::DOUBLE)), (acc, v) -> acc + v)"

  /** Embedding-cosine near-dup pairs, blocked by cluster label (the IVF
    * cell): at 100 TB you never do the n² cross join — co-partition by the
    * coarse cell and compare within. Norms are precomputed per ROW before
    * the join (3× fewer folds than a cosine-per-pair formulation); the
    * arithmetic — dot/(sqrt(na)·sqrt(nb)) — is unchanged, so results are
    * bit-identical to the naive form.
    *
    * Within a label the pairing is GRID-BLOCKED so no task ever holds an
    * unbounded O(m²) block: each row gets a sub-group g = vec_id mod G;
    * a row joins as the LEFT side of grid cells (g, j) for j ≥ g and as
    * the RIGHT side of cells (i, g) for i ≤ g, and the join key is
    * (label, cell). Every unordered pair lands in exactly one cell
    * (min(ga,gb), max(ga,gb)) with the smaller-group row on the left
    * (vec_id order breaks ties in diagonal cells) — no DISTINCT needed —
    * and va/vb are emitted as least/greatest(vec_id), so the output is
    * provably identical to the naive within-label join (the DuckDB
    * oracle), while the biggest join task is (m/G)² comparisons across
    * G(G+1)/2 balanced cells. Total work stays O(m²) (the semantics
    * require every within-label pair checked) but the straggler block is
    * gone; since round 13 G is ADAPTIVE per label (see [[gridCell]]):
    * G = max(min(m_label, 4), ceil(m_label/cell)), so the per-cell budget
    * holds at any m with no constant to retune while small labels keep
    * the old static constant's parallelism. */
  /** Grid-cell pair budget for q47 (round 13, VERDICT r12 #2). The grid
    * constant used to be a static G=4 — it held at m=200k distinct vectors
    * (76.9 s at organic ×100) but at m=2M per label the biggest cell would
    * be (500k)² comparisons on one task: a straggler by construction.
    * Adaptive G: per label, G = max(min(m_label, 4), ceil(m_label / cell))
    * where m_label = that label's DISTINCT-content group count (a window
    * count over the groups aggregate — one cheap label-partition exchange)
    * and `cell` is this budget (conf [[GridCellConf]], default 2048).
    * Per-cell work is then
    * (m_label/G)² <= cell² ≈ 4.2M pairs — the same per-task budget the
    * chunk expansion targets (2048² slices) — for ANY m, while per-row
    * replication (G+1 explode rows across the two sides) grows only as
    * m/cell. The min(m_label, 4) FLOOR keeps the old static constant's
    * parallelism where the budget alone would degenerate: at organic ×10
    * (10 labels × ~2k groups) ceil(m/cell) = 1 puts each label's whole
    * (2k)² block on ONE task — measured 11.8 s vs the floored plan's
    * ~2.6 s (G=4 ⇒ 10 cells/label, 32 cores busy). Below m_label = 4·cell
    * the floor is exactly the round-12 static grid, so every pinned toy /
    * ×N measurement is unchanged; above it the budget term takes over and
    * caps the cell. Output invariance across cell sizes is pinned by
    * CollapseFirstSpec (cell=1 forces G=m). */
  private[graft] val GridCellConf = "spark.graft.grid.cell"
  private[graft] def gridCell(s: SparkSession): Double =
    s.conf.getOption(GridCellConf).map(_.toDouble).getOrElse(2048.0)

  /** Parallelism floor for the adaptive grid (ADVICE r13): the min
    * sub-group count per label (capped at m_label) when the cell budget
    * alone would under-parallelize. 4 is the round-12 static grid
    * measured optimal on the 32-core box. Semantics are output-invariant
    * at any G (CollapseFirstSpec pins invariance across grid shapes). */
  private val GridFloor = 4

  private val dedupEmbedding = {
    def naive(dot: (String, String) => String): String =
      s"""WITH e AS (
         |  SELECT vec_id, label, embedding,
         |    sqrt(${dot("embedding", "embedding")}) AS nrm
         |  FROM embeddings)
         |SELECT va, vb, label, cos_sim FROM (
         |  SELECT a.vec_id AS va, b.vec_id AS vb, a.label AS label,
         |    round(${dot("a.embedding", "b.embedding")} / (a.nrm * b.nrm), 6) AS cos_sim
         |  FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id) t
         |WHERE cos_sim >= 0.4
         |ORDER BY va, vb""".stripMargin
    // COLLAPSE-FIRST (round 10, the q46/q66 remedy): cos_sim is a pure
    // function of the two embeddings, so norms, the gridded within-label
    // join, and the similarity verify all run over DISTINCT
    // (label, embedding) contents (keyed by min vec_id) and the id-level
    // answer is recovered by expanding group memberships: a group is a
    // self-clique at its own selfcos (≡ 1.0 when nrm > 0 — the same
    // round(dot/(nrm·nrm)) expression the naive join evaluates for two
    // copies of one vector, kept as an expression so a duplicated zero
    // vector raises the same ANSI DIVIDE_BY_ZERO the naive join raises,
    // CollapseFirstSpec). selfcos is guarded to groups of size ≥ 2
    // (ADVICE r10): the naive join only ever evaluates cos per PAIR, so a
    // singleton group must not raise in this auxiliary aggregation the
    // naive plan doesn't have. Note the guard does NOT make a lone zero
    // vector silent: under Spark ANSI the pushed cos_sim predicate is
    // evaluated inside BOTH joins on the label self-pair before the
    // vec_id/rep inequality excludes it, so naive and collapse-first
    // raise identically (probed; DuckDB's lazy per-pair evaluation
    // returns empty — an engine-level evaluation-order difference pinned
    // by CollapseFirstSpec's parity test). A qualifying content pair expands
    // to all cross pairs carrying its cos_sim. The grid survives at
    // content level (pmod(rep, G)) — on organic data with no exact
    // duplicates the groups ARE the vectors and the grid is still what
    // balances the straggler label-block. The unchanged all-pairs DuckDB
    // oracle proves the restatement; verified content pairs are
    // checkpointed so the expansion copies cos_sim instead of re-running
    // the fold dot product per emitted row (measured: the per-row fold
    // ground ~50 min into a ×1000 count before this change).
    def groupsSql(cell: Double, floor: Int) =
      s"""SELECT base.*, cast(pmod(rep, gl) AS INT) AS g FROM (
         |  SELECT agg.*,
         |    greatest(least(cast(count(*) OVER (PARTITION BY label) AS INT), $floor),
         |      cast(ceil(count(*) OVER (PARTITION BY label) / $cell) AS INT)) AS gl
         |  FROM (
         |    SELECT label, embedding, min(vec_id) AS rep,
         |      sort_array(collect_list(vec_id)) AS ids,
         |      sqrt(${dotSpark("embedding", "embedding")}) AS nrm,
         |      CASE WHEN count(*) >= 2 THEN
         |        round(${dotSpark("embedding", "embedding")} /
         |          (sqrt(${dotSpark("embedding", "embedding")}) * sqrt(${dotSpark("embedding", "embedding")})), 6)
         |      ELSE cast(NULL AS DOUBLE) END AS selfcos
         |    FROM embeddings GROUP BY label, embedding) agg) base""".stripMargin
    val contentPairsSql =
      s"""WITH lft AS (SELECT q47_g.*, bj FROM q47_g
         |  LATERAL VIEW explode(sequence(g, gl - 1)) t AS bj),
         |rgt AS (SELECT q47_g.*, bi FROM q47_g
         |  LATERAL VIEW explode(sequence(0, g)) t AS bi)
         |SELECT ra, rb, label, cos_sim FROM (
         |  SELECT least(a.rep, b.rep) AS ra,
         |    greatest(a.rep, b.rep) AS rb, a.label AS label,
         |    round(${dotSpark("a.embedding", "b.embedding")} / (a.nrm * b.nrm), 6) AS cos_sim
         |  FROM lft a JOIN rgt b
         |    ON a.label = b.label AND a.g = b.bi AND a.bj = b.g
         |    AND (a.g < b.g OR a.rep < b.rep)) t
         |WHERE cos_sim >= 0.4""".stripMargin
    def expandSql(cfg: ExpandCfg) =
      s"""SELECT va, vb, label, cos_sim FROM (
         |${crossPairExpand("q47_cp", "q47_g",
             "least(ia, ib) AS va, greatest(ia, ib) AS vb, label, cos_sim",
             ", cp.label, cp.cos_sim", cfg)}
         |  UNION ALL
         |${selfCliqueExpand("q47_g",
             "ia AS va, ib AS vb, label, selfcos AS cos_sim", ", label, selfcos",
             "selfcos >= 0.4", cfg)}) u
         |ORDER BY va, vb""".stripMargin
    e("q47_dedup_embedding_cosine", naive(dotDuck)) { (s, dir) =>
      s.sql(groupsSql(gridCell(s), GridFloor)).graftCkptView("q47_g")
      s.sql(contentPairsSql).graftCkptView("q47_cp")
      s.sql(expandSql(expandCfg(s, dir, "embeddings")))
    }
  }

  /** Brute-force cosine top-k (the ANN baseline): queries broadcast against
    * the full corpus; per-row norms precomputed before the join; ranking on
    * the ROUNDED similarity (vec_id tiebreak) so cross-engine rank order is
    * exact. */
  private val annBrute = {
    def q(dot: (String, String) => String): String =
      s"""WITH e AS (
         |  SELECT vec_id, embedding, sqrt(${dot("embedding", "embedding")}) AS nrm
         |  FROM embeddings),
         |q AS (SELECT vec_id AS qid, embedding AS qv, nrm AS qn FROM e WHERE vec_id < 5),
         |scored AS (
         |  SELECT qid, e.vec_id,
         |    round(${dot("qv", "e.embedding")} / (qn * e.nrm), 6) AS cos_sim
         |  FROM q JOIN e ON e.vec_id != qid)
         |SELECT qid, vec_id, cos_sim,
         |  cast(rn AS BIGINT) AS rn FROM (
         |  SELECT qid, vec_id, cos_sim,
         |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos_sim DESC, vec_id) AS rn
         |  FROM scored) t
         |WHERE rn <= 10
         |ORDER BY qid, rn""".stripMargin
    e("q48_ann_topk_brute", q(dotDuck)) { (s, _) => s.sql(q(dotSpark)) }
  }

  /** IVF-style ANN: build per-label centroids (k=10 coarse cells), assign
    * each query to its `nprobe` nearest centroids, then search only those
    * cells. Scale path: centroids are tiny (k×dim) → broadcast; probe
    * assignment is map-side; the candidate scan touches nprobe/k of the
    * corpus.
    *
    * Sizing rule: k (cell count) grows ≈ sqrt(n) with the corpus so cells
    * stay O(sqrt(n)); `nprobe` is the recall/latency dial — recall rises
    * monotonically with nprobe (candidate superset ⇒ rank-i similarity is
    * monotone, PipelineSpec) at linear cost in cells scanned. The contract
    * query pins nprobe=1 (the oracle's shape); BASELINE.md §"Scale stress"
    * times nprobe 1 vs 2 on the ×8 corpus. */
  private[graft] def annIvfSql(dialect: String, nprobe: Int): String = {
    {
      val dot = if (dialect == "spark") dotSpark _ else dotDuck _
      val (explode, listagg) = dialect match {
        case "spark" => (
          """SELECT label, pos, avg(cast(v AS DOUBLE)) AS cv
            |  FROM (SELECT label, posexplode(embedding) AS (pos, v) FROM embeddings)
            |  GROUP BY label, pos""".stripMargin,
          "transform(array_sort(collect_list(struct(pos, cv))), p -> p.cv)")
        case _ => (
          """SELECT label, pos, avg(v) AS cv
            |  FROM (SELECT label, generate_subscripts(embedding, 1) AS pos,
            |          unnest(embedding)::DOUBLE AS v FROM embeddings)
            |  GROUP BY label, pos""".stripMargin,
          "list(cv ORDER BY pos)")
      }
      s"""WITH dims AS (
         |  $explode),
         |centroids AS (
         |  SELECT label, cvec, sqrt(${dot("cvec", "cvec")}) AS cn FROM (
         |    SELECT label, $listagg AS cvec FROM dims GROUP BY label) c0),
         |e AS (
         |  SELECT vec_id, label, embedding, sqrt(${dot("embedding", "embedding")}) AS nrm
         |  FROM embeddings),
         |q AS (SELECT vec_id AS qid, embedding AS qv, nrm AS qn FROM e WHERE vec_id < 5),
         |assign AS (
         |  SELECT qid, qv, qn, cell FROM (
         |    SELECT qid, qv, qn, centroids.label AS cell,
         |      ROW_NUMBER() OVER (PARTITION BY qid
         |        ORDER BY round(${dot("qv", "cvec")} / (qn * cn), 6) DESC, centroids.label) AS rn
         |    FROM q CROSS JOIN centroids) t
         |  WHERE rn <= $nprobe),
         |scored AS (
         |  SELECT qid, e.vec_id, e.label,
         |    round(${dot("qv", "e.embedding")} / (qn * e.nrm), 6) AS cos_sim
         |  FROM assign JOIN e ON e.label = assign.cell AND e.vec_id != qid)
         |SELECT qid, vec_id, label, cos_sim, cast(rn AS BIGINT) AS rn FROM (
         |  SELECT qid, vec_id, label, cos_sim,
         |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos_sim DESC, vec_id) AS rn
         |  FROM scored) t
         |WHERE rn <= 5
         |ORDER BY qid, rn""".stripMargin
    }
  }

  private val annIvf =
    e("q49_ann_ivf", annIvfSql("duck", 1)) { (s, _) =>
      s.sql(annIvfSql("spark", 1))
    }

  /** The nprobe dial pinned cross-engine: same template, 2 of 10 cells. */
  private val annIvfNprobe2 =
    e("q104_ann_ivf_nprobe2", annIvfSql("duck", 2)) { (s, _) =>
      s.sql(annIvfSql("spark", 2))
    }

  /** SQ8 scalar quantization of the embedding corpus + recall audit — the
    * storage lever at 100 TB: per-dimension min/max → 8-bit codes shrink
    * float32 vectors 4× (the table a production ANN serves from), and the
    * operator measures what that costs: recall@10 of brute-force search
    * over DEQUANTIZED vectors against exact top-10, per query. Everything
    * is deterministic double arithmetic written identically in both
    * dialects (round() is half-away-from-zero on non-negative inputs in
    * both), so the oracle pins codes, ranks, and recall bit-for-bit.
    * Shape at scale: the stats pass is one posexplode+groupBy(pos) (64
    * groups); encoding is map-side; the audit is the q48 brute pattern. */
  private val embeddingSq8 = {
    def q(dialect: String): String = {
      val dot = if (dialect == "spark") dotSpark _ else dotDuck _
      s"""WITH dn AS (
         |  SELECT vec_id, dvec, sqrt(${dot("dvec", "dvec")}) AS dnrm FROM DEQ_SOURCE),
         |e AS (
         |  SELECT vec_id, embedding, sqrt(${dot("embedding", "embedding")}) AS nrm
         |  FROM embeddings),
         |exact AS (
         |  SELECT qid, vec_id FROM (
         |    SELECT q.vec_id AS qid, e.vec_id,
         |      ROW_NUMBER() OVER (PARTITION BY q.vec_id
         |        ORDER BY round(${dot("q.embedding", "e.embedding")} / (q.nrm * e.nrm), 6) DESC, e.vec_id) AS rn
         |    FROM e q JOIN e ON e.vec_id != q.vec_id WHERE q.vec_id < 5) t
         |  WHERE rn <= 10),
         |approx AS (
         |  SELECT qid, vec_id FROM (
         |    SELECT q.vec_id AS qid, d.vec_id,
         |      ROW_NUMBER() OVER (PARTITION BY q.vec_id
         |        ORDER BY round(${dot("q.dvec", "d.dvec")} / (q.dnrm * d.dnrm), 6) DESC, d.vec_id) AS rn
         |    FROM dn q JOIN dn d ON d.vec_id != q.vec_id WHERE q.vec_id < 5) t
         |  WHERE rn <= 10)
         |SELECT exact.qid, CAST(COUNT(approx.vec_id) AS BIGINT) AS n_overlap,
         |  round(COUNT(approx.vec_id) / CAST(10 AS DOUBLE), 2) AS recall10
         |FROM exact LEFT JOIN approx
         |  ON exact.qid = approx.qid AND exact.vec_id = approx.vec_id
         |GROUP BY exact.qid ORDER BY exact.qid""".stripMargin
    }
    def deqSql(dialect: String): String = {
      val (explode, listagg) = dialect match {
        case "spark" => (
          "SELECT vec_id, posexplode(embedding) AS (pos, v) FROM embeddings",
          "transform(array_sort(collect_list(struct(pos, dv))), p -> p.dv)")
        case _ => (
          """SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
            |unnest(embedding) AS v FROM embeddings""".stripMargin,
          "list(dv ORDER BY pos)")
      }
      s"""WITH dims AS ($explode),
         |stats AS (
         |  SELECT pos, min(CAST(v AS DOUBLE)) AS mn, max(CAST(v AS DOUBLE)) AS mx
         |  FROM dims GROUP BY pos),
         |deq AS (
         |  SELECT vec_id, dims.pos,
         |    mn + round((CAST(v AS DOUBLE) - mn) / (mx - mn) * 255) / 255.0 * (mx - mn) AS dv
         |  FROM dims JOIN stats ON dims.pos = stats.pos)
         |SELECT vec_id, $listagg AS dvec FROM deq GROUP BY vec_id""".stripMargin
    }
    // Spark: the dequantized-vector table feeds BOTH window branches of the
    // audit (approx side q AND corpus) — materialize once via localCheckpoint
    // or Catalyst inlines the whole stats+encode pipeline into each branch
    // (PlanSweep flagged the inlined form as an exchange storm).
    // DuckDB runs the equivalent as one statement (its optimizer shares CTEs).
    e("q85_embedding_sq8",
      q("duck").replace("DEQ_SOURCE", s"(${deqSql("duck")}) deqsrc")) { (s, _) =>
      s.sql(deqSql("spark")).graftCkptView("q85_dv")
      s.sql(q("spark").replace("DEQ_SOURCE", "q85_dv"))
    }
  }

  // =========================================================================
  // Text analysis
  // =========================================================================

  /** Language-ID heuristic: stopword-ratio n-gram scoring (the classic
    * fasttext-lite signal). All ratios are double divisions of identical
    * integers → bit-identical across engines, so the tier CASE is safe. */
  private val langId = {
    def q(nTok: String, nStop: String): String =
      s"""SELECT doc_id, lang,
         |  $nTok AS n_tokens,
         |  $nStop AS n_stop,
         |  round($nStop / cast($nTok AS DOUBLE), 6) AS stop_ratio,
         |  CASE WHEN $nStop / cast($nTok AS DOUBLE) >= 0.15 THEN 'en' ELSE 'other' END AS predicted
         |FROM documents
         |ORDER BY doc_id""".stripMargin
    val spark_ = q(
      "cast(size(split(text, ' ')) AS BIGINT)",
      "cast(size(filter(split(text, ' '), w -> w IN ('the', 'a', 'of', 'is', 'and'))) AS BIGINT)")
    val duck = q(
      "len(string_split(text, ' '))::BIGINT",
      "len(list_filter(string_split(text, ' '), w -> w IN ('the', 'a', 'of', 'is', 'and')))::BIGINT")
    e("q50_lang_id_heuristic", duck) { (s, _) => s.sql(spark_) }
  }

  /** Quality scoring: length / punctuation / stopword / repetition signals
    * composed into a score and a keep/review/drop tier — the standard
    * corpus-filtering gate, all map-side expressions. */
  private val qualityScore = {
    def q(nTok: String, nUniq: String, nPunct: String, nStop: String): String = {
      val score = s"""(cast(least(n_chars, 400) AS DOUBLE) / 8
                     | + 30 * (n_uniq / cast(n_tok AS DOUBLE))
                     | + 20 * (n_stop / cast(n_tok AS DOUBLE))
                     | - 50 * (n_punct / cast(n_chars AS DOUBLE)))""".stripMargin
      s"""WITH f AS (
         |  SELECT doc_id,
         |    length(text) AS n_chars,
         |    $nTok AS n_tok,
         |    $nUniq AS n_uniq,
         |    $nPunct AS n_punct,
         |    $nStop AS n_stop
         |  FROM documents)
         |SELECT doc_id, cast(n_chars AS BIGINT) AS n_chars, n_tok,
         |  round(n_uniq / cast(n_tok AS DOUBLE), 6) AS ttr,
         |  round(n_punct / cast(n_chars AS DOUBLE), 6) AS punct_ratio,
         |  round(n_stop / cast(n_tok AS DOUBLE), 6) AS stop_ratio,
         |  round($score, 4) AS quality,
         |  CASE WHEN $score >= 60 THEN 'keep'
         |       WHEN $score >= 40 THEN 'review'
         |       ELSE 'drop' END AS tier
         |FROM f ORDER BY doc_id""".stripMargin
    }
    val spark_ = q(
      "cast(size(split(text, ' ')) AS BIGINT)",
      "cast(size(array_distinct(split(text, ' '))) AS BIGINT)",
      "cast(length(text) - length(regexp_replace(text, '[^a-z ]', '')) AS BIGINT)",
      "cast(size(filter(split(text, ' '), w -> w IN ('the', 'a', 'of', 'is', 'and'))) AS BIGINT)")
    val duck = q(
      "len(string_split(text, ' '))::BIGINT",
      "len(list_distinct(string_split(text, ' ')))::BIGINT",
      "(length(text) - length(regexp_replace(text, '[^a-z ]', '', 'g')))::BIGINT",
      "len(list_filter(string_split(text, ' '), w -> w IN ('the', 'a', 'of', 'is', 'and')))::BIGINT")
    e("q51_quality_score", duck) { (s, _) => s.sql(spark_) }
  }

  /** Token counting: whitespace tokens vs a BPE-ish regex lexer
    * (letter-runs | digit-runs | single non-alnum) — the token-budget
    * estimator every corpus job runs first. */
  private val tokenCount = {
    val pat = "[a-z]+|[0-9]+|[^a-z0-9 ]"
    def q(nWs: String, nBpe: String): String =
      s"""SELECT doc_id,
         |  $nWs AS n_ws,
         |  $nBpe AS n_bpe,
         |  round(length(text) / cast($nBpe AS DOUBLE), 6) AS chars_per_tok
         |FROM documents ORDER BY doc_id""".stripMargin
    // Spark side avoids both the token-array materialization AND the
    // regex engine: at ×1000 (5M docs) `size(regexp_extract_all(...))`
    // took 116 s and `regexp_count` still 113 s — the alternation costs
    // ~0.7 ms/KB in java.util.regex itself. The codegen'd one-pass
    // [[TokenLexCount]] lexer computes the identical count (regex-
    // equivalence argued at `Fingerprints.tokenLexCount`, property-
    // checked in ExpressionsSpec), and whitespace tokens ≡ spaces + 1
    // exactly (split-with-limit=-1 keeps trailing empties on both
    // engines). The oracle keeps the materializing regex form — it only
    // has to be correct.
    val spark_ = q(
      "cast(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT)",
      "cast(token_lex_count(text) AS BIGINT)")
    val duck = q(
      "len(string_split(text, ' '))::BIGINT",
      s"len(regexp_extract_all(text, '$pat'))::BIGINT")
    e("q52_token_count", duck) { (s, _) => s.sql(spark_) }
  }

  /** Document fingerprinting: 31-ary rolling hash over characters (exact
    * fold-order parity) + min-4-gram-hash sketch (winnowing's core).
    * Spark side runs the codegen'd [[Fingerprints]] kernels (`poly_hash`,
    * `min_gram_hash`) — same values as the SQL-HOF fold the oracle runs,
    * ~10× faster (the HOF path did an interpreted md5+conv per character
    * position and dominated the honest bench). */
  private val fingerprint = {
    val spark_ =
      s"""SELECT doc_id,
         |  poly_hash(text) AS fp_poly,
         |  min_gram_hash(text) AS fp_min4,
         |  ${h32Spark("text")} AS fp_h32
         |FROM documents WHERE length(text) >= 4 ORDER BY doc_id""".stripMargin
    val duck =
      s"""SELECT doc_id,
         |  list_reduce(list_prepend(0::BIGINT,
         |      list_transform(range(1, length(text)+1), i -> ascii(substr(text, i, 1))::BIGINT)),
         |    (acc, c) -> (acc * 31 + c) % 2147483647) AS fp_poly,
         |  list_min(list_transform(range(1, length(text) - 2),
         |    i -> ${h32Duck("substr(text, i, 4)")})) AS fp_min4,
         |  ${h32Duck("text")} AS fp_h32
         |FROM documents WHERE length(text) >= 4 ORDER BY doc_id""".stripMargin
    e("q53_fingerprint", duck) { (s, _) => s.sql(spark_) }
  }

  // =========================================================================
  // Sessionization (events table): gap-based session assignment
  // =========================================================================

  /** Classic sessionization: per user, a new session starts when the gap
    * to the previous event exceeds 30 minutes; session index = running
    * count of session starts. Pure window arithmetic (lag + cumulative
    * sum) — one shuffle on user_id, scales as a single pass. Ties broken
    * by event_id so both engines see the same order. */
  private val sessionize = {
    def q(epochSec: String): String =
      s"""WITH g AS (
         |  SELECT user_id, event_id, ts,
         |    CASE WHEN $epochSec - lag($epochSec) OVER w > 1800 OR lag($epochSec) OVER w IS NULL
         |         THEN 1 ELSE 0 END AS is_start
         |  FROM events
         |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         |s AS (
         |  SELECT user_id, event_id, ts,
         |    SUM(is_start) OVER (PARTITION BY user_id ORDER BY ts, event_id
         |                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
         |  FROM g)
         |SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
         |  COUNT(*) AS n_events,
         |  CAST(min($epochSec) AS BIGINT) AS start_sec,
         |  CAST(max($epochSec) AS BIGINT) AS end_sec
         |FROM s GROUP BY user_id, session_idx
         |ORDER BY user_id, session_idx""".stripMargin
    val spark_ = q("unix_timestamp(ts)")
    // floor, not cast: DuckDB epoch() keeps fractional seconds and BIGINT
    // cast rounds; Spark unix_timestamp floors — both sides must floor
    val duck = q("floor(epoch(ts))::BIGINT")
    e("q65_sessionize", duck) { (s, _) => s.sql(spark_) }
  }

  // =========================================================================
  // Dedup clustering: connected components over near-dup pairs (Hash-Min)
  // =========================================================================

  /** The step after pair generation in every dedup pipeline: group the
    * near-dup PAIRS into clusters and pick one representative per cluster.
    * Spark side is iterative Hash-Min label propagation (each node's label
    * = min doc_id reachable so far; join + groupBy per round, converges in
    * O(diameter) rounds — the standard large-scale connected-components
    * algorithm, a deterministic DataFrame loop with no driver-side data).
    * Edges are the exact-Jaccard-verified n-gram pairs from q46. The
    * DuckDB oracle computes the same components via recursive-CTE
    * transitive closure (fine at oracle scale; the iterative form is the
    * one that scales).
    *
    * COLLAPSE-FIRST (the q46/q47 remedy applied to the graph step): the
    * id-level edge set is quadratic in duplicate multiplicity (every
    * same-content clique alone is C(n,2) edges — materializing it at
    * ×1000 filled the disk), but identical contents are by construction
    * in one component, so Hash-Min runs over the DISTINCT-CONTENT graph:
    * nodes = content representatives, edges = qualifying content pairs
    * plus a self-loop per multi-member group (membership alone puts a
    * group's ids in the node set even with no cross-content edge). The
    * per-id answer is recovered afterwards by exploding each group's
    * member list once — linear in the OUTPUT, never in the pair count.
    * Equivalence to the id-level graph: same-group ids are a clique in
    * both; a cross-content edge connects all ids of both groups in both;
    * node sets match by the self-loop rule; labels (= min reachable
    * doc_id) agree because every group's rep is its min id. */
  private val dedupComponents = {
    val duck =
      s"""WITH RECURSIVE gd AS (
        |  $ngramGramsDuck),
        |edges AS (
        |  SELECT da, db FROM (${ngramPairsDuck("gd")}) pairs),
        |bidir AS (
        |  SELECT da AS a, db AS b FROM edges UNION SELECT db, da FROM edges),
        |nodes AS (SELECT DISTINCT a AS node FROM bidir),
        |reach(node, r) AS (
        |  SELECT node, node FROM nodes
        |  UNION
        |  SELECT reach.node, bidir.b FROM reach JOIN bidir ON reach.r = bidir.a),
        |cc AS (SELECT node, min(r) AS component FROM reach GROUP BY node)
        |SELECT component, COUNT(*) AS cluster_size,
        |  min(node) AS representative, max(node) AS max_member
        |FROM cc GROUP BY component
        |ORDER BY component""".stripMargin
    e("q66_dedup_components", duck) { (s, _) =>
      // the groups view is referenced 4× by the pair join and px twice —
      // both materialized once, exactly as in q46; the edge set is q46's
      // content pairs via the same builders
      s.sql(ngramGroupsSpark).graftCkptView("q66_g")
      s.sql(ngramPxSql("q66_g")).graftCkptView("q66_px")
      contentComponents(s,
        s"(${ngramContentPairsSql("q66_px", "q66_g", broadcastVerify(s))})", "q66_g")
    }
  }

  /** q66's components tail over a verified content-pairs relation `cpRel`
    * (a view name or a parenthesized query) and its groups view — shared by
    * the q66 entry and [[PassRun]]'s n-gram finish. Edges are the
    * content pairs plus a self-loop per multi-member group (membership
    * alone puts a group's ids in the node set); after Hash-Min, each
    * group's member list is exploded once and aggregated per component —
    * the only id-level pass, linear in the output. */
  private[graft] def contentComponents(s: SparkSession, cpRel: String,
      groupsView: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, explode, lit, min => smin, max => smax, count => scount}
    val edges = s.sql(
      s"""SELECT ra AS ca, rb AS cb FROM $cpRel cpairs
         |UNION ALL
         |SELECT rep AS ca, rep AS cb FROM $groupsView WHERE size(ids) >= 2""".stripMargin)
      .graftCkpt()
    val labels = connectedComponents(edges, "ca", "cb")
    labels.join(s.table(groupsView), labels("node") === col("rep"))
      .select(col("label"), explode(col("ids")).as("id"))
      .groupBy(col("label"))
      .agg(smin("id").as("component"), scount(lit(1)).as("cluster_size"),
        smin("id").as("representative"), smax("id").as("max_member"))
      .select("component", "cluster_size", "representative", "max_member")
      .orderBy("component")
  }

  /** Connected components over an undirected edge list via iterative
    * Hash-Min label propagation: labels start at the node id; each round
    * every node adopts the min label of its neighborhood (incl. self);
    * converges when no label changes (O(diameter) rounds). Returns
    * (node, label) with label = min node id of the component. Each round
    * is one join + one min-aggregate — the standard shuffle-parallel
    * connected-components shape. Per-round shuffle width is left to AQE
    * partition coalescing (on by default), which shrinks the tiny toy-size
    * exchanges per-STAGE without mutating session-global
    * spark.sql.shuffle.partitions — a conf flip here would silently
    * downsize any query planned concurrently on the shared session and
    * race if callers parallelize the suite. At 100 TB the same plans
    * shuffle at the cluster's configured width. */
  def connectedComponents(edges: DataFrame, src: String, dst: String,
      maxRounds: Int = 50): DataFrame = {
    import org.apache.spark.sql.functions.{col, least, max => smax, min => smin, when}
    // Iteration state must be eagerly materialized (each round's plan would
    // otherwise nest the previous round's). localCheckpoint pins blocks to
    // executor memory — fine single-JVM, lost on executor death; on a real
    // cluster set spark.sparkContext.setCheckpointDir and the reliable
    // (HDFS-backed) checkpoint is used automatically.
    def mat(df: DataFrame): DataFrame =
      if (df.sparkSession.sparkContext.getCheckpointDir.isDefined)
        df.graftCkpt(reliable = true) else df.graftCkpt()
    // Round-16 loop slimming (same fixpoint, fewer jobs per round):
    //  - bidir carries a SELF-LOOP per node, so one join + one aggregate
    //    per round computes min(old, neighborhood min) directly — the
    //    previous shape needed a second (left) join just to fold the old
    //    label back in. The self row (a = b = node) also smuggles the old
    //    label through the aggregate (max of the CASE picks the one self
    //    row), keeping convergence a cheap filter on the materialized
    //    result rather than another join.
    //  - labels are SEEDED with round 1's algebraic value: with identity
    //    labels, min over the neighborhood of node is just
    //    least(node, min(b)) — one aggregate over bidir, no join, saving a
    //    full propagation round. Convergence still requires a confirming
    //    round of zero changes, exactly as before.
    val bidirEdges = edges.select(col(src).as("a"), col(dst).as("b"))
      .union(edges.select(col(dst).as("a"), col(src).as("b")))
    val bidir = mat(bidirEdges
      .union(bidirEdges.select(col("a"), col("a").as("b")).distinct()))
    var labels = mat(bidir.groupBy(col("a").as("node"))
      .agg(smin("b").as("label")))  // = least(node, min nbr): self-loop makes min(b) include node
    var changed = 1L
    var rounds = 0
    while (changed > 0 && rounds < maxRounds) {
      val next = mat(bidir.join(labels, bidir("b") === labels("node"))
        .groupBy(bidir("a").as("node"))
        .agg(smin("label").as("label"),
          smax(when(bidir("b") === bidir("a"), col("label"))).as("old")))
      changed = next.filter(col("label") =!= col("old")).count()
      labels = next.select(col("node"), col("label"))
      rounds += 1
    }
    require(changed == 0,
      s"connectedComponents did not converge in $maxRounds rounds (graph diameter too large — raise maxRounds or use alternating small/large-star)")
    labels
  }

  // =========================================================================
  // Deterministic train/test split
  // =========================================================================

  /** Hash-based 90/10 split: membership is a pure function of doc_id (md5),
    * so the split is reproducible, order-independent, and stable under
    * re-partitioning — the property a training-data split must have.
    * Map-side only; no shuffle except the verification aggregate. */
  private val trainTestSplit = {
    def q(h: String): String =
      s"""WITH s AS (
         |  SELECT doc_id, lang,
         |    CASE WHEN $h % 10 < 9 THEN 'train' ELSE 'test' END AS split
         |  FROM documents)
         |SELECT split, lang, COUNT(*) AS n, min(doc_id) AS min_id, max(doc_id) AS max_id
         |FROM s GROUP BY split, lang
         |ORDER BY split, lang""".stripMargin
    val spark_ = q(h32Spark("cast(doc_id AS STRING)"))
    val duck = q(h32Duck("doc_id::VARCHAR"))
    e("q67_train_test_split", duck) { (s, _) => s.sql(spark_) }
  }

  // =========================================================================
  // Lexical retrieval: BM25 scoring (the counterpart to the ANN operators)
  // =========================================================================

  /** BM25 (k1=1.2, b=0.75) over whitespace tokens for a fixed query term
    * set — the lexical side of a hybrid retrieval stack. Shape at scale:
    * tokenize+explode is map-side; document frequency and term frequency
    * are two aggregations over the postings; N and avgdl are broadcast
    * scalars; ranking is on the ROUNDED score with doc_id tiebreak (ln()
    * may differ across engines in the last ulp — rounding absorbs it;
    * every other input is integer-exact). */
  private val terms = "'the', 'dup', 'data'"

  /** Spark side is COLLAPSE-FIRST (round 11): every per-doc quantity BM25
    * needs is a function of the doc's CONTENT (tf, dl), and every global is
    * a clone-count-weighted aggregate over distinct contents — n_docs =
    * Σcnt, avgdl = Σ(cnt·dl)/Σcnt, df(w) = Σcnt over contents containing w.
    * All three are exact BIGINT sums cast to double at the end, so they are
    * bit-identical to the per-doc formulation's doubles, and the score
    * expression then runs on identical inputs per (content ≡ doc).
    * Tokenize+explode+aggregate therefore run once per DISTINCT text (~5k
    * rows at every corpus scale) instead of once per doc (5M at ×1000 —
    * the per-doc postings checkpoint alone was tens of GB).
    *
    * Id recovery is a BOUNDED expansion, not a full one: downstream
    * consumers take a global top-K over (round(score, 6) DESC, doc_id ASC)
    * with K ≤ 50 (q73 LIMIT 20, q74's lex LIMIT 50), and clones share a
    * score, so only a group's 50 smallest ids can ever reach a top-50
    * window: a dropped id sorts after its group's 50 kept rows, so any row
    * it preceded would have ≥51 predecessors — outside the window. Hence
    * `slice(ids, 1, 50)` preserves both membership and ROW_NUMBER values
    * inside every top-≤50 consumer.
    *
    * Round 16 (guide §2.3/§2.4 — shuffle and materialize less): the
    * postings table is never materialized at all. Document length is a
    * PURE MAP from the groups view — `size(split(text, ' '))` counts
    * exactly the rows `explode(split(..))` used to emit per rep (split
    * emits empty-string tokens for runs of separators on both paths, so
    * the counts are identical by construction) — and tf explodes inline
    * with the `w IN (terms)` filter immediately above it, so only
    * query-term postings ever exist as rows. vs the round-11 shape this
    * drops the full-postings toks checkpoint (the single biggest
    * intermediate here, ~|tokens| rows where everything else is
    * ~|contents|) and turns dl from an exchange-bearing aggregate over it
    * into an exchange-free projection of the groups checkpoint. dl stays
    * a (cheap) checkpoint because consts and gsc both reference it and
    * Catalyst's CTE inlining would tokenize twice (measured: the inlined
    * form gave back the q73 win at sf0.1). Values are bit-identical:
    * same cnt, same integer dl, same tf, so every downstream double
    * matches. */
  private def bm25Body(grpView: String, dlView: String): String =
    s"""WITH consts AS (
       |  SELECT CAST(SUM(cnt) AS DOUBLE) AS n_docs,
       |    CAST(SUM(cnt * dl) AS DOUBLE) / SUM(cnt) AS avgdl
       |  FROM $dlView),
       |tf AS (
       |  SELECT rep, w, max(cnt) AS cnt, CAST(COUNT(*) AS DOUBLE) AS tf
       |  FROM (SELECT rep, cnt, explode(split(text, ' ')) AS w FROM $grpView) toks
       |  WHERE w IN ($terms) GROUP BY rep, w),
       |df AS (
       |  SELECT w, CAST(SUM(cnt) AS DOUBLE) AS df FROM tf GROUP BY w),
       |gsc AS (
       |  SELECT /*+ BROADCAST(df) */ tf.rep,
       |    SUM(ln((consts.n_docs - df.df + 0.5) / (df.df + 0.5) + 1)
       |        * tf.tf * 2.2
       |        / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / consts.avgdl))) AS score
       |  FROM tf
       |  JOIN df ON tf.w = df.w
       |  JOIN $dlView dl ON tf.rep = dl.rep
       |  CROSS JOIN consts
       |  GROUP BY tf.rep),
       |scored AS (
       |  SELECT id AS doc_id, score
       |  FROM gsc JOIN $grpView g ON g.rep = gsc.rep
       |  LATERAL VIEW explode(g.ids) t AS id)""".stripMargin

  private def prepBm25(s: SparkSession, prefix: String): Unit = {
    // cnt rides along with every derived row so df (Σcnt over contents
    // containing w) and avgdl (Σ(cnt·dl)/Σcnt) aggregate WITHOUT joining
    // back to the groups table; df has ≤ |query terms| rows by
    // construction, so its join is broadcast-safe at any corpus scale.
    // NON-NULL-TEXT ASSUMPTION (ADVICE r16): the round-16 dl rewrite
    // (size(split(text,' ')) instead of counting exploded tokens) is
    // bit-identical only while text is never NULL — a NULL text yields a
    // dl row with dl = NULL whose cnt still counts into n_docs and the
    // avgdl denominator, where the old exploded form dropped the document
    // entirely. The testdata contract (Engine.expectedSchemas + the
    // corpus generators) never emits NULL text; if that ever changes, add
    // WHERE text IS NOT NULL to the groups statement below and re-oracle.
    s.sql(
      s"""SELECT min(doc_id) AS rep, count(*) AS cnt,
         |  slice(sort_array(collect_list(doc_id)), 1, 50) AS ids, text
         |FROM documents GROUP BY text""".stripMargin)
      .graftCkptView(s"${prefix}_grp")
    s.sql(s"SELECT rep, cnt, size(split(text, ' ')) AS dl FROM ${prefix}_grp")
      .graftCkptView(s"${prefix}_dl")
  }

  private val bm25 = {
    def duckQ: String =
      s"""WITH toks AS (
         |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
         |dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id),
         |consts AS (
         |  SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
         |    CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
         |  FROM dl),
         |df AS (
         |  SELECT w, CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS df
         |  FROM toks WHERE w IN ($terms) GROUP BY w),
         |tf AS (
         |  SELECT doc_id, w, CAST(COUNT(*) AS DOUBLE) AS tf
         |  FROM toks WHERE w IN ($terms) GROUP BY doc_id, w),
         |scored AS (
         |  SELECT tf.doc_id,
         |    SUM(ln((consts.n_docs - df.df + 0.5) / (df.df + 0.5) + 1)
         |        * tf.tf * 2.2
         |        / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / consts.avgdl))) AS score
         |  FROM tf
         |  JOIN df ON tf.w = df.w
         |  JOIN dl ON tf.doc_id = dl.doc_id
         |  CROSS JOIN consts
         |  GROUP BY tf.doc_id)
         |SELECT doc_id, round(score, 6) AS bm25
         |FROM scored ORDER BY round(score, 6) DESC, doc_id LIMIT 20""".stripMargin
    e("q73_bm25", duckQ) { (s, _) =>
      prepBm25(s, "q73")
      s.sql(
        s"""${bm25Body("q73_grp", "q73_dl")}
           |SELECT doc_id, round(score, 6) AS bm25
           |FROM scored ORDER BY round(score, 6) DESC, doc_id LIMIT 20""".stripMargin)
    }
  }

  // =========================================================================
  // Hybrid retrieval: reciprocal-rank fusion of BM25 + embedding cosine
  // =========================================================================

  /** RRF (k=60) fusing the lexical BM25 ranking with the embedding-cosine
    * ranking against query vector 0 — the standard hybrid-retrieval
    * pattern. Documents link to embeddings by `vec_id = doc_id` (the first
    * 2000 docs carry vectors in this corpus). Both input rankings are
    * integer ranks over ROUNDED scores with id tiebreaks, so the fused
    * score sums identical doubles on both engines. Full outer join keeps
    * docs found by only one retriever. */
  private val hybridRrf = {
    def vecAndFuse(dot: (String, String) => String): String =
      s"""lex AS (
         |  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS r_lex
         |  FROM (SELECT doc_id, round(score, 6) AS bm25 FROM scored) s
         |  ORDER BY r_lex LIMIT 50),
         |e AS (SELECT vec_id, embedding, sqrt(${dot("embedding", "embedding")}) AS nrm
         |  FROM embeddings),
         |qv AS (SELECT embedding AS v, nrm AS qn FROM e WHERE vec_id = 0),
         |vec AS (
         |  SELECT vec_id AS doc_id,
         |    ROW_NUMBER() OVER (ORDER BY cos DESC, vec_id) AS r_vec
         |  FROM (
         |    SELECT e.vec_id, round(${dot("qv.v", "e.embedding")} / (qv.qn * e.nrm), 6) AS cos
         |    FROM e CROSS JOIN qv WHERE e.vec_id != 0) s
         |  ORDER BY r_vec LIMIT 50)
         |SELECT doc_id,
         |  round(coalesce(CAST(1.0 AS DOUBLE) / (60 + r_lex), 0)
         |      + coalesce(CAST(1.0 AS DOUBLE) / (60 + r_vec), 0), 6) AS rrf
         |FROM lex FULL OUTER JOIN vec USING (doc_id)
         |ORDER BY rrf DESC, doc_id LIMIT 20""".stripMargin
    val duck =
      s"""WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
         |dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id),
         |consts AS (
         |  SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
         |    CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM dl),
         |df AS (SELECT w, CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS df
         |  FROM toks WHERE w IN ($terms) GROUP BY w),
         |tf AS (SELECT doc_id, w, CAST(COUNT(*) AS DOUBLE) AS tf
         |  FROM toks WHERE w IN ($terms) GROUP BY doc_id, w),
         |scored AS (
         |  SELECT tf.doc_id,
         |    SUM(ln((consts.n_docs - df.df + 0.5) / (df.df + 0.5) + 1)
         |        * tf.tf * 2.2
         |        / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / consts.avgdl))) AS score
         |  FROM tf JOIN df ON tf.w = df.w JOIN dl ON tf.doc_id = dl.doc_id
         |  CROSS JOIN consts GROUP BY tf.doc_id),
         |${vecAndFuse(dotDuck)}""".stripMargin
    e("q74_hybrid_rrf", duck) { (s, _) =>
      prepBm25(s, "q74")
      s.sql(
        s"""${bm25Body("q74_grp", "q74_dl")},
           |${vecAndFuse(dotSpark)}""".stripMargin)
    }
  }

  // =========================================================================
  // Deterministic stratified sampling
  // =========================================================================

  /** Per-stratum sampling at different rates (downsample the dominant
    * language, keep the rest) — the corpus-balancing step after quality
    * filtering. Membership is a pure hash of doc_id against a per-stratum
    * threshold: deterministic, order- and partitioning-independent, and
    * exactly reproducible across engines — the property `sample()`/rand()
    * cannot give. Map-side only. */
  private val stratifiedSample = {
    def q(h: String): String =
      s"""WITH s AS (
         |  SELECT doc_id, lang, $h % 100 AS bucket,
         |    CASE WHEN lang = 'en' THEN 40 ELSE 90 END AS keep_below
         |  FROM documents)
         |SELECT lang, COUNT(*) AS n_total,
         |  COUNT(CASE WHEN bucket < keep_below THEN 1 END) AS n_sampled,
         |  min(CASE WHEN bucket < keep_below THEN doc_id END) AS first_kept
         |FROM s GROUP BY lang ORDER BY lang""".stripMargin
    val spark_ = q(h32Spark("cast(doc_id AS STRING)"))
    val duck = q(h32Duck("doc_id::VARCHAR"))
    e("q77_stratified_sample", duck) { (s, _) => s.sql(spark_) }
  }

  // =========================================================================
  // PII scrubbing / repetition filtering / contamination detection
  // =========================================================================

  /** PII scrubbing — the redaction pass every training-data pipeline runs
    * before anything else. The synthetic corpus carries no PII, so a
    * deterministic contact suffix (email + URL + phone derived from
    * doc_id) is appended first and then scrubbed; the oracle proves both
    * the detection counts and the scrubbed output byte-identically.
    * Map-side only: regexes are fine at 100 TB — the cost model is one
    * pass over the bytes, no shuffle (the final ORDER BY is the contract
    * determinism, not part of the operator). */
  private val piiScrub = {
    // [.] instead of \. : Spark SQL's literal unescaping would strip the
    // backslash and leave a match-anything dot (which ate ' or' after the
    // email); the char class is escape-proof and identical in Java + RE2
    val email = "[a-z0-9._%+-]+@[a-z0-9.-]+[.][a-z]{2,}"
    val url = "https?://[^ ]+"
    val phone = "[0-9]{3}-[0-9]{3}-[0-9]{4}"
    def q(nOcc: String => String, cat: String): String =
      s"""WITH raw AS (
         |  SELECT doc_id,
         |    $cat AS text
         |  FROM documents WHERE doc_id < 200)
         |SELECT doc_id,
         |  ${nOcc(email)} AS n_email, ${nOcc(url)} AS n_url, ${nOcc(phone)} AS n_phone,
         |  md5(regexp_replace(regexp_replace(regexp_replace(text,
         |      '$email', '<EMAIL>'), '$url', '<URL>'), '$phone', '<PHONE>')) AS scrubbed_md5,
         |  CAST(length(regexp_replace(regexp_replace(regexp_replace(text,
         |      '$email', '<EMAIL>'), '$url', '<URL>'), '$phone', '<PHONE>')) AS BIGINT) AS scrubbed_len
         |FROM raw ORDER BY doc_id""".stripMargin
    val spark_ = q(
      p => s"cast(size(regexp_extract_all(text, '$p', 0)) AS BIGINT)",
      "concat(text, ' reach user', doc_id, '@mail.example or https://ex.com/d/', doc_id, ' tel 555-', lpad(cast(doc_id % 1000 AS STRING), 3, '0'), '-0199')")
    val duck = q(
      p => s"len(regexp_extract_all(text, '$p'))::BIGINT",
      "concat(text, ' reach user', doc_id, '@mail.example or https://ex.com/d/', doc_id, ' tel 555-', lpad((doc_id % 1000)::VARCHAR, 3, '0'), '-0199')")
    e("q81_pii_scrub", duck) { (s, _) => s.sql(spark_) }
  }

  /** Repetition / boilerplate quality filter (the Gopher-style repetition
    * rules): per-document top-word-frequency ratio and distinct-word
    * ratio, with the filter verdict computed on ROUNDED ratios so the
    * flag can never flip on a last-ulp divergence. Shape at scale:
    * explode → (doc, word) counts → per-doc stats is two hash
    * aggregations with map-side partial combine — no self-join, no
    * whole-doc state beyond the running counters. */
  private val repetitionFilter = {
    def q(split: String): String =
      s"""WITH w AS (
         |  SELECT doc_id, wd, COUNT(*) AS c
         |  FROM (SELECT doc_id, $split AS wd FROM documents) t
         |  GROUP BY doc_id, wd),
         |s AS (
         |  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tok,
         |    CAST(COUNT(*) AS BIGINT) AS n_uniq, CAST(MAX(c) AS BIGINT) AS max_c
         |  FROM w GROUP BY doc_id)
         |SELECT doc_id, n_tok, n_uniq,
         |  round(max_c / CAST(n_tok AS DOUBLE), 6) AS top_ratio,
         |  round(n_uniq / CAST(n_tok AS DOUBLE), 6) AS uniq_ratio,
         |  (round(max_c / CAST(n_tok AS DOUBLE), 6) > 0.2
         |    OR round(n_uniq / CAST(n_tok AS DOUBLE), 6) < 0.2) AS flagged
         |FROM s ORDER BY doc_id""".stripMargin
    val spark_ = q("explode(split(text, ' '))")
    val duck = q("unnest(string_split(text, ' '))")
    e("q82_repetition_filter", duck) { (s, _) => s.sql(spark_) }
  }

  /** Domain-mixture budget allocation — the sampling-weights step of a
    * pretraining data pipeline: per-source token counts → a target
    * mixture (uniform here) with an epoch cap (no source sampled beyond
    * 2× its natural token mass). Two aggregations + broadcast scalars;
    * entirely map-side after the per-source rollup, deterministic.
    * FLOOR before the BIGINT cast is load-bearing: DuckDB casts
    * double→BIGINT by ROUNDING while Spark truncates, so a bare
    * CAST(total/n_src AS BIGINT) diverges whenever the fraction ≥ .5. */
  private val domainMixture = {
    def q(ntok: String): String =
      s"""WITH tok AS (
         |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |    CAST(SUM($ntok) AS BIGINT) AS n_tok
         |  FROM documents GROUP BY source),
         |tot AS (SELECT CAST(SUM(n_tok) AS BIGINT) AS total,
         |               CAST(COUNT(*) AS BIGINT) AS n_src FROM tok)
         |SELECT source, n_docs, n_tok,
         |  round(n_tok / CAST(total AS DOUBLE), 6) AS natural_frac,
         |  CAST(least(CAST(FLOOR(total / CAST(n_src AS DOUBLE)) AS BIGINT), 2 * n_tok) AS BIGINT) AS budget_tok
         |FROM tok CROSS JOIN tot ORDER BY source""".stripMargin
    val spark_ = q("size(split(text, ' '))")
    val duck = q("len(string_split(text, ' '))")
    e("q83_domain_mixture", duck) { (s, _) => s.sql(spark_) }
  }

  /** Benchmark-contamination detection: which training docs contain any
    * word-4-gram of a held-out "benchmark" set (docs with doc_id % 97 = 0
    * stand in for the benchmark). The join is an inverted-index postings
    * join on the gram hash — the only scalable shape: benchmark grams are
    * tiny (broadcastable at real scale), training grams stream through the
    * hash join, and nothing is ever quadratic. Gram hash is the shared
    * md5-derived h32 so both engines agree bit-for-bit.
    *
    * The Spark side is COLLAPSE-FIRST (round 11): a doc's DISTINCT gram
    * set is a function of its content, and the id%97 split only decides
    * which of a content's member ids sit in bench vs train — so grams are
    * computed once per distinct text, bench = the gram union over contents
    * with ≥1 bench member, shared(content) = |grams ∩ bench| (identical
    * for every train clone of that content), and the id level is a LINEAR
    * expansion of each qualifying content's train members carrying the
    * shared count. Equivalence: the naive per-doc form dedupes grams per
    * doc (DISTINCT doc_id, g), which equals the content's distinct gram
    * set; inner join keeps only docs with ≥1 shared gram — matched by
    * emitting only contents with shared > 0 and non-empty train_ids. The
    * per-doc form's DISTINCT over ~500M (doc, gram) pairs at ×1000 was
    * the suite's heaviest map-reduce (102 s); collapsed, gram work is ~5k
    * contents and the expansion is output-bounded. */
  private val contamination = {
    def gramsDuck(src: String): String =
      s"""SELECT doc_id, unnest(list_transform(range(1, len(ws) - 2),
         |    i -> ${h32Duck("array_to_string(ws[i:i+3], ' ')")})) AS g
         |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM $src) t
         |  WHERE len(ws) >= 4""".stripMargin
    val duck =
      s"""WITH bench AS (
         |  SELECT DISTINCT g FROM (
         |  ${gramsDuck("(SELECT doc_id, text FROM documents WHERE doc_id % 97 = 0) b")}) bg),
         |train AS (
         |  SELECT DISTINCT doc_id, g FROM (
         |  ${gramsDuck("(SELECT doc_id, text FROM documents WHERE doc_id % 97 != 0) tr")}) tg)
         |SELECT train.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared_grams
         |FROM train JOIN bench ON train.g = bench.g
         |GROUP BY train.doc_id
         |ORDER BY doc_id""".stripMargin
    val grpSpark =
      s"""SELECT rep, train_ids, in_bench,
         |  array_distinct(transform(sequence(1, size(ws) - 3),
         |    i -> ${h32Spark("array_join(slice(ws, i, 4), ' ')")})) AS gs
         |FROM (
         |  SELECT min(doc_id) AS rep,
         |    filter(sort_array(collect_list(doc_id)), id -> id % 97 != 0) AS train_ids,
         |    exists(collect_list(doc_id), id -> id % 97 = 0) AS in_bench,
         |    split(text, ' ') AS ws
         |  FROM documents
         |  WHERE size(split(text, ' ')) >= 4
         |  GROUP BY text) g0""".stripMargin
    val expandSpark =
      s"""WITH bench AS (
         |  SELECT DISTINCT g FROM (
         |    SELECT explode(gs) AS g FROM q84_g WHERE in_bench) b),
         |shared AS (
         |  SELECT t.rep, CAST(COUNT(*) AS BIGINT) AS n_shared_grams
         |  FROM (SELECT rep, explode(gs) AS g FROM q84_g
         |        WHERE size(train_ids) > 0) t
         |  JOIN bench ON t.g = bench.g
         |  GROUP BY t.rep)
         |SELECT id AS doc_id, n_shared_grams
         |FROM shared JOIN q84_g g ON g.rep = shared.rep
         |LATERAL VIEW explode(g.train_ids) x AS id
         |ORDER BY doc_id""".stripMargin
    e("q84_contamination", duck) { (s, _) =>
      s.sql(grpSpark).graftCkptView("q84_g")
      s.sql(expandSpark)
    }
  }

  val all: Seq[Entry] = Seq(
    dedupExact, dedupMinhash, dedupSimhash, dedupNgram,
    dedupEmbedding, annBrute, annIvf, annIvfNprobe2, embeddingSq8,
    langId, qualityScore, tokenCount, fingerprint,
    sessionize, dedupComponents, trainTestSplit, bm25, hybridRrf,
    stratifiedSample, piiScrub, repetitionFilter, domainMixture, contamination)
}
