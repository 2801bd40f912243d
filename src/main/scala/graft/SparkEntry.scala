package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  * The real inventory lives in [[Queries]]; this object only adapts it.
  *
  * Contract-query → SURVEY §2 row index (reverse map in COVERAGE.md):
  *
  * - §2.1 greatest family: q30 (Spark `greatest`), q31 (`greatest_ref`
  *   coercion matrix), q32 (wide arg list).
  * - §2.2 sources/sinks: q56 CSV roundtrip, q57 NDJSON roundtrip, q58
  *   hive-partitioned write + pruning, q78 Avro roundtrip (native DSv2),
  *   q92 Arrow IPC roundtrip (native DSv2, record-batch splits),
  *   q27 VALUES, q61 scalar/empty relations, q63 DDL+DML, q64 range TVF,
  *   q88 streaming file tail run to completion (batch equivalence),
  *   q90 information schema.
  * - §2.3 relational core: q4 sort+limit+offset (projection/filter are
  *   exercised by every query; q3/q4 are the dedicated shapes),
  *   q3 top-k, q7 distinct, q8 union, q9 intersect, q10 except,
  *   q61 INTERSECT/EXCEPT ALL, q29 unnest, q28 recursive CTE, q26 CTE,
  *   q23 CASE, q24/q25 subqueries, q87 repartition/coalesce integrity.
  * - §2.4 joins: q5 multiway, q11 cross/theta, q12 semi/anti, q13 left,
  *   q14 full outer, q48 nested-loop, q89 forced sort-merge (plan
  *   asserted), q91 bucketed co-located SMJ (no-Exchange asserted),
  *   q93 as-of join (union+window rewrite vs native DuckDB ASOF oracle),
  *   q96 binned range join (interval containment as bin-replication
  *   equi-join, plan-asserted no-NLJ).
  * - §2.5 aggregation: q1 hash agg, q6 no-grouping, q17 rollup, q18 cube,
  *   q19 grouping sets, q20 distinct aggs, q21 stats/regr, q22 median/
  *   percentile, q42 collect/bit/bool, q60 approx sketches (bounds
  *   contract), q62 weighted-percentile UDAF, q80 its windowed scale path.
  * - §2.6 windows: q15 ranking, q16 ROWS/RANGE frames, q76 IGNORE NULLS,
  *   q79 GROUPS-frame emulation.
  * - §2.7 functions: q33/q68 string, q34 regex, q35/q69/q71/q86 datetime,
  *   q36 math (custom gcd/lcm), q37 crypto/encoding, q38 conditional,
  *   q39/q70/q86 array/map, q59 struct/map, q75 cast matrix.
  * - §2.8 extension surface: q31/q36/q47/q53 custom codegen expressions,
  *   q62 Aggregator UDAF, q64/q78 TVF + TableProvider, q45 optimizer rule
  *   (HammingJoinRewrite).
  * - §2.9 streaming: q88 (file tail + windowed agg), q94 (native
  *   session_window operator, batch semantics), q95 (stream-stream inner
  *   join run to completion; the watermark-dependent remainder is
  *   batch-unseamable — see COVERAGE.md).
  * - LLM-pipeline operators (builder brief): q40-q55, q65-q67, q72-q74,
  *   q77, q81-q85 (dedup family, ANN, text analytics, multimodal,
  *   retrieval, sampling, PII, contamination, mixture, SQ8), q97-q106
  *   (context chunking, sequence packing ×2, k-means, passage dedup,
  *   LSH-bucketed ANN, sub-sharded packing, IVF nprobe=2, multiprobe
  *   LSH, LSH recall audit).
  * - TPC-H adaptations: tq2-tq22 (all 22 shapes).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_agg")(spark, "/root/testdata/sf0.001")

  /** The full contract corpus: relational surface + pipeline operators. */
  def allEntries: Seq[Queries.Entry] =
    Queries.all ++ Pipeline.all ++ Multimodal.all ++ Sources.all ++ Extras.all ++
      Tpch.all ++ Corpus.all

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    allEntries.map { en =>
      en.name -> { (s: SparkSession, dir: String) =>
        Engine.reclaim(s) // free the PREVIOUS entry's checkpoints/sinks
        Engine.prepare(s, dir)
        en.q(s, dir)
      }
    }.toMap

  /** The entries the harness mains run, in name order: every entry when
    * `names` is empty, else exactly the named ones. An unknown name fails
    * here, before any entry runs. */
  def select(names: Seq[String]): Seq[(String, (SparkSession, String) => DataFrame)] = {
    val all = queries
    val unknown = names.filterNot(all.contains)
    require(unknown.isEmpty, s"unknown contract entries: ${unknown.mkString(", ")}")
    (if (names.isEmpty) all.keys else names.distinct).toSeq.sorted.map(n => n -> all(n))
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops →
    * driver records a weaker rows-only check. */
  def oracleSql: Map[String, String] =
    allEntries.collect { case Queries.Entry(n, Some(sql), _) => n -> sql }.toMap
}
