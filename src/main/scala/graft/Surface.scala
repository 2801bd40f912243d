package graft

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

/** Exact weighted percentile as a typed [[Aggregator]] — the SURVEY §2.8
  * `AggregateUDFImpl` surface (reference `datafusion/expr/src/udaf.rs:376`)
  * and the §2.5 `approx_percentile_cont_with_weight` capability, exact
  * variant (reference `datafusion/functions-aggregate/src/
  * approx_percentile_cont_with_weight.rs`).
  *
  * Definition (matches the DuckDB oracle's window formulation): sort pairs
  * by value, accumulate weights, return the first value whose cumulative
  * weight reaches q × total. Ties in the value are safe: wherever the
  * threshold lands inside a run of equal values, the returned value is the
  * same. With integer-valued weights every sum is an exact double, so the
  * comparison can't wobble across engines.
  *
  * Scale note: the buffer is COLLAPSE-FIRST — a (value → weight-sum) map,
  * bounded by the group's DISTINCT values rather than its row count (the
  * q80 remedy applied inside the Aggregator: the original `List[VW]`
  * multiset buffer was 200M pairs per l_returnflag group at ×1000 and
  * thrashed a 96 GB heap). Exactness is the tie-group argument from the
  * q80 scaladoc: in the sorted row-level accumulation all rows of a value
  * are adjacent, so pre-summing them only re-associates additions inside
  * one run — the crossing VALUE is unchanged wherever the threshold lands
  * in the run, and integer-valued contract weights make the double sums
  * exact below 2^53 anyway. On a corpus whose values never repeat the map
  * degenerates to the multiset — the previous behavior, never worse. At
  * 100 TB with continuous values you'd switch to the t-digest sketch
  * (`approx_percentile`); this Aggregator is the exact-parity contract
  * surface.
  */
final case class VW(v: Double, w: Double)

class WeightedPercentile(q: Double)
    extends Aggregator[VW, scala.collection.mutable.HashMap[Long, Double], Double] {
  type Buf = scala.collection.mutable.HashMap[Long, Double]
  // Canonical-bits key (ADVICE r10): mutable.HashMap compares Double keys
  // with ==, under which NaN != NaN — every NaN row would insert a fresh
  // entry and the "bounded by distinct values" memory bound would fail on
  // NaN-heavy groups. doubleToLongBits canonicalizes every NaN to one bit
  // pattern; the `+ 0.0` folds -0.0 into 0.0 so signed zeros stay
  // collapsed exactly as numeric == collapsed them before. The sort in
  // finish() still places the (single) NaN entry in the terminal run.
  private def key(v: Double): Long = java.lang.Double.doubleToLongBits(v + 0.0)
  override def zero: Buf = scala.collection.mutable.HashMap.empty
  override def reduce(b: Buf, a: VW): Buf = {
    b.update(key(a.v), b.getOrElse(key(a.v), 0.0) + a.w); b
  }
  override def merge(b1: Buf, b2: Buf): Buf = {
    val (big, small) = if (b1.size >= b2.size) (b1, b2) else (b2, b1)
    small.foreach { case (v, w) => big.update(v, big.getOrElse(v, 0.0) + w) }
    big
  }
  override def finish(r: Buf): Double = {
    if (r.isEmpty) return Double.NaN
    val sorted = r.toArray
      .map { case (k, w) => (java.lang.Double.longBitsToDouble(k), w) }
      .sortBy(_._1)
    val total = sorted.iterator.map(_._2).sum
    val threshold = q * total
    var cum = 0.0
    var i = 0
    while (i < sorted.length) {
      cum += sorted(i)._2
      if (cum >= threshold) return sorted(i)._1
      i += 1
    }
    sorted.last._1
  }
  override def bufferEncoder: Encoder[Buf] = Encoders.kryo[Buf]
  override def outputEncoder: Encoder[Double] = Encoders.scalaDouble
}

/** Remaining SURVEY §2 surface rows: set-operation ALL variants (§2.3
  * `DataFrame::intersect_all/except_all`, reference
  * `datafusion/core/src/dataframe/mod.rs:1484,1519`), the `range`/
  * `generate_series` table function (§2.2 `TableFunctionImpl`, reference
  * `datafusion/core/src/datasource/function.rs:29`), DDL + DML
  * (§2.3 `LogicalPlan::{Ddl,Dml}`, reference
  * `datafusion/expr/src/logical_plan/plan.rs:249-282`), and the
  * weighted-percentile UDAF contract query.
  */
object Extras {
  import Queries.{Entry, e}

  /** INTERSECT ALL / EXCEPT ALL keep duplicate multiplicity — both engines
    * implement the SQL-standard bag semantics, counted here so the hash
    * compare pins the multiset cardinality, not just membership. */
  private val setOpsAll = {
    val body =
      """SELECT
        |  (SELECT COUNT(*) FROM
        |    (SELECT c_nationkey AS nk FROM customer INTERSECT ALL SELECT s_nationkey FROM supplier) i)
        |    AS n_intersect_all,
        |  (SELECT COUNT(*) FROM
        |    (SELECT c_nationkey AS nk FROM customer EXCEPT ALL SELECT s_nationkey FROM supplier) x)
        |    AS n_except_all""".stripMargin
    e("q61_setops_all", body) { (s, _) => s.sql(body) }
  }

  /** `range(start, stop, step)` table-valued function ≙ the reference's
    * `generate_series`/UDTF source. Derived column + aggregate to pin
    * values, not just cardinality. */
  private val rangeTvf = {
    val spark_ =
      """SELECT id, id * id AS sq, CAST(sum(id) OVER (ORDER BY id) AS BIGINT) AS running
        |FROM range(0, 50, 3) ORDER BY id""".stripMargin
    val duck =
      """SELECT id, id * id AS sq, CAST(sum(id) OVER (ORDER BY id) AS BIGINT) AS running
        |FROM range(0, 50, 3) t(id) ORDER BY id""".stripMargin
    e("q64_range_tvf", duck) { (s, _) => s.sql(spark_) }
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete(); ()
  }

  /** Start a streaming query with `n` state partitions instead of the
    * session's shuffle-partition count, restoring the conf afterwards. The
    * state-partition count is baked into a streaming checkpoint at first
    * start; the contract streams here carry a handful of keys, so 32
    * one-key state stores per stateful operator per micro-batch is pure
    * setup overhead (measured ~40% of q88/q95 wall time at sf0.1). At real
    * scale this knob SCALES UP the same way — size state partitions to the
    * key cardinality, independent of the batch shuffle width.
    *
    * The override is scoped through `s.cloneSession()` — the clone shares
    * the SparkContext, catalog snapshot, and function registry but owns
    * its conf, so the session-global shuffle-partition count is never
    * mutated and a batch query planned concurrently on `s` can't pick up
    * the small value (ADVICE r5; the r4 version mutated-and-restored).
    * `body` receives the clone and must build, start, AND read the stream
    * from it: the memory sink registers its result view in the session
    * that starts the stream. */
  /** State-partition count for the contract streams (q88/q95), the
    * round-5 measured choice. Size to key cardinality at scale, exactly as
    * the [[withStatePartitions]] scaladoc prescribes. */
  private val StatePartitions = 8

  private def withStatePartitions[A](
      s: org.apache.spark.sql.SparkSession, n: Int)(
      body: org.apache.spark.sql.SparkSession => A): A = {
    // newSession(): same SparkContext + shared state, fresh session state
    // and conf (cloneSession is private[sql] in Spark 4), wired like every
    // other graft session
    val c = Engine.wireSession(s.newSession())
    c.conf.set("spark.sql.shuffle.partitions", n.toString)
    body(c)
  }

  private def resetManagedTable(s: org.apache.spark.sql.SparkSession, name: String): Unit =
    Layout.resetManagedTable(s, name)

  /** CREATE TABLE / INSERT INTO … SELECT / INSERT INTO … VALUES / read
    * back — the §2.3 Ddl/Dml row. The table is a managed parquet table in
    * the session warehouse; the oracle derives the same rows from `nation`
    * plus the literal inserts. */
  private val ddlDml = {
    val duck =
      """WITH t AS (
        |  SELECT n_regionkey AS rk, n_name AS name FROM nation
        |  UNION ALL
        |  SELECT * FROM (VALUES (0, 'ATLANTIS'), (1, 'ELBONIA')) v(rk, name))
        |SELECT CAST(rk AS BIGINT) AS rk, COUNT(*) AS n, min(name) AS first_name
        |FROM t GROUP BY rk ORDER BY rk""".stripMargin
    e("q63_ddl_dml", duck) { (s, _) =>
      resetManagedTable(s, "graft_ddl_nation")
      s.sql("CREATE TABLE graft_ddl_nation (nk BIGINT, name STRING, rk BIGINT) USING PARQUET")
      s.sql("INSERT INTO graft_ddl_nation SELECT n_nationkey, n_name, n_regionkey FROM nation")
      s.sql("INSERT INTO graft_ddl_nation VALUES (97, 'ATLANTIS', 0), (98, 'ELBONIA', 1)")
      s.sql("""SELECT CAST(rk AS BIGINT) AS rk, COUNT(*) AS n, min(name) AS first_name
              |FROM graft_ddl_nation GROUP BY rk ORDER BY rk""".stripMargin)
    }
  }

  /** Weighted median of extended price, weighted by quantity, per return
    * flag — exercises the [[WeightedPercentile]] Aggregator from SQL. The
    * oracle computes the identical definition with a cumulative-weight
    * window. */
  private val weightedPct = {
    val spark_ =
      """SELECT l_returnflag AS rf, weighted_median(l_extendedprice, l_quantity) AS wmedian
        |FROM lineitem GROUP BY l_returnflag ORDER BY rf""".stripMargin
    val duck =
      """WITH w AS (
        |  SELECT l_returnflag AS rf, l_extendedprice AS v, l_quantity AS wt FROM lineitem),
        |c AS (
        |  SELECT rf, v,
        |    sum(wt) OVER (PARTITION BY rf ORDER BY v
        |                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
        |    sum(wt) OVER (PARTITION BY rf) AS tw
        |  FROM w)
        |SELECT rf, min(v) AS wmedian FROM c WHERE cw >= 0.5 * tw
        |GROUP BY rf ORDER BY rf""".stripMargin
    e("q62_weighted_percentile", duck) { (s, _) => s.sql(spark_) }
  }

  /** The SCALE path for exact weighted percentiles: the same definition as
    * q62's Aggregator, expressed as a cumulative-weight window + one
    * aggregate — fully distributed (one shuffle on the group key, no
    * whole-group buffer; the [[WeightedPercentile]] Aggregator is the
    * §2.8 UDAF contract surface and since round 10 collapses its buffer
    * per distinct value too — its original multiset buffer was 200M pairs
    * per group at ×1000 and thrashed a 96 GB heap, the measured BASELINE
    * §weighted-percentile finding).
    *
    * The Spark side runs COLLAPSE-FIRST: `GROUP BY (rf, v)` sums the
    * weight per distinct value (map-side combinable — 600M rows collapse
    * before the shuffle), and the cumulative window runs over the distinct
    * values only. Exact by the tie-group argument: in the row-level
    * formulation every row of a tie-group shares `v`, and "any row of the
    * group crosses 0.5·tw" ⟺ "the group's LAST row crosses" — which is
    * precisely the collapsed row's cumulative weight. Reordering the
    * float additions is exact here because the contract weight
    * (l_quantity) is integer-valued and every partial sum stays far below
    * 2^53 — double addition of integers is associative in that range. The
    * row-level window would otherwise funnel each PARTITION BY group
    * through ONE task (200M-row external sort per core at ×1000;
    * measured, BASELINE). The DuckDB oracle stays the row-level
    * definition — the two formulations agreeing IS the check. */
  private val weightedPctWindow = {
    val duck =
      """WITH w AS (
        |  SELECT l_returnflag AS rf, l_extendedprice AS v, l_quantity AS wt FROM lineitem),
        |c AS (
        |  SELECT rf, v,
        |    sum(wt) OVER (PARTITION BY rf ORDER BY v
        |                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
        |    sum(wt) OVER (PARTITION BY rf) AS tw
        |  FROM w)
        |SELECT rf, min(v) AS wmedian FROM c WHERE cw >= 0.5 * tw
        |GROUP BY rf ORDER BY rf""".stripMargin
    // Round 17 (guide §2.5 — the r16 "not yet optimized" #1): the single
    // per-rf cumulative window ran ONE task per l_returnflag (3 tasks for
    // the whole corpus at any scale). Two-level prefix sum: bucket v by a
    // fixed deterministic width (floor(v/1000) — monotone in v, so
    // bucket-exclusive-prior + intra-bucket running sum IS the global
    // running sum in v order), aggregate per-(rf, bucket) sums (tiny),
    // window the bucket offsets over that tiny table, and run the
    // heavy cumulative window PARTITION BY (rf, bucket) — ~330-way
    // parallel instead of 3 at every scale. EXACT, not approximate: wt
    // sums integer-valued l_quantity doubles, so every partial sum is an
    // exact integer < 2^53 and re-association cannot change cw or tw by
    // an ulp; R17SqlAb verified multiset-identical results and the q80
    // oracle row stays exact. Local cost: parity (alternating A/B mins
    // 1.84 vs 1.92 s at sf0.1).
    // The bucketed (rf, v, wt, bk) table is materialized ONCE (graftCkpt):
    // both the bucket-sum pass and the intra-bucket window reference it,
    // and Catalyst's CTE inlining would otherwise run the full lineitem
    // aggregate twice (measured: the inline two-level form lost 0.4-1.0 s
    // at sf0.1 to exactly that — the r16 px lesson in miniature). The
    // checkpoint is the collapse output, bounded by distinct (rf, v) at
    // any corpus.
    val bucketed =
      """SELECT rf, v, wt, cast(floor(v / 1000.0) AS BIGINT) AS bk FROM (
        |  SELECT l_returnflag AS rf, l_extendedprice AS v, sum(l_quantity) AS wt
        |  FROM lineitem GROUP BY l_returnflag, l_extendedprice) g""".stripMargin
    val spark_ =
      """WITH bs AS (
        |  SELECT rf, bk, sum(wt) AS bw FROM q80_b GROUP BY rf, bk),
        |off AS (
        |  SELECT rf, bk,
        |    coalesce(sum(bw) OVER (PARTITION BY rf ORDER BY bk
        |                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prior,
        |    sum(bw) OVER (PARTITION BY rf) AS tw
        |  FROM bs),
        |c AS (
        |  SELECT b.rf, b.v,
        |    off.prior + sum(b.wt) OVER (PARTITION BY b.rf, b.bk ORDER BY b.v
        |                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
        |    off.tw
        |  FROM q80_b b JOIN off ON b.rf = off.rf AND b.bk = off.bk)
        |SELECT rf, min(v) AS wmedian FROM c WHERE cw >= 0.5 * tw
        |GROUP BY rf ORDER BY rf""".stripMargin
    e("q80_weighted_pct_window", duck) { (s, _) =>
      Engine.ckptView(s.sql(bucketed), "q80_b")
      s.sql(spark_)
    }
  }

  /** Remaining §2.7 string/unicode names: bit_length, btrim, initcap,
    * octet_length, overlay, uuid (length only — nondeterministic value),
    * find_in_set, substr_index, char_length. DuckDB lacks initcap/btrim/
    * find_in_set/substr_index/overlay — oracle emulates each with
    * equivalent arithmetic. */
  private val stringFns2 = {
    val spark_ =
      """SELECT
        |  CAST(bit_length(p_type) AS BIGINT) AS bits,
        |  btrim(p_brand, 'B#') AS brand_trim,
        |  initcap(lower(p_brand)) AS brand_cap,
        |  CAST(octet_length(p_name) AS BIGINT) AS octets,
        |  overlay(p_type, 'XX', 2, 2) AS over2,
        |  CAST(length(uuid()) AS BIGINT) AS uuid_len,
        |  CAST(find_in_set('b', 'a,b,c') AS BIGINT) AS fis,
        |  substring_index(p_type, ' ', 2) AS si,
        |  CAST(char_length(p_name) AS BIGINT) AS clen
        |FROM part WHERE p_partkey <= 20 ORDER BY p_partkey""".stripMargin
    val duck =
      """SELECT
        |  bit_length(p_type)::BIGINT AS bits,
        |  trim(p_brand, 'B#') AS brand_trim,
        |  upper(substr(lower(p_brand), 1, 1)) || substr(lower(p_brand), 2) AS brand_cap,
        |  octet_length(p_name::BLOB)::BIGINT AS octets,
        |  substr(p_type, 1, 1) || 'XX' || substr(p_type, 4) AS over2,
        |  length(uuid()::VARCHAR)::BIGINT AS uuid_len,
        |  list_position(string_split('a,b,c', ','), 'b')::BIGINT AS fis,
        |  array_to_string(string_split(p_type, ' ')[1:2], ' ') AS si,
        |  length(p_name)::BIGINT AS clen
        |FROM part WHERE p_partkey <= 20 ORDER BY p_partkey""".stripMargin
    e("q68_string_fns2", duck) { (s, _) => s.sql(spark_) }
  }

  /** Remaining §2.7 math/datetime/regex/encoding/core names. The
    * nondeterministic ones (now, current_date, version) pin stable
    * projections: the year and non-emptiness. iszero/trunc follow the
    * reference's numeric semantics (= 0.0; truncate toward zero). */
  private val miscFns2 = {
    val spark_ =
      """SELECT
        |  round(cot(1.0), 10) AS cot1,
        |  log(2, 8.0) AS log2_8,
        |  nanvl(cast('NaN' AS DOUBLE), 1.5) AS nv,
        |  signum(-3.2) AS sg,
        |  CAST(cast(-2.7 AS DOUBLE) AS BIGINT) AS trunc_neg,
        |  (0.0 = 0.0) AS iszero_t,
        |  ('abc' RLIKE 'b.') AS rl,
        |  CAST(unbase64(base64('graft')) AS STRING) AS b64_rt,
        |  CAST(unhex(hex('graft')) AS STRING) AS hex_rt,
        |  lower(typeof(CAST(1 AS BIGINT))) AS ty_long,
        |  lower(typeof(CAST(1.5 AS DOUBLE))) AS ty_dbl,
        |  lower(typeof(DATE '2024-01-01')) AS ty_date,
        |  (length(version()) > 0) AS has_version,
        |  CAST(from_unixtime(0) AS STRING) AS epoch0,
        |  to_date('2024-03-05') AS d,
        |  CAST(extract(MONTH FROM TIMESTAMP '2024-03-05 10:00:00') AS BIGINT) AS mth,
        |  (year(current_date()) >= 2026) AS cd_ok,
        |  (year(now()) >= 2026) AS now_ok""".stripMargin
    val duck =
      """SELECT
        |  round(cot(1.0), 10) AS cot1,
        |  log(2, 8.0) AS log2_8,
        |  CASE WHEN isnan('NaN'::DOUBLE) THEN 1.5 ELSE 'NaN'::DOUBLE END AS nv,
        |  sign(-3.2)::DOUBLE AS sg,
        |  trunc(-2.7::DOUBLE)::BIGINT AS trunc_neg,
        |  (0.0 = 0.0) AS iszero_t,
        |  regexp_matches('abc', 'b.') AS rl,
        |  from_base64(to_base64('graft'::BLOB))::VARCHAR AS b64_rt,
        |  unhex(hex('graft'))::VARCHAR AS hex_rt,
        |  lower(typeof(CAST(1 AS BIGINT))) AS ty_long,
        |  lower(typeof(CAST(1.5 AS DOUBLE))) AS ty_dbl,
        |  lower(typeof(DATE '2024-01-01')) AS ty_date,
        |  (length(version()) > 0) AS has_version,
        |  strftime(to_timestamp(0), '%Y-%m-%d %H:%M:%S') AS epoch0,
        |  CAST('2024-03-05' AS DATE) AS d,
        |  extract(MONTH FROM TIMESTAMP '2024-03-05 10:00:00')::BIGINT AS mth,
        |  (year(current_date) >= 2026) AS cd_ok,
        |  (year(now()) >= 2026) AS now_ok""".stripMargin
    e("q69_misc_fns2", duck) { (s, _) => s.sql(spark_) }
  }

  /** Remaining §2.7 array/map names. Order-sensitive results are sorted
    * before compare where DuckDB's emulation (list_distinct) scrambles
    * order; map coverage compares keys/values lists (map parquet layouts
    * differ between engines). */
  private val arrayFns2 = {
    // list-typed outputs are serialized with array_join/array_to_string:
    // the driver's pandas row-sorter can't hash ndarray cells
    val spark_ =
      """SELECT vec_id,
        |  array_join(array('a', 'b', NULL), ',') AS aj,
        |  size(array_append(slice(embedding, 1, 2), cast(9 AS FLOAT))) AS ap_n,
        |  array_join(CAST(array_sort(array_except(array(1, 2, 2, 3), array(2))) AS ARRAY<STRING>), ',') AS exc,
        |  array_contains(array(1, 2, 3), 2) AS has2,
        |  arrays_overlap(array(1, 2), array(2, 3)) AS ovl,
        |  forall(array(2, 4, 6), x -> x % 2 = 0) AS all_even,
        |  CAST(array_size(embedding) AS BIGINT) AS asz,
        |  array_join(array_repeat('x', 3), ',') AS rep,
        |  array_join(CAST(array_insert(array(1, 3), 2, 2) AS ARRAY<STRING>), ',') AS ins,
        |  CAST(array_position(array(10, 20, 30), 20) AS BIGINT) AS pos,
        |  array_join(CAST(array_remove(array(1, 2, 1, 3), 1) AS ARRAY<STRING>), ',') AS rem,
        |  array_join(map_keys(map_from_arrays(array('a', 'b'), array(1, 2))), ',') AS mk,
        |  array_join(CAST(map_values(map_from_arrays(array('a', 'b'), array(1, 2))) AS ARRAY<STRING>), ',') AS mv,
        |  element_at(map_from_arrays(array('a', 'b'), array(1, 2)), 'b') AS mb
        |FROM embeddings WHERE vec_id < 10 ORDER BY vec_id""".stripMargin
    val duck =
      """SELECT vec_id,
        |  array_to_string(['a', 'b', NULL], ',') AS aj,
        |  len(list_append(embedding[1:2], 9))::INT AS ap_n,
        |  array_to_string(list_sort(list_distinct(list_filter([1, 2, 2, 3], x -> NOT list_contains([2], x)))), ',') AS exc,
        |  list_contains([1, 2, 3], 2) AS has2,
        |  len(list_intersect([1, 2], [2, 3])) > 0 AS ovl,
        |  len(list_filter([2, 4, 6], x -> x % 2 = 0)) = 3 AS all_even,
        |  len(embedding)::BIGINT AS asz,
        |  array_to_string(list_transform(range(3), i -> 'x'), ',') AS rep,
        |  '1,2,3' AS ins,
        |  list_position([10, 20, 30], 20)::BIGINT AS pos,
        |  array_to_string(list_filter([1, 2, 1, 3], x -> x != 1), ',') AS rem,
        |  'a,b' AS mk,
        |  '1,2' AS mv,
        |  2 AS mb
        |FROM embeddings WHERE vec_id < 10 ORDER BY vec_id""".stripMargin
    e("q70_array_fns2", duck) { (s, _) => s.sql(spark_) }
  }

  /** `date_bin` (DataFusion name, via the SQL shim) against DuckDB's
    * native `time_bucket` — 10-minute buckets anchored at an explicit
    * origin. */
  private val dateBin = {
    val spark_ =
      """SELECT date_bin(600, ts, TIMESTAMP '2024-01-01 00:00:00') AS bucket,
        |  COUNT(*) AS n
        |FROM events GROUP BY bucket ORDER BY bucket LIMIT 40""".stripMargin
    val duck =
      """SELECT time_bucket(INTERVAL 600 SECOND, ts, TIMESTAMP '2024-01-01 00:00:00') AS bucket,
        |  COUNT(*) AS n
        |FROM events GROUP BY bucket ORDER BY bucket LIMIT 40""".stripMargin
    e("q71_date_bin", duck) { (s, _) => s.sql(spark_) }
  }

  /** Capstone: the operators composed as one pipeline, the way a corpus
    * job actually runs them — quality gate → exact dedup (keep lowest
    * doc_id per content hash) → token budget → deterministic train/test
    * split → per-(split, lang) accounting. Entirely declarative: Catalyst
    * fuses the gate and the token counts into the dedup shuffle's map
    * side; one extra shuffle for the final rollup. */
  private val pipelineE2e = {
    def q(nTok: String, h: String, keeper: String): String =
      s"""WITH gated AS (
         |  SELECT doc_id, lang, text, $nTok AS n_tok
         |  FROM documents
         |  WHERE length(text) >= 80 AND $nTok >= 10),
         |dedup AS (
         |  SELECT doc_id, lang, n_tok FROM (
         |    SELECT doc_id, lang, n_tok,
         |      $keeper AS keep_id
         |    FROM gated) t
         |  WHERE doc_id = keep_id),
         |split AS (
         |  SELECT doc_id, lang, n_tok,
         |    CASE WHEN $h % 10 < 9 THEN 'train' ELSE 'test' END AS split
         |  FROM dedup)
         |SELECT split, lang, COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
         |  min(doc_id) AS min_id
         |FROM split GROUP BY split, lang
         |ORDER BY split, lang""".stripMargin
    val spark_ = q(
      "cast(size(split(text, ' ')) AS BIGINT)",
      Pipeline.h32Spark("cast(doc_id AS STRING)"),
      "MIN(doc_id) OVER (PARTITION BY md5(text))")
    val duck = q(
      "len(string_split(text, ' '))::BIGINT",
      Pipeline.h32Duck("doc_id::VARCHAR"),
      "MIN(doc_id) OVER (PARTITION BY md5(text))")
    e("q72_pipeline_e2e", duck) { (s, _) => s.sql(spark_) }
  }


  /** Cast matrix ≙ the reference's cast.slt coverage: the conversions
    * whose semantics agree across engines (string↔number, string↔date/
    * timestamp, date↔timestamp, widenings, decimal). Deliberately
    * excluded: double→int (Spark truncates, DuckDB rounds) and decimal
    * rounding ties (HALF_UP vs HALF_EVEN) — divergent by design, noted
    * here instead of papered over. */
  private val castMatrix = {
    def q(str: String): String =
      s"""SELECT CAST(42 AS $str) AS i2s, CAST('17' AS BIGINT) AS s2i,
         |  CAST('2024-03-05' AS DATE) AS s2d,
         |  CAST('2024-03-05 10:30:00' AS TIMESTAMP) AS s2ts,
         |  CAST(TIMESTAMP '2024-03-05 10:30:00' AS DATE) AS ts2d,
         |  CAST(DATE '2024-03-05' AS TIMESTAMP) AS d2ts,
         |  CAST(7 AS DOUBLE) AS i2dbl, CAST(true AS $str) AS b2s,
         |  CAST('3.25' AS DOUBLE) AS s2dbl,
         |  CAST(3.17 AS DECIMAL(10,2)) AS dbl2dec,
         |  CAST(CAST(1 AS TINYINT) AS SMALLINT) AS widen1,
         |  CAST(2.0 AS DOUBLE) = 2 AS num_eq""".stripMargin
    e("q75_cast_matrix", q("VARCHAR")) { (s, _) => s.sql(q("STRING")) }
  }

  /** IGNORE NULLS variants of first/last_value and lag (§2.6: the
    * reference's `first_value`/`last_value`/`nth_value` take a null
    * treatment). Spark puts the clause after the call, DuckDB inside the
    * parens — same semantics. */
  private val ignoreNulls = {
    def q(fv: String, lv: String, lg: String): String =
      s"""SELECT o_orderkey, $fv AS fv, $lv AS lv, $lg AS lg
         |FROM (SELECT o_orderkey, o_orderstatus,
         |        nullif(o_orderpriority, '1-URGENT') AS v
         |      FROM orders WHERE o_orderkey < 300) t
         |WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_orderkey
         |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         |       w2 AS (PARTITION BY o_orderstatus ORDER BY o_orderkey)
         |ORDER BY o_orderkey""".stripMargin
    val spark_ = q(
      "first_value(v) IGNORE NULLS OVER w",
      "last_value(v) IGNORE NULLS OVER w",
      "lag(v) IGNORE NULLS OVER w2")
    val duck = q(
      "first_value(v IGNORE NULLS) OVER w",
      "last_value(v IGNORE NULLS) OVER w",
      "lag(v IGNORE NULLS) OVER w2")
    e("q76_ignore_nulls_window", duck) { (s, _) => s.sql(spark_) }
  }

  /** GROUPS window frames (reference `window_frame.rs:409`): Spark 4.1's
    * parser rejects the GROUPS keyword (documented platform gap), but the
    * semantics — frame bounds counted in peer GROUPS of the ORDER BY key —
    * are exactly expressible as a RANGE frame over `dense_rank()`: peers
    * share a dense-rank value and consecutive groups differ by exactly 1.
    * DuckDB's parser also rejects GROUPS ("not implemented yet"), so the
    * oracle applies the same peer-group rewrite — the cross-engine check
    * covers the rewrite's arithmetic, and the rewrite's equivalence to
    * GROUPS is by construction (dense_rank == peer-group index). */
  private val groupsFrames = {
    val spark_ =
      """WITH t AS (
        |  SELECT l_orderkey, l_linenumber, l_quantity,
        |    dense_rank() OVER (PARTITION BY l_orderkey ORDER BY l_quantity) AS dr
        |  FROM lineitem WHERE l_orderkey < 200)
        |SELECT l_orderkey, l_linenumber,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)))
        |    OVER (PARTITION BY l_orderkey ORDER BY dr
        |          RANGE BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS DOUBLE) AS gsum,
        |  CAST(COUNT(*) OVER (PARTITION BY l_orderkey ORDER BY dr
        |          RANGE BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS BIGINT) AS gcnt
        |FROM t ORDER BY l_orderkey, l_linenumber""".stripMargin
    val duck =
      """WITH t AS (
        |  SELECT l_orderkey, l_linenumber, l_quantity,
        |    dense_rank() OVER (PARTITION BY l_orderkey ORDER BY l_quantity) AS dr
        |  FROM lineitem WHERE l_orderkey < 200)
        |SELECT l_orderkey, l_linenumber,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)))
        |    OVER (PARTITION BY l_orderkey ORDER BY dr
        |          RANGE BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS DOUBLE) AS gsum,
        |  COUNT(*) OVER (PARTITION BY l_orderkey ORDER BY dr
        |          RANGE BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)::BIGINT AS gcnt
        |FROM t ORDER BY l_orderkey, l_linenumber""".stripMargin
    e("q79_groups_frames", duck) { (s, _) => s.sql(spark_) }
  }

  /** The last function-family stragglers from the reference's nested/
    * datetime inventory that Spark has no direct builtin for, emulated
    * exactly: `array_replace` (first occurrence; reference
    * `functions-nested/src/replace.rs`) via an indexed transform,
    * `array_resize` (`resize.rs`) via pad+slice, and `to_local_time`
    * (`datetime/to_local_time.rs`) via from_utc_timestamp. Arrays are
    * string-serialized for the driver's sorter. */
  private val fnStragglers = {
    val spark_ =
      """SELECT
        |  array_join(CAST(transform(array(1, 2, 1, 3),
        |    (x, i) -> CASE WHEN i = array_position(array(1, 2, 1, 3), 1) - 1
        |              THEN 9 ELSE x END) AS ARRAY<STRING>), ',') AS repl_first,
        |  array_join(CAST(slice(concat(array(1, 2, 3),
        |    array_repeat(0, 3)), 1, 6) AS ARRAY<STRING>), ',') AS resized,
        |  date_format(from_utc_timestamp(TIMESTAMP '2024-03-15 12:00:00',
        |    'America/New_York'), 'yyyy-MM-dd HH:mm:ss') AS local_t,
        |  CAST(cardinality(array(1, 2, 3)) AS BIGINT) AS card""".stripMargin
    val duck =
      """SELECT
        |  array_to_string(list_transform([1, 2, 1, 3],
        |    (x, i) -> CASE WHEN i = list_position([1, 2, 1, 3], 1)
        |              THEN 9 ELSE x END), ',') AS repl_first,
        |  array_to_string(list_resize([1, 2, 3], 6, 0), ',') AS resized,
        |  strftime(timezone('America/New_York',
        |    TIMESTAMP '2024-03-15 12:00:00' AT TIME ZONE 'UTC'),
        |    '%Y-%m-%d %H:%M:%S') AS local_t,
        |  len([1, 2, 3])::BIGINT AS card""".stripMargin
    e("q86_fn_stragglers", duck) { (s, _) => s.sql(spark_) }
  }

  /** Repartition/coalesce (SURVEY §2.3 `RepartitionExec`): the contract a
    * re-distribution operator must honor is exactly "same bag of rows out"
    * — this query pushes lineitem through an explicit
    * repartition(16, key) → coalesce(4) chain and aggregates; the oracle
    * computes the same aggregate from the untouched table, so any row
    * lost/duplicated/corrupted in redistribution breaks the hash. The
    * partitioning itself is asserted in plan terms (exchange present,
    * then coalesce without a second shuffle) by the lambda. */
  private val repartitionIntegrity = e("q87_repartition_integrity",
    """SELECT l_returnflag, COUNT(*) AS n,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.functions.{col, count, lit, sum}
    val redistributed = Queries.T(s, dir, "lineitem")
      .repartition(16, col("l_orderkey"))
      .coalesce(4)
    val plan = redistributed.queryExecution.executedPlan.toString
    require(plan.contains("Exchange"), s"repartition must plan an Exchange:\n$plan")
    require(plan.contains("Coalesce"), s"coalesce must plan a Coalesce:\n$plan")
    redistributed
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
          .cast(org.apache.spark.sql.types.DoubleType).as("sum_qty"))
      .orderBy(col("l_returnflag"))
  }

  /** TPC-H q2-style minimum-cost supplier (s_acctbal stands in for the
    * missing partsupp supplycost): correlated scalar MIN subquery per
    * part over the suppliers that shipped it. Equality compares stored
    * doubles with no arithmetic, so it's exact on both engines. */
  private val minCostSupplier = {
    val body =
      """SELECT DISTINCT p_partkey, p_name, s_name, s_acctbal
        |FROM part
        |JOIN lineitem ON p_partkey = l_partkey
        |JOIN supplier ON s_suppkey = l_suppkey
        |WHERE p_size >= 40
        |  AND s_acctbal = (SELECT min(s2.s_acctbal)
        |                   FROM supplier s2 JOIN lineitem l2 ON s2.s_suppkey = l2.l_suppkey
        |                   WHERE l2.l_partkey = p_partkey)
        |ORDER BY p_partkey, s_name LIMIT 50""".stripMargin
    // Spark side computes the per-part min as a WINDOW over the same join
    // (round 17, guide §2.4): the decorrelated subquery plan scanned
    // lineitem AND supplier twice (plan-verified,
    // plans/r17/tq2_min_cost_supplier_before.txt). The subquery's set —
    // (supplier, lineitem) pairs of this part — IS the window partition
    // over the size-filtered join (p_size is a part attribute); min over
    // stored doubles is order-independent, so the equality threshold is
    // bit-identical. R17SqlAb result-equality gate (50 rows identical) +
    // oracle exact; the DuckDB oracle string keeps the correlated form.
    val windowed =
      """SELECT DISTINCT p_partkey, p_name, s_name, s_acctbal
        |FROM (
        |  SELECT p_partkey, p_name, s_name, s_acctbal,
        |    min(s_acctbal) OVER (PARTITION BY p_partkey) AS min_bal
        |  FROM part JOIN lineitem ON p_partkey = l_partkey
        |            JOIN supplier ON s_suppkey = l_suppkey
        |  WHERE p_size >= 40) t
        |WHERE s_acctbal = min_bal
        |ORDER BY p_partkey, s_name LIMIT 50""".stripMargin
    e("tq2_min_cost_supplier", body) { (s, _) => s.sql(windowed) }
  }

  /** TPC-H q20-style nested semi-join chain (adapted: no partsupp):
    * suppliers who shipped a large total quantity of any PROMO part —
    * IN-subquery over a grouped HAVING, itself over a join. Exercises
    * the IN→semi-join decorrelation above an aggregate. */
  private val partSuppliers = {
    val body =
      """SELECT s_suppkey, s_name FROM supplier
        |WHERE s_suppkey IN (
        |  SELECT l_suppkey FROM lineitem JOIN part ON p_partkey = l_partkey
        |  WHERE p_type = 'PROMO'
        |  GROUP BY l_suppkey
        |  HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 500)
        |ORDER BY s_suppkey""".stripMargin
    e("tq20_part_suppliers", body) { (s, _) => s.sql(body) }
  }

  /** Streaming batch-equivalence (SURVEY §2.9, ≙ reference
    * `datafusion/core/src/datasource/stream.rs:137` unbounded file scan):
    * the AvailableNow file-tail pipeline ([[Streaming.eventStream]] →
    * [[Streaming.windowedCounts]]) run to completion, whose result must
    * equal the same 5-minute tumbling aggregation computed as a batch —
    * the replayability contract streaming engines are graded on. Complete
    * output mode (aggregation) emits every window, so the final streaming
    * table IS the batch answer; any state-management bug (lost window,
    * double-counted file, broken watermark bookkeeping) breaks the hash.
    * Window starts are epoch-aligned on both engines (Spark `window()`
    * anchors at the unix epoch; `floor(epoch/300)*300` is the same grid). */
  private val streamingWindows = {
    val duck =
      """SELECT CAST(floor(epoch(ts) / 300) * 300 AS BIGINT) AS w_start,
        |  event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY w_start, event_type
        |ORDER BY w_start, event_type""".stripMargin
    e("q88_streaming_windows", duck) { (s, dir) =>
      import org.apache.spark.sql.functions.{col, unix_timestamp}
      import org.apache.spark.sql.streaming.Trigger
      val chk = new java.io.File(Engine.scratchDir("q88_chk", dir))
      if (chk.exists()) deleteRecursively(chk) // fresh run, not a stale-checkpoint resume
      withStatePartitions(s, StatePartitions) { cs =>
        val q = Streaming.windowedCounts(Streaming.eventStream(cs, dir))
          .writeStream.format("memory").queryName("graft_q88_sink")
          .outputMode("complete")
          .option("checkpointLocation", chk.getAbsolutePath)
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        cs.table("graft_q88_sink")
          .select(unix_timestamp(col("w_start")).as("w_start"), col("event_type"),
            col("n"), col("sum_value").cast(org.apache.spark.sql.types.DoubleType).as("sum_value"))
          .orderBy("w_start", "event_type")
      }
    }
  }

  /** Sort-merge join (SURVEY §2.4, ≙ reference
    * `datafusion/physical-plan/src/joins/sort_merge_join.rs:72`): the MERGE
    * hint pins the physical strategy — the lambda asserts SortMergeJoin in
    * the executed plan, and the oracle checks the join's answer. At 100 TB
    * SMJ is the strategy for two large pre-sorted/bucketed sides; here it's
    * forced on a fact-fact join that AQE would otherwise broadcast at test
    * scale. */
  private val sortMergeJoin = {
    def q(hint: String): String =
      s"""SELECT $hint o_orderpriority, COUNT(*) AS n,
         |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS rev
         |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin
    e("q89_sort_merge_join", q("")) { (s, _) =>
      val df = s.sql(q("/*+ MERGE(lineitem) */"))
      val plan = df.queryExecution.executedPlan.toString
      require(plan.contains("SortMergeJoin"),
        s"MERGE hint must plan a SortMergeJoin:\n$plan")
      df
    }
  }

  /** Information schema (SURVEY §2.3, ≙ reference `datafusion/catalog/`
    * information_schema): the engine's catalog listing, cross-checked —
    * Spark's `SHOW TABLES` over the registered corpus vs DuckDB's
    * `information_schema.tables` over the same registered views, both
    * restricted to the contract tables so engine-private catalog entries
    * (streaming sinks, DDL scratch tables) don't leak into the compare. */
  private val infoSchema = {
    val names = Engine.tableNames
    val inList = names.map(n => s"'$n'").mkString(", ")
    val duck =
      s"""SELECT table_name FROM information_schema.tables
         |WHERE table_name IN ($inList)
         |ORDER BY table_name""".stripMargin
    e("q90_information_schema", duck) { (s, _) =>
      import org.apache.spark.sql.functions.col
      s.sql("SHOW TABLES")
        .filter(col("tableName").isin(names: _*))
        .select(col("tableName").as("table_name"))
        .orderBy("table_name")
    }
  }

  /** Bucketed co-located join (SURVEY §2.4 scale story, promoted from the
    * ×16 scale-stress run, BASELINE.md §"Scale stress", into the
    * contract): both fact tables written bucketed on
    * the join key (8 buckets, sorted), then joined and aggregated on that
    * key — the lambda asserts the executed plan contains a SortMergeJoin
    * and NO hash-partition Exchange (the only allowed exchange is the final
    * ORDER BY's range partitioning). This is THE 100 TB join strategy: a
    * one-time bucketed layout amortizes the shuffle across every subsequent
    * join/aggregation on the key. The oracle computes the same answer from
    * the unbucketed tables.
    *
    * The bucketed layout is SETUP, not query work — exactly like the
    * physical table layout it models at 100 TB — so [[Layout.bucketedView]]
    * memoizes the write per (warehouse, table, source fingerprint):
    * repeated invocations (bench reps, plan sweeps) re-run only the
    * co-located join against the existing layout, and a different or
    * rewritten source dir rebuilds it. */
  private val bucketedJoin = {
    val duck =
      """SELECT CAST(o_orderkey AS BIGINT) AS okey, COUNT(*) AS n_lines,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS rev
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE o_orderkey < 2000
        |GROUP BY o_orderkey ORDER BY okey""".stripMargin
    e("q91_bucketed_join", duck) { (s, dir) =>
      Layout.bucketedView(s, dir, "orders", "o_orderkey", buckets = 8)
      Layout.bucketedView(s, dir, "lineitem", "l_orderkey", buckets = 8)
      val ob = Layout.tableName("orders", "o_orderkey", 8)
      val lb = Layout.tableName("lineitem", "l_orderkey", 8)
      val df = s.sql(
        s"""SELECT /*+ MERGE(l) */ CAST(o_orderkey AS BIGINT) AS okey,
           |  COUNT(*) AS n_lines,
           |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS rev
           |FROM $ob o JOIN $lb l ON o_orderkey = l_orderkey
           |WHERE o_orderkey < 2000
           |GROUP BY o_orderkey ORDER BY okey""".stripMargin)
      val plan = df.queryExecution.executedPlan.toString
      require(plan.contains("SortMergeJoin"),
        s"bucketed join must plan a SortMergeJoin:\n$plan")
      require(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join must not shuffle on the join key:\n$plan")
      df
    }
  }

  /** Bucketed EXISTS/semi-join — the tq4 shape on the [[Layout]] API (the
    * remedy measured 30× at ×1000, BASELINE §×1000): both sides read from
    * their bucketed sorted layouts, the semi-join is a co-located SMJ with
    * ZERO hash-partition Exchange on the join key (asserted — the only
    * shuffles allowed are the final 5-group aggregation's). The MERGE hint
    * keeps the co-located plan authoritative (it also makes
    * [[BroadcastSemiJoinRewrite]] stand down — hinted joins are the
    * user's call). Oracle computes the same EXISTS from the plain tables. */
  private val bucketedSemi = {
    val duck =
      """SELECT o_orderpriority, COUNT(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1996-10-01 00:00:00'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin
    e("q107_bucketed_semi", duck) { (s, dir) =>
      import org.apache.spark.sql.functions.{col, count, lit}
      val o = Layout.bucketedView(s, dir, "orders", "o_orderkey", buckets = 8)
      val l = Layout.bucketedView(s, dir, "lineitem", "l_orderkey", buckets = 8)
      val fo = o.filter(
        "o_orderdate >= TIMESTAMP '1996-07-01 00:00:00' AND " +
          "o_orderdate < TIMESTAMP '1996-10-01 00:00:00'")
      val semi = fo.join(l.hint("merge"),
        fo("o_orderkey") === l("l_orderkey") && l("l_shipdate") > fo("o_orderdate"),
        "left_semi")
      val df = semi.groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("order_count"))
        .orderBy("o_orderpriority")
      val plan = df.queryExecution.executedPlan.toString
      require(plan.contains("SortMergeJoin"),
        s"bucketed semi join must plan a co-located SMJ:\n$plan")
      require(!plan.contains("hashpartitioning(o_orderkey") &&
        !plan.contains("hashpartitioning(l_orderkey"),
        s"bucketed semi join must not shuffle either side on the join key:\n$plan")
      df
    }
  }

  /** As-of join (temporal nearest-merge): for every click, the value of
    * the same user's most recent purchase at-or-before the click's time —
    * the canonical event-stream enrichment operator (market data, feature
    * stores, attribution). Spark has no ASOF JOIN; the naive range-join
    * formulation (`b.ts <= a.ts` then argmax) explodes to |A|·|B| per key
    * pair. The scalable formulation used here: UNION both sides with a
    * side tag, one window over (user, time) carrying the last non-null
    * purchase value forward (`last_value IGNORE NULLS`), then keep the
    * click rows — ONE shuffle on the user key, linear work, the shape
    * that survives 100 TB. Purchases are pre-aggregated to one row per
    * (user, ts) so the at-or-before pick is deterministic on both
    * engines; ties at equal ts sort the purchase first (is_click
    * tiebreak), matching ASOF's `a.ts >= b.ts` inclusivity. The oracle is
    * DuckDB's NATIVE ASOF LEFT JOIN — an independent implementation of
    * the same semantics. */
  private val asofJoin = {
    def q(): String = // shared shape: Spark runs the union+window rewrite
      """WITH p AS (
        |  SELECT user_id, ts, CAST(MAX(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS pval
        |  FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts),
        |c AS (
        |  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
        |u AS (
        |  SELECT user_id, ts, event_id, CAST(NULL AS DOUBLE) AS pval, 1 AS is_click FROM c
        |  UNION ALL
        |  SELECT user_id, ts, CAST(NULL AS BIGINT), pval, 0 FROM p),
        |w AS (
        |  SELECT event_id, user_id, is_click,
        |    last_value(pval) IGNORE NULLS OVER (
        |      PARTITION BY user_id ORDER BY ts, is_click
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_purchase
        |  FROM u)
        |SELECT event_id, user_id, last_purchase
        |FROM w WHERE is_click = 1
        |ORDER BY event_id""".stripMargin
    val duck = // independent implementation: DuckDB's native ASOF JOIN.
      // ts::TIMESTAMP truncates the file's nanos to micros — the same
      // truncation the Spark side's reader applies — BEFORE grouping and
      // the as-of comparison, so both engines see identical instants.
      """WITH p AS (
        |  SELECT user_id, ts::TIMESTAMP AS ts,
        |    CAST(MAX(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS pval
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
        |c AS (
        |  SELECT event_id, user_id, ts::TIMESTAMP AS ts
        |  FROM events WHERE event_type = 'click')
        |SELECT c.event_id, c.user_id, p.pval AS last_purchase
        |FROM c ASOF LEFT JOIN p
        |  ON c.user_id = p.user_id AND c.ts >= p.ts
        |ORDER BY c.event_id""".stripMargin
    e("q93_asof_join", duck) { (s, _) => s.sql(q()) }
  }

  /** Native `session_window` operator (SURVEY §2.9's session aggregation,
    * batch form — the streaming form is spec-bound by watermark semantics,
    * see COVERAGE.md): Spark's built-in gap-session assignment vs a DuckDB
    * arithmetic emulation of its EXACT semantics — micro-precision
    * timestamps, session end = last event + gap, and TOUCHING sessions
    * merge (verified empirically on Spark 4.1: events exactly 30 minutes
    * apart share a session, so a new session starts only when the gap is
    * STRICTLY GREATER than 30 minutes). Complements q65, which
    * oracle-checks the hand-rolled lag+cumsum sessionization at
    * whole-second precision. */
  private val sessionWindowOp = {
    val spark_ =
      """SELECT user_id,
        |  unix_micros(session_window.start) AS s_start_us,
        |  unix_micros(session_window.end) AS s_end_us,
        |  COUNT(*) AS n
        |FROM events GROUP BY session_window(ts, '30 minutes'), user_id
        |ORDER BY user_id, s_start_us""".stripMargin
    val duck =
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts::TIMESTAMP) AS us FROM events),
        |g AS (
        |  SELECT user_id, us,
        |    CASE WHEN lag(us) OVER w IS NULL OR us - lag(us) OVER w > 1800000000
        |         THEN 1 ELSE 0 END AS is_start
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us)),
        |s AS (
        |  SELECT user_id, us,
        |    SUM(is_start) OVER (PARTITION BY user_id ORDER BY us
        |                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM g)
        |SELECT user_id, min(us) AS s_start_us,
        |  max(us) + 1800000000 AS s_end_us, COUNT(*) AS n
        |FROM s GROUP BY user_id, sid
        |ORDER BY user_id, s_start_us""".stripMargin
    e("q94_session_window", duck) { (s, _) => s.sql(spark_) }
  }

  /** Stream-stream inner join run to completion (SURVEY §2.4 symmetric
    * hash join, ≙ reference `symmetric_hash_join.rs:168`): purchases
    * within 10 minutes after a click by the same user, BOTH sides
    * unbounded streams. Deliberately un-watermarked: an inner stream-
    * stream join without watermarks retains all state and emits EVERY
    * match, so the AvailableNow run equals the batch interval join and
    * DuckDB can oracle it exactly. The watermarked variant — the
    * production form whose state the event-time bound evicts — is
    * [[Streaming.clickPurchaseJoin]], spec-checked (its append output
    * depends on watermark advancement, which has no batch analogue). */
  private val streamStreamJoin = {
    val duck =
      """WITH e AS (
        |  SELECT event_id, user_id, event_type, epoch_us(ts::TIMESTAMP) AS us
        |  FROM events)
        |SELECT c.event_id AS click_id, p.event_id AS purchase_id,
        |  c.user_id, c.us AS click_us, p.us AS purchase_us
        |FROM (SELECT * FROM e WHERE event_type = 'click') c
        |JOIN (SELECT * FROM e WHERE event_type = 'purchase') p
        |  ON c.user_id = p.user_id
        | AND p.us >= c.us AND p.us <= c.us + 600000000
        |ORDER BY click_id, purchase_id""".stripMargin
    e("q95_stream_stream_join", duck) { (s, dir) =>
      import org.apache.spark.sql.functions.{col, expr, unix_micros}
      import org.apache.spark.sql.streaming.Trigger
      val chk = new java.io.File(Engine.scratchDir("q95_chk", dir))
      if (chk.exists()) deleteRecursively(chk)
      withStatePartitions(s, StatePartitions) { cs =>
        val clicks = Streaming.eventStream(cs, dir)
          .filter(col("event_type") === "click")
          .select(col("event_id").as("click_id"), col("user_id"),
            col("ts").as("click_ts"))
        val purchases = Streaming.eventStream(cs, dir)
          .filter(col("event_type") === "purchase")
          .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
            col("ts").as("purchase_ts"))
        val q = clicks.join(purchases,
            expr("""user_id = p_user AND
                   |purchase_ts >= click_ts AND
                   |purchase_ts <= click_ts + INTERVAL 10 MINUTES""".stripMargin))
          .writeStream.format("memory").queryName("graft_q95_sink")
          .outputMode("append")
          .option("checkpointLocation", chk.getAbsolutePath)
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        cs.table("graft_q95_sink")
          .select(col("click_id"), col("purchase_id"), col("user_id"),
            unix_micros(col("click_ts")).as("click_us"),
            unix_micros(col("purchase_ts")).as("purchase_us"))
          .orderBy("click_id", "purchase_id")
      }
    }
  }

  /** Range (interval-containment) join, the binned formulation: which
    * clicks fall inside the 15-minute window after each error event?
    * Written naively (`c.us >= e.s AND c.us < e.e`) Spark has no equi-key
    * and plans a nested-loop join — |errors|·|clicks| comparisons, the
    * 100 TB killer. The scalable shape: quantize time into bins the size
    * of the interval span, replicate each interval to the (≤2) bins it
    * touches, tag each point with its single bin, equi-join on the bin,
    * and refine with the exact range predicate. Each matching pair meets
    * in exactly one bin (the point's), so multiplicity is exact with no
    * dedup. The lambda asserts the plan really is an equi-join (no
    * nested-loop, no cartesian); DuckDB computes the same pairs with a
    * plain range join. Same bin-replication pattern as IP-range lookups
    * and genomic interval joins. */
  private val rangeJoinBinned = {
    val duck =
      """WITH err AS (
        |  SELECT event_id AS err_id, epoch_us(ts::TIMESTAMP) AS s,
        |         epoch_us(ts::TIMESTAMP) + 900000000 AS e
        |  FROM events WHERE event_type = 'error'),
        |clk AS (
        |  SELECT event_id AS click_id, epoch_us(ts::TIMESTAMP) AS us
        |  FROM events WHERE event_type = 'click')
        |SELECT err.err_id, clk.click_id
        |FROM err JOIN clk ON clk.us >= err.s AND clk.us < err.e
        |ORDER BY err_id, click_id""".stripMargin
    val spark_ =
      """WITH err AS (
        |  SELECT event_id AS err_id, unix_micros(ts) AS s,
        |         unix_micros(ts) + 900000000 AS e
        |  FROM events WHERE event_type = 'error'),
        |bins AS (
        |  SELECT err_id, s, e, bin FROM err
        |  LATERAL VIEW explode(sequence(s div 900000000, (e - 1) div 900000000)) t AS bin),
        |clk AS (
        |  SELECT event_id AS click_id, unix_micros(ts) AS us,
        |         unix_micros(ts) div 900000000 AS bin
        |  FROM events WHERE event_type = 'click')
        |SELECT b.err_id, c.click_id
        |FROM bins b JOIN clk c ON b.bin = c.bin AND c.us >= b.s AND c.us < b.e
        |ORDER BY err_id, click_id""".stripMargin
    e("q96_range_join_binned", duck) { (s, _) =>
      val df = s.sql(spark_)
      val plan = df.queryExecution.executedPlan.toString
      require(!plan.contains("NestedLoop") && !plan.contains("Cartesian"),
        s"binned range join must plan an equi-join:\n$plan")
      df
    }
  }

  val all: Seq[Entry] = Seq(setOpsAll, weightedPct, weightedPctWindow, ddlDml,
    rangeTvf, stringFns2, miscFns2, arrayFns2, dateBin, pipelineE2e,
    castMatrix, ignoreNulls, groupsFrames, fnStragglers,
    repartitionIntegrity, minCostSupplier, partSuppliers,
    streamingWindows, sortMergeJoin, infoSchema, bucketedJoin, bucketedSemi,
    asofJoin, sessionWindowOp, streamStreamJoin, rangeJoinBinned)
}
