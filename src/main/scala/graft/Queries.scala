package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Contract-query corpus: one entry per SURVEY §2 inventory row (plus the
  * LLM-pipeline operators). Each entry pairs an idiomatic-Spark DataFrame
  * query with the ANSI-SQL oracle the driver runs in DuckDB.
  *
  * Hash-stability rule (driver compares value hashes): floating aggregation
  * is order-dependent, so every SUM/AVG over the double money columns is
  * computed over exact decimals (inputs are 2-decimal by construction,
  * TESTDATA.md) with an explicit final type, identically on both sides.
  * Every query ends with a deterministic ORDER BY over a unique key set.
  */
object Queries {
  type Q = (SparkSession, String) => DataFrame
  final case class Entry(name: String, oracle: Option[String], q: Q)

  /** Read a testdata table: one fresh relation per call (fresh attribute
    * ids, so self-joins and view overrides behave as with a plain read),
    * over the schema [[parquetSchema]] inferred once per session.
    *
    * `events.parquet` has shipped in two physical event-time layouts
    * (TESTDATA.md history): TIMESTAMP(NANOS), which Spark's reader only
    * admits as a raw long, and plain timestamp[us] with no timezone, which
    * surfaces as TIMESTAMP_NTZ. Hard-coding either breaks — loudly
    * (analyzer error), or *silently* (µs values long-coerced then div 1000
    * → windows in 1970) when a hard-coded read-schema overrides the footer.
    * So events are read with the file's own schema, then normalized by
    * what we actually got ([[Engine.normalizeTs]]). */
  def T(s: SparkSession, dir: String, name: String): DataFrame = {
    val p = s"$dir/$name.parquet"
    // harmless when ts is already a timestamp; required to admit nanos files
    if (name == "events") s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = s.read.schema(parquetSchema(s, p)).parquet(p)
    if (name == "events") Engine.normalizeTs(df) else df
  }

  /** Session confs that change what parquet schema inference returns. */
  private val inferenceConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.mergeSchema")

  /** Inferred schemas per live session (weak keys, like `Engine.prepared`):
    * path → (identity, schema). The identity is every file's (path, size,
    * mtime) plus [[inferenceConfs]], so a rewritten file or a changed conf
    * is inferred again. */
  private val schemas = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession,
      java.util.concurrent.ConcurrentHashMap[String, (String, StructType)]]())

  /** The schema `s.read.parquet(path)` would infer. Inference lists the
    * footers and runs a Spark job (~0.1 s at sf0.01), so it runs once per
    * (session, path, identity) instead of on every entry call. Only the
    * schema is kept; file listing and planning stay per call. */
  def parquetSchema(s: SparkSession, path: String): StructType = {
    val memo = schemas.computeIfAbsent(s, _ => new java.util.concurrent.ConcurrentHashMap())
    val id = Layout.dirFingerprint(path) +
      inferenceConfs.map(k => s.conf.getOption(k).getOrElse("")).mkString("|", "|", "")
    memo.compute(path, (_, old) =>
      if (old != null && old._1 == id) old else (id, s.read.parquet(path).schema))._2
  }

  // --- decimal-exact aggregation helpers -----------------------------------
  // Accumulate in decimal (exact: inputs are 2-decimal by construction) but
  // OUTPUT as double: the driver's hash canonicalization renders DuckDB
  // decimals as float64 while Spark parquet decimals surface as fixed-scale
  // java Decimals — same value, different hash. decimal→double is correctly
  // rounded on both engines, so identical exact decimals → identical bits.
  private def dec2(c: Column): Column = c.cast(DecimalType(18, 2))
  private def rate(c: Column): Column = c.cast(DecimalType(6, 2))
  private def money(c: Column): Column = sum(dec2(c)).cast(DoubleType)
  private def avgOf(c: Column): Column = sum(dec2(c)).cast(DoubleType) / count(c)

  // --- fixed-point fast lane (scan-bound money aggregation) ----------------
  // Decimal accumulation dominates scan-heavy money aggregates at scale:
  // the ×1000 A/B (BASELINE §decimal sums) measured q1's four double→decimal
  // casts + wide-precision decimal sums at ~20 s of a 24 s total over 600M
  // rows. The fast lane computes the SAME rationals exactly in the long
  // domain: [[DoubleToFixed]] yields the unscaled BIGINT of the decimal cast
  // (semantics pinned by FixedPointSpec), per-row products stay in long
  // (scale adds), and [[sumU]] accumulates through plain codegen'd long sums.
  /** Unscaled fixed-point of a DOUBLE column ≡ UnscaledValue(CAST(c AS
    * DECIMAL(precision, scale))). DOUBLE inputs only (q1's lineitem money
    * columns) — non-double columns keep the dec2/money decimal lane. */
  private def fx(c: Column, scale: Int, precision: Int = 18): Column =
    call_function("to_fixed", c, lit(scale), lit(precision))

  /** Exact decimal sum of an unscaled-long column. The scale-split makes
    * overflow structurally impossible at any corpus size: `lo = u mod 10^s`
    * is bounded by 10^s (≤10^6), so its sum stays under 10^6·rows
    * (< 6·10^17 even at 600B rows), and `hi = u div 10^s` is the money
    * VALUE (not cents), bounded by 10^6·rows for any realistic ledger.
    * Reconstruction `(10^s·Σhi + Σlo) / 10^s` happens once per group on
    * exact decimals; a plain `sum(u)` would overflow long at ~10^18·scale
    * units, which a 100 TB corpus of scale-6 products does reach. */
  private def sumU(u: Column, scale: Int): Column = {
    val pow = DoubleToFixed.pow10(scale)
    val hi = sum(call_function("div", u, lit(pow))).cast(DecimalType(28, 0))
    val lo = sum(u % lit(pow)).cast(DecimalType(28, 0))
    (hi * lit(pow) + lo) / lit(pow)
  }

  private[graft] def e(name: String, oracle: String)(q: Q): Entry = Entry(name, Some(oracle), q)

  // =========================================================================
  // Core relational surface (SURVEY §2.3-2.5)
  // =========================================================================

  /** TPC-H Q1: scan → filter → hash agg (partial+final) → sort.
    * Scale: single shuffle on the 6-value group key; map-side combine does
    * almost all the work, so this is scan-bound at 100 TB.
    */
  private val q1Agg = e("q1_agg",
    """SELECT l_returnflag, l_linestatus,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
      |  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(6,2)))), 2) AS DOUBLE) AS sum_disc_price,
      |  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(6,2))) * (1 + CAST(l_tax AS DECIMAL(6,2)))), 2) AS DOUBLE) AS sum_charge,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(l_quantity) AS avg_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(l_extendedprice) AS avg_price,
      |  COUNT(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin) { (s, dir) =>
    // Fixed-point fast lane (see fx/sumU above): identical rationals to the
    // dec2/rate decimal formulation — cents·(100-disc)·(100+tax) IS
    // dec2(p)·(1-rate(d))·(1+rate(t)) at scale 6 — but per-row work is all
    // long arithmetic inside whole-stage codegen. Measured at ×1000:
    // 24 s → see BASELINE §decimal sums.
    val pc = fx(col("l_extendedprice"), 2)      // cents
    val qc = fx(col("l_quantity"), 2)
    val dh = fx(col("l_discount"), 2, 6)        // hundredths, DECIMAL(6,2) domain
    val th = fx(col("l_tax"), 2, 6)
    val disc4 = pc * (lit(100L) - dh)           // scale-4 unscaled
    val charge6 = disc4 * (lit(100L) + th)      // scale-6 unscaled
    T(s, dir, "lineitem")
      .filter(col("l_shipdate") <= lit("1998-09-02 00:00:00").cast(TimestampType))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sumU(qc, 2).cast(DoubleType).as("sum_qty"),
        sumU(pc, 2).cast(DoubleType).as("sum_base_price"),
        // ROUND to cents BEFORE the double cast (both engines): a scale-6
        // decimal sum above ~2^53 femto-units makes DuckDB's hugeint→double
        // →/10^scale cast double-round (one ulp high), while Spark rounds
        // once — measured at ×10 scale (BASELINE §x10). Rounded to scale 2
        // both engines round the same 13-digit rational exactly once.
        round(sumU(disc4, 4), 2).cast(DoubleType).as("sum_disc_price"),
        round(sumU(charge6, 6), 2).cast(DoubleType).as("sum_charge"),
        (sumU(qc, 2).cast(DoubleType) / count(col("l_quantity"))).as("avg_qty"),
        (sumU(pc, 2).cast(DoubleType) / count(col("l_extendedprice"))).as("avg_price"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  /** TPC-H Q6: selective filter → global agg. Predicates push to parquet. */
  private val q6Filter = e("q6_selective_filter",
    """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(6,2))) AS DOUBLE) AS revenue
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      |  AND l_discount BETWEEN 0.05 AND 0.07
      |  AND l_quantity < 24""".stripMargin) { (s, dir) =>
    T(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01 00:00:00").cast(TimestampType)
        && col("l_shipdate") < lit("1997-01-01 00:00:00").cast(TimestampType)
        && col("l_discount").between(0.05, 0.07)
        && col("l_quantity") < 24)
      .agg(sum(dec2(col("l_extendedprice")) * rate(col("l_discount")))
        .cast(DoubleType).as("revenue"))
  }

  /** TPC-H Q3: 3-way join → agg → top-k.
    * Scale: customer side is filtered then broadcast; orders⋈lineitem is the
    * one shuffle; final ORDER BY + LIMIT is TakeOrderedAndProject (no global
    * sort materialization).
    */
  private val q3JoinTopk = e("q3_join_topk",
    """SELECT l_orderkey,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(6,2)))) AS DOUBLE) AS revenue,
      |  CAST(o_orderdate AS DATE) AS orderdate
      |FROM customer
      |JOIN orders ON c_custkey = o_custkey
      |JOIN lineitem ON l_orderkey = o_orderkey
      |WHERE c_mktsegment = 'BUILDING'
      |  AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      |  AND l_shipdate > TIMESTAMP '1996-03-15 00:00:00'
      |GROUP BY l_orderkey, orderdate
      |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin) { (s, dir) =>
    val cust = T(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
    val ord = T(s, dir, "orders")
      .filter(col("o_orderdate") < lit("1998-03-15 00:00:00").cast(TimestampType))
    val li = T(s, dir, "lineitem")
      .filter(col("l_shipdate") > lit("1996-03-15 00:00:00").cast(TimestampType))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate").cast(DateType).as("orderdate"))
      .agg(sum(dec2(col("l_extendedprice")) * (lit(1) - rate(col("l_discount"))))
        .cast(DoubleType).as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  // =========================================================================
  // Sort / limit / offset (SURVEY §2.3: SortExec, GlobalLimitExec w/ skip)
  // =========================================================================

  /** Multi-key global sort + LIMIT/OFFSET. Top-k path: Spark plans
    * TakeOrderedAndProject — no full sort materialization at scale. */
  private val q4Sort = e("q4_sort_limit_offset",
    """SELECT l_orderkey, l_linenumber, l_extendedprice
      |FROM lineitem
      |ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
      |LIMIT 20 OFFSET 5""".stripMargin) { (s, dir) =>
    T(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
      .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
      .offset(5).limit(20)
  }

  /** TPC-H Q5-ish 6-way join. Scale: dims (region/nation/supplier/customer)
    * broadcast; the single shuffle is lineitem⋈orders. */
  private val q5Join5way = e("q5_join_multiway",
    """SELECT n_name,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(6,2)))) AS DOUBLE) AS revenue
      |FROM customer, orders, lineitem, supplier, nation, region
      |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      |  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
      |  AND r_name = 'ASIA'
      |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      |GROUP BY n_name
      |ORDER BY revenue DESC, n_name""".stripMargin) { (s, dir) =>
    val li = T(s, dir, "lineitem")
    val ord = T(s, dir, "orders")
      .filter(col("o_orderdate") >= lit("1996-01-01 00:00:00").cast(TimestampType)
        && col("o_orderdate") < lit("1998-01-01 00:00:00").cast(TimestampType))
    val sup = T(s, dir, "supplier")
    val cust = T(s, dir, "customer")
    val nat = T(s, dir, "nation")
    val reg = T(s, dir, "region").filter(col("r_name") === "ASIA")
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("c_custkey") === col("o_custkey"))
      .join(broadcast(sup),
        col("l_suppkey") === col("s_suppkey") && col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(sum(dec2(col("l_extendedprice")) * (lit(1) - rate(col("l_discount"))))
        .cast(DoubleType).as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  // =========================================================================
  // Set operations (SURVEY §2.3: Union/Intersect/Except, Distinct)
  // =========================================================================

  private val q7Distinct = e("q7_distinct",
    """SELECT DISTINCT o_orderstatus, o_orderpriority
      |FROM orders ORDER BY o_orderstatus, o_orderpriority""".stripMargin) { (s, dir) =>
    T(s, dir, "orders").select(col("o_orderstatus"), col("o_orderpriority"))
      .distinct()
      .orderBy(col("o_orderstatus"), col("o_orderpriority"))
  }

  private val q8Union = e("q8_union",
    """SELECT
      |  (SELECT COUNT(*) FROM (SELECT c_nationkey AS nk FROM customer UNION ALL SELECT s_nationkey FROM supplier) u1) AS n_all,
      |  (SELECT COUNT(*) FROM (SELECT c_nationkey AS nk FROM customer UNION SELECT s_nationkey FROM supplier) u2) AS n_distinct""".stripMargin) { (s, dir) =>
    val c = T(s, dir, "customer").select(col("c_nationkey").as("nk"))
    val su = T(s, dir, "supplier").select(col("s_nationkey").as("nk"))
    val nAll = c.union(su).agg(count(lit(1)).as("n_all"))
    val nDistinct = c.union(su).distinct().agg(count(lit(1)).as("n_distinct"))
    nAll.crossJoin(nDistinct)
  }

  private val q9Intersect = e("q9_intersect",
    """SELECT c_nationkey AS nk FROM customer
      |INTERSECT
      |SELECT s_nationkey FROM supplier
      |ORDER BY nk""".stripMargin) { (s, dir) =>
    T(s, dir, "customer").select(col("c_nationkey").as("nk"))
      .intersect(T(s, dir, "supplier").select(col("s_nationkey").as("nk")))
      .orderBy(col("nk"))
  }

  private val q10Except = e("q10_except",
    """SELECT n_nationkey AS nk FROM nation
      |EXCEPT
      |SELECT s_nationkey FROM supplier WHERE s_acctbal > 5000
      |ORDER BY nk""".stripMargin) { (s, dir) =>
    T(s, dir, "nation").select(col("n_nationkey").as("nk"))
      .except(T(s, dir, "supplier").filter(col("s_acctbal") > 5000)
        .select(col("s_nationkey").as("nk")))
      .orderBy(col("nk"))
  }

  // =========================================================================
  // Join types (SURVEY §2.4: cross, semi, anti, outer variants)
  // =========================================================================

  private val q11Cross = e("q11_cross_join",
    """SELECT r_name, s.o_orderstatus
      |FROM region CROSS JOIN (SELECT DISTINCT o_orderstatus FROM orders) s
      |ORDER BY r_name, s.o_orderstatus""".stripMargin) { (s, dir) =>
    T(s, dir, "region").select(col("r_name"))
      .crossJoin(T(s, dir, "orders").select(col("o_orderstatus")).distinct())
      .orderBy(col("r_name"), col("o_orderstatus"))
  }

  /** LeftSemi ≙ EXISTS, LeftAnti ≙ NOT EXISTS (SURVEY §2.4 join-type row). */
  private val q12SemiAnti = e("q12_semi_anti_join",
    """SELECT
      |  (SELECT COUNT(*) FROM customer c WHERE EXISTS
      |     (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)) AS n_big,
      |  (SELECT COUNT(*) FROM customer c WHERE NOT EXISTS
      |     (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)) AS n_none""".stripMargin) { (s, dir) =>
    val cust = T(s, dir, "customer")
    val ord = T(s, dir, "orders")
    val big = cust.join(ord.filter(col("o_totalprice") > 400000),
      col("c_custkey") === col("o_custkey"), "left_semi")
      .agg(count(lit(1)).as("n_big"))
    val none = cust.join(ord, col("c_custkey") === col("o_custkey"), "left_anti")
      .agg(count(lit(1)).as("n_none"))
    big.crossJoin(none)
  }

  /** TPC-H Q13-ish: left outer join preserving customers with zero orders. */
  private val q13LeftJoin = e("q13_left_join_agg",
    """SELECT c_count, COUNT(*) AS custdist FROM (
      |  SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
      |  FROM customer c LEFT OUTER JOIN orders o ON c.c_custkey = o.o_custkey
      |  GROUP BY c.c_custkey) cc
      |GROUP BY c_count
      |ORDER BY custdist DESC, c_count DESC""".stripMargin) { (s, dir) =>
    T(s, dir, "customer")
      .join(T(s, dir, "orders"), col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)
  }

  /** Full outer: nations with suppliers vs nations with customers. */
  private val q14FullOuter = e("q14_full_outer_join",
    """SELECT COALESCE(sn.nk, cn.nk) AS nk, sn.n_sup, cn.n_cust
      |FROM (SELECT s_nationkey AS nk, COUNT(*) AS n_sup FROM supplier GROUP BY s_nationkey) sn
      |FULL OUTER JOIN (SELECT c_nationkey AS nk, COUNT(*) AS n_cust FROM customer GROUP BY c_nationkey) cn
      |ON sn.nk = cn.nk
      |ORDER BY nk""".stripMargin) { (s, dir) =>
    val sn = T(s, dir, "supplier").groupBy(col("s_nationkey").as("snk"))
      .agg(count(lit(1)).as("n_sup"))
    val cn = T(s, dir, "customer").groupBy(col("c_nationkey").as("cnk"))
      .agg(count(lit(1)).as("n_cust"))
    sn.join(cn, col("snk") === col("cnk"), "full_outer")
      .select(coalesce(col("snk"), col("cnk")).as("nk"), col("n_sup"), col("n_cust"))
      .orderBy(col("nk"))
  }

  // =========================================================================
  // Window functions (SURVEY §2.6: ranking UDWFs, frames, lag/lead/nth)
  // =========================================================================

  private val q15WindowRank = e("q15_window_rank",
    """SELECT * FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |    ROW_NUMBER() OVER w AS rn, RANK() OVER w AS rnk, DENSE_RANK() OVER w AS drnk,
      |    NTILE(4) OVER w AS quartile,
      |    PERCENT_RANK() OVER w AS prank, CUME_DIST() OVER w AS cdist
      |  FROM orders WHERE o_custkey < 20
      |  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
      |) t WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    T(s, dir, "orders").filter(col("o_custkey") < 20)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
        row_number().over(w).cast(LongType).as("rn"), rank().over(w).cast(LongType).as("rnk"),
        dense_rank().over(w).cast(LongType).as("drnk"), ntile(4).over(w).cast(LongType).as("quartile"),
        percent_rank().over(w).as("prank"), cume_dist().over(w).as("cdist"))
      .filter(col("rn") <= 3)
      .orderBy(col("o_custkey"), col("rn"))
  }

  /** ROWS/RANGE frames + offset/nth window functions, decimal-exact sums. */
  /** ROWS frames and LAG/LEAD/FIRST/LAST/NTH are only well-defined over a
    * TOTAL order: the driver testdata has duplicate (l_orderkey,
    * l_linenumber) pairs (e.g. order 0 has two linenumber-5 rows), so
    * ordering by l_linenumber alone let each engine pick its own peer
    * order — caught as a window3_qty mismatch at ×10 scale. Every ROWS/
    * navigation window therefore orders by the full (ln, qty, price,
    * partkey, suppkey) tuple: rows that still tie are identical in every
    * column the output reads, so the result is order-independent. The
    * RANGE window stays single-key — RANGE frames include all peers by
    * definition and are tie-safe. */
  private val q16WindowFrames = e("q16_window_frames",
    """SELECT l_orderkey, l_linenumber,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) OVER (PARTITION BY l_orderkey ORDER BY l_linenumber, l_quantity, l_extendedprice, l_partkey, l_suppkey ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_qty,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) OVER (PARTITION BY l_orderkey ORDER BY l_linenumber, l_quantity, l_extendedprice, l_partkey, l_suppkey ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS DOUBLE) AS window3_qty,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) OVER (PARTITION BY l_orderkey ORDER BY l_linenumber RANGE BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE) AS range_qty,
      |  LAG(l_linenumber) OVER (PARTITION BY l_orderkey ORDER BY l_linenumber, l_quantity, l_extendedprice, l_partkey, l_suppkey) AS prev_ln,
      |  LEAD(l_linenumber) OVER (PARTITION BY l_orderkey ORDER BY l_linenumber, l_quantity, l_extendedprice, l_partkey, l_suppkey) AS next_ln,
      |  FIRST_VALUE(l_linenumber) OVER (PARTITION BY l_orderkey ORDER BY l_linenumber, l_quantity, l_extendedprice, l_partkey, l_suppkey ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS first_ln,
      |  LAST_VALUE(l_linenumber) OVER (PARTITION BY l_orderkey ORDER BY l_linenumber, l_quantity, l_extendedprice, l_partkey, l_suppkey ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_ln,
      |  NTH_VALUE(l_linenumber, 2) OVER (PARTITION BY l_orderkey ORDER BY l_linenumber, l_quantity, l_extendedprice, l_partkey, l_suppkey ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS second_ln
      |FROM lineitem WHERE l_orderkey < 50
      |ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val tieCols = Seq(col("l_linenumber"), col("l_quantity"),
      col("l_extendedprice"), col("l_partkey"), col("l_suppkey"))
    val byLn = Window.partitionBy(col("l_orderkey")).orderBy(tieCols: _*)
    val byLnRange = Window.partitionBy(col("l_orderkey")).orderBy(col("l_linenumber"))
    val full = byLn.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    T(s, dir, "lineitem").filter(col("l_orderkey") < 50)
      .select(col("l_orderkey"), col("l_linenumber"),
        sum(dec2(col("l_quantity")))
          .over(byLn.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast(DoubleType).as("running_qty"),
        sum(dec2(col("l_quantity"))).over(byLn.rowsBetween(-1, 1))
          .cast(DoubleType).as("window3_qty"),
        sum(dec2(col("l_quantity"))).over(byLnRange.rangeBetween(-2, 0))
          .cast(DoubleType).as("range_qty"),
        lag(col("l_linenumber"), 1).over(byLn).as("prev_ln"),
        lead(col("l_linenumber"), 1).over(byLn).as("next_ln"),
        first(col("l_linenumber")).over(full).as("first_ln"),
        last(col("l_linenumber")).over(full).as("last_ln"),
        nth_value(col("l_linenumber"), 2).over(full).as("second_ln"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))
  }

  // =========================================================================
  // Grouping sets / rollup / cube + grouping() (SURVEY §2.5)
  // =========================================================================

  private val q17Rollup = e("q17_rollup",
    """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
      |  CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
      |  CAST(GROUPING(o_orderpriority) AS INT) AS g_prio,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM orders
      |GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
      |ORDER BY g_status, g_prio, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin) { (s, dir) =>
    T(s, dir, "orders")
      .rollup(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        grouping(col("o_orderstatus")).cast(IntegerType).as("g_status"),
        grouping(col("o_orderpriority")).cast(IntegerType).as("g_prio"),
        money(col("o_totalprice")).as("sum_price"))
      .orderBy(col("g_status"), col("g_prio"),
        col("o_orderstatus").asc_nulls_first, col("o_orderpriority").asc_nulls_first)
  }

  private val q18Cube = e("q18_cube",
    """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
      |  CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
      |  CAST(GROUPING(o_orderpriority) AS INT) AS g_prio
      |FROM orders
      |GROUP BY CUBE(o_orderstatus, o_orderpriority)
      |ORDER BY g_status, g_prio, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin) { (s, dir) =>
    T(s, dir, "orders")
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        grouping(col("o_orderstatus")).cast(IntegerType).as("g_status"),
        grouping(col("o_orderpriority")).cast(IntegerType).as("g_prio"))
      .orderBy(col("g_status"), col("g_prio"),
        col("o_orderstatus").asc_nulls_first, col("o_orderpriority").asc_nulls_first)
  }

  /** GROUPING SETS via the SQL entry (same SQL text runs on both engines). */
  private val q19GroupingSets = {
    val sqlText =
      """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin
    e("q19_grouping_sets", sqlText) { (s, dir) => s.sql(sqlText) }
  }

  // =========================================================================
  // Aggregate-function inventory (SURVEY §2.5 registry)
  // =========================================================================

  private val q20DistinctAgg = e("q20_distinct_agg",
    """SELECT o_orderstatus,
      |  COUNT(DISTINCT o_custkey) AS n_cust,
      |  COUNT(DISTINCT o_orderpriority) AS n_prio,
      |  COUNT(*) AS n
      |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin) { (s, dir) =>
    T(s, dir, "orders").groupBy(col("o_orderstatus"))
      .agg(countDistinct(col("o_custkey")).as("n_cust"),
        countDistinct(col("o_orderpriority")).as("n_prio"),
        count(lit(1)).as("n"))
      .orderBy(col("o_orderstatus"))
  }

  /** Statistical aggregates (stddev/var/corr/covar/regr_*). Results are
    * rounded: these are the only non-decimal-exact aggregations we accept,
    * with rounding granularity chosen ≫ cross-engine accumulation error.
    */
  private val q21StatsAgg = e("q21_stats_agg",
    """SELECT l_returnflag,
      |  round(stddev_samp(l_quantity), 4) AS sd_qty,
      |  round(stddev_pop(l_quantity), 4) AS sdp_qty,
      |  round(var_samp(l_quantity), 4) AS var_qty,
      |  round(var_pop(l_quantity), 4) AS varp_qty,
      |  round(corr(l_extendedprice, l_quantity), 6) AS corr_pq,
      |  round(covar_samp(l_extendedprice, l_quantity), 2) AS covs_pq,
      |  round(covar_pop(l_extendedprice, l_quantity), 2) AS covp_pq,
      |  round(regr_slope(l_extendedprice, l_quantity), 4) AS slope,
      |  round(regr_intercept(l_extendedprice, l_quantity), 2) AS intercept,
      |  round(regr_r2(l_extendedprice, l_quantity), 6) AS r2,
      |  CAST(regr_count(l_extendedprice, l_quantity) AS BIGINT) AS n_pairs,
      |  round(regr_avgx(l_extendedprice, l_quantity), 4) AS avgx,
      |  round(regr_avgy(l_extendedprice, l_quantity), 2) AS avgy
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
    T(s, dir, "lineitem").groupBy(col("l_returnflag"))
      .agg(
        round(stddev_samp(col("l_quantity")), 4).as("sd_qty"),
        round(stddev_pop(col("l_quantity")), 4).as("sdp_qty"),
        round(var_samp(col("l_quantity")), 4).as("var_qty"),
        round(var_pop(col("l_quantity")), 4).as("varp_qty"),
        round(corr(col("l_extendedprice"), col("l_quantity")), 6).as("corr_pq"),
        round(covar_samp(col("l_extendedprice"), col("l_quantity")), 2).as("covs_pq"),
        round(covar_pop(col("l_extendedprice"), col("l_quantity")), 2).as("covp_pq"),
        round(regr_slope(col("l_extendedprice"), col("l_quantity")), 4).as("slope"),
        round(regr_intercept(col("l_extendedprice"), col("l_quantity")), 2).as("intercept"),
        round(regr_r2(col("l_extendedprice"), col("l_quantity")), 6).as("r2"),
        regr_count(col("l_extendedprice"), col("l_quantity")).cast(LongType).as("n_pairs"),
        round(regr_avgx(col("l_extendedprice"), col("l_quantity")), 4).as("avgx"),
        round(regr_avgy(col("l_extendedprice"), col("l_quantity")), 2).as("avgy"))
      .orderBy(col("l_returnflag"))
  }

  /** median / percentile_cont / min_by / max_by (SQL entry; DuckDB spells
    * min_by as arg_min — oracle differs only in function names).
    *
    * max_by/min_by over a bare price is underdetermined when the price
    * TIES — at ×10 scale every price exists in all ten key-shifted copies
    * and the engines picked different (valid) orderkeys. The ordering
    * value packs (price-cents, orderkey) into one exact integer —
    * price*100 is within 1e-9 of an integer (money data), ×1e14 stride
    * leaves 14 digits of key headroom, DECIMAL(38,0)/HUGEINT on the two
    * engines — so ties break on the LARGEST (max_by) / SMALLEST (min_by)
    * orderkey, deterministically at any scale. */
  private val q22Median = {
    val sparkSql =
      """SELECT l_returnflag,
        |  median(l_quantity) AS med_qty,
        |  percentile_cont(0.25) WITHIN GROUP (ORDER BY l_quantity) AS p25_qty,
        |  min(l_quantity) AS min_qty, max(l_quantity) AS max_qty,
        |  max_by(l_orderkey, CAST(l_extendedprice * 100 AS DECIMAL(38,0)) * 100000000000000 + l_orderkey) AS k_maxprice,
        |  min_by(l_orderkey, CAST(l_extendedprice * 100 AS DECIMAL(38,0)) * 100000000000000 + l_orderkey) AS k_minprice
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin
    e("q22_median_percentile",
      """SELECT l_returnflag,
        |  median(l_quantity) AS med_qty,
        |  percentile_cont(0.25) WITHIN GROUP (ORDER BY l_quantity) AS p25_qty,
        |  min(l_quantity) AS min_qty, max(l_quantity) AS max_qty,
        |  arg_max(l_orderkey, CAST(l_extendedprice * 100 AS HUGEINT) * 100000000000000 + l_orderkey) AS k_maxprice,
        |  arg_min(l_orderkey, CAST(l_extendedprice * 100 AS HUGEINT) * 100000000000000 + l_orderkey) AS k_minprice
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) {
      (s, dir) => s.sql(sparkSql)
    }
  }

  // =========================================================================
  // Expressions: CASE / subqueries / CTE / VALUES / unnest (SURVEY §2.3, §3.1)
  // =========================================================================

  private val q23Case = e("q23_case_expr",
    """SELECT l_orderkey, l_linenumber,
      |  CASE WHEN l_quantity < 10 THEN 'low' WHEN l_quantity < 30 THEN 'mid' ELSE 'high' END AS bucket,
      |  CASE l_returnflag WHEN 'A' THEN 1 WHEN 'R' THEN 2 ELSE 0 END AS flag_code,
      |  COALESCE(NULLIF(l_returnflag, 'N'), '-') AS flag_or_dash
      |FROM lineitem WHERE l_orderkey < 40
      |ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, dir) =>
    T(s, dir, "lineitem").filter(col("l_orderkey") < 40)
      .select(col("l_orderkey"), col("l_linenumber"),
        when(col("l_quantity") < 10, "low")
          .when(col("l_quantity") < 30, "mid").otherwise("high").as("bucket"),
        when(col("l_returnflag") === "A", 1)
          .when(col("l_returnflag") === "R", 2).otherwise(0).as("flag_code"),
        coalesce(nullif(col("l_returnflag"), lit("N")), lit("-")).as("flag_or_dash"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))
  }

  private val q24InSubquery = e("q24_in_subquery",
    """SELECT
      |  (SELECT COUNT(*) FROM orders WHERE o_custkey IN
      |    (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')) AS n_in,
      |  (SELECT COUNT(*) FROM orders WHERE o_custkey NOT IN
      |    (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')) AS n_not_in""".stripMargin) { (s, dir) =>
    val building = T(s, dir, "customer")
      .filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
    val ord = T(s, dir, "orders")
    val nIn = ord.join(building, col("o_custkey") === col("c_custkey"), "left_semi")
      .agg(count(lit(1)).as("n_in"))
    val nNotIn = ord.join(building, col("o_custkey") === col("c_custkey"), "left_anti")
      .agg(count(lit(1)).as("n_not_in"))
    nIn.crossJoin(nNotIn)
  }

  private val q25ScalarSubquery = e("q25_scalar_subquery",
    """SELECT o_orderstatus, COUNT(*) AS n_above
      |FROM orders
      |WHERE o_totalprice > (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) FROM orders)
      |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin) { (s, dir) =>
    val ord = T(s, dir, "orders")
    val avgPrice = ord.agg(avgOf(col("o_totalprice")).as("avg_price"))
    ord.crossJoin(broadcast(avgPrice))
      .filter(col("o_totalprice") > col("avg_price"))
      .groupBy(col("o_orderstatus")).agg(count(lit(1)).as("n_above"))
      .orderBy(col("o_orderstatus"))
  }

  private val q26Cte = e("q26_cte",
    """WITH big AS (
      |  SELECT o_custkey, COUNT(*) AS n_big FROM orders
      |  WHERE o_totalprice > 200000 GROUP BY o_custkey)
      |SELECT c_mktsegment, COUNT(*) AS n_cust, CAST(SUM(n_big) AS BIGINT) AS total_big
      |FROM big JOIN customer ON c_custkey = o_custkey
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin) { (s, dir) =>
    val big = T(s, dir, "orders").filter(col("o_totalprice") > 200000)
      .groupBy(col("o_custkey")).agg(count(lit(1)).as("n_big"))
    big.join(T(s, dir, "customer"), col("c_custkey") === col("o_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_cust"), sum(col("n_big")).cast(LongType).as("total_big"))
      .orderBy(col("c_mktsegment"))
  }

  private val q27Values = e("q27_values_join",
    """SELECT t.id, t.name, n_name
      |FROM (VALUES (0, 'zero'), (1, 'one'), (3, 'three'), (99, 'none')) AS t(id, name)
      |LEFT JOIN nation ON n_nationkey = t.id
      |ORDER BY t.id""".stripMargin) { (s, dir) =>
    import s.implicits._
    val t = Seq((0, "zero"), (1, "one"), (3, "three"), (99, "none")).toDF("id", "name")
    t.join(T(s, dir, "nation"), col("n_nationkey") === col("id"), "left_outer")
      .select(col("id"), col("name"), col("n_name"))
      .orderBy(col("id"))
  }

  /** Recursive CTE (SURVEY §2.3; Spark 4.x WITH RECURSIVE ↔ DataFusion
    * RecursiveQueryExec). Same SQL text on both engines. */
  private val q28Recursive = {
    val sqlText =
      """WITH RECURSIVE t(n) AS (
        |  SELECT 1
        |  UNION ALL
        |  SELECT n + 1 FROM t WHERE n < 10)
        |SELECT n, n * n AS n_sq FROM t ORDER BY n""".stripMargin
    e("q28_recursive_cte", sqlText) { (s, dir) => s.sql(sqlText) }
  }

  /** Unnest with position (SURVEY §2.3 UnnestExec ↔ posexplode/Generate). */
  private val q29UnnestPos = e("q29_unnest_pos",
    """SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS pos,
      |  CAST(UNNEST(embedding) AS DOUBLE) AS val
      |FROM embeddings WHERE vec_id < 4 ORDER BY vec_id, pos""".stripMargin) { (s, dir) =>
    T(s, dir, "embeddings").filter(col("vec_id") < 4)
      .select(col("vec_id"), posexplode(col("embedding")))
      .select(col("vec_id"), col("pos").cast(LongType).as("pos"),
        col("col").cast(DoubleType).as("val"))
      .orderBy(col("vec_id"), col("pos"))
  }

  // =========================================================================
  // Layer A: greatest on real tables (SURVEY §2.1)
  // =========================================================================

  /** Builtin-semantics greatest over lineitem rates (Spark builtin ≙ DuckDB
    * greatest: both skip NULLs; no NULLs in these columns anyway). */
  private val q30Greatest = e("q30_greatest",
    """SELECT l_orderkey, l_linenumber,
      |  greatest(l_discount, l_tax, 0.05) AS g_rate,
      |  greatest(l_quantity, CAST(l_linenumber AS DOUBLE)) AS g_qty
      |FROM lineitem WHERE l_orderkey < 40
      |ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, dir) =>
    T(s, dir, "lineitem").filter(col("l_orderkey") < 40)
      .select(col("l_orderkey"), col("l_linenumber"),
        greatest(col("l_discount"), col("l_tax"), lit(0.05)).as("g_rate"),
        greatest(col("l_quantity"), col("l_linenumber").cast(DoubleType)).as("g_qty"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))
  }

  /** greatest_ref: reference coercion (int ⊕ double → double via Float64
    * dominance). Oracle expresses the coercion explicitly. */
  private val q31GreatestRef = e("q31_greatest_ref",
    """SELECT l_orderkey, l_linenumber,
      |  greatest(CAST(l_linenumber AS DOUBLE), l_discount * 100) AS g
      |FROM lineitem WHERE l_orderkey < 40
      |ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, dir) =>
    T(s, dir, "lineitem").filter(col("l_orderkey") < 40)
      .select(col("l_orderkey"), col("l_linenumber"),
        functions.greatest_ref(col("l_linenumber"), col("l_discount") * 100).as("g"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))
  }

  /** Wide-arg greatest (reference stress tests 1000/2000 args at
    * greatest.rs:1091-1134; here 8 expressions over real columns). */
  private val q32GreatestWide = e("q32_greatest_wide",
    """SELECT l_orderkey, l_linenumber,
      |  greatest(l_quantity, l_discount * 100, l_tax * 100,
      |           CAST(l_linenumber AS DOUBLE), l_quantity * 0.5,
      |           l_quantity - 10, 7.0, l_tax * 200) AS g
      |FROM lineitem WHERE l_orderkey < 40
      |ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, dir) =>
    T(s, dir, "lineitem").filter(col("l_orderkey") < 40)
      .select(col("l_orderkey"), col("l_linenumber"),
        greatest(col("l_quantity"), col("l_discount") * 100, col("l_tax") * 100,
          col("l_linenumber").cast(DoubleType), col("l_quantity") * 0.5,
          col("l_quantity") - 10, lit(7.0), col("l_tax") * 200).as("g"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))
  }

  // =========================================================================
  // Scalar-function inventory (SURVEY §2.7) — SQL-entry queries; the oracle
  // differs only where DuckDB spells a function differently.
  // =========================================================================

  private val q33StringFns = {
    val spark_ =
      """SELECT doc_id,
        |  CAST(length(text) AS BIGINT) AS n_len,
        |  upper(lang) AS lang_up, lower(source) AS src_lo,
        |  substr(text, 1, 12) AS head12,
        |  CAST(ascii(substr(text, 1, 1)) AS BIGINT) AS first_ascii,
        |  reverse(lang) AS lang_rev,
        |  repeat(lang, 2) AS lang2,
        |  lpad(lang, 5, '_') AS lpadded, rpad(lang, 5, '_') AS rpadded,
        |  replace(lang, 'e', 'E') AS lang_repl,
        |  split_part(text, ' ', 2) AS word2,
        |  concat_ws('|', lang, source) AS lang_src,
        |  left(text, 5) AS l5, right(text, 5) AS r5,
        |  CAST(levenshtein(lang, 'en') AS BIGINT) AS lev_en,
        |  translate(lang, 'en', 'EN') AS lang_tr,
        |  CAST(instr(text, 'spark') AS BIGINT) AS pos_spark,
        |  startswith(text, 'key') AS sw, endswith(text, 'sort') AS ew,
        |  contains(text, 'spark') AS has_spark,
        |  chr(65 + CAST(doc_id % 26 AS INT)) AS letter,
        |  trim('  ' || lang || '  ') AS trimmed,
        |  ltrim('  ' || lang) AS ltrimmed, rtrim(lang || '  ') AS rtrimmed
        |FROM documents WHERE doc_id < 20 ORDER BY doc_id""".stripMargin
    val duck = spark_
      .replace("CAST(instr(text, 'spark') AS BIGINT)", "CAST(strpos(text, 'spark') AS BIGINT)")
      .replace("startswith(text, 'key')", "starts_with(text, 'key')")
      .replace("endswith(text, 'sort')", "ends_with(text, 'sort')")
    e("q33_string_fns", duck) { (s, dir) => s.sql(spark_) }
  }

  private val q34RegexFns = {
    val spark_ =
      """SELECT doc_id,
        |  regexp_extract(text, '([a-z]+) ([a-z]+)', 2) AS second_word,
        |  CAST(size(regexp_extract_all(text, 'spark', 0)) AS BIGINT) AS n_spark,
        |  regexp_replace(substr(text, 1, 30), '[aeiou]', '_') AS devoweled,
        |  text RLIKE 'spark.*join' AS has_sj,
        |  regexp_like(lang, '^[a-z]{2}$') AS lang_ok
        |FROM documents WHERE doc_id < 20 ORDER BY doc_id""".stripMargin
    val duck =
      """SELECT doc_id,
        |  regexp_extract(text, '([a-z]+) ([a-z]+)', 2) AS second_word,
        |  len(regexp_extract_all(text, 'spark')) AS n_spark,
        |  regexp_replace(substr(text, 1, 30), '[aeiou]', '_', 'g') AS devoweled,
        |  regexp_matches(text, 'spark.*join') AS has_sj,
        |  regexp_matches(lang, '^[a-z]{2}$') AS lang_ok
        |FROM documents WHERE doc_id < 20 ORDER BY doc_id""".stripMargin
    e("q34_regex_fns", duck) { (s, dir) => s.sql(spark_) }
  }

  private val q35DatetimeFns = {
    val spark_ =
      """SELECT o_orderkey,
        |  CAST(year(o_orderdate) AS BIGINT) AS y, CAST(month(o_orderdate) AS BIGINT) AS m, CAST(day(o_orderdate) AS BIGINT) AS d,
        |  CAST(quarter(o_orderdate) AS BIGINT) AS q,
        |  CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
        |  last_day(CAST(o_orderdate AS DATE)) AS month_end,
        |  CAST(dayofweek(o_orderdate) - 1 AS BIGINT) AS dow0,
        |  CAST(o_orderdate + INTERVAL 5 DAY AS DATE) AS plus5,
        |  CAST(datediff(CAST(o_orderdate AS DATE), DATE '1995-01-01') AS BIGINT) AS days_since,
        |  date_format(o_orderdate, 'yyyy-MM') AS ym,
        |  CAST(unix_timestamp(o_orderdate) AS BIGINT) AS epoch_s,
        |  make_date(2020, month(o_orderdate), 15) AS md
        |FROM orders WHERE o_orderkey < 30 ORDER BY o_orderkey""".stripMargin
    val duck =
      """SELECT o_orderkey,
        |  year(o_orderdate) AS y, month(o_orderdate) AS m, day(o_orderdate) AS d,
        |  quarter(o_orderdate) AS q,
        |  CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
        |  last_day(CAST(o_orderdate AS DATE)) AS month_end,
        |  dayofweek(o_orderdate) AS dow0,
        |  CAST(o_orderdate + INTERVAL 5 DAY AS DATE) AS plus5,
        |  date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS days_since,
        |  strftime(o_orderdate, '%Y-%m') AS ym,
        |  CAST(epoch(o_orderdate) AS BIGINT) AS epoch_s,
        |  make_date(2020, month(o_orderdate), 15) AS md
        |FROM orders WHERE o_orderkey < 30 ORDER BY o_orderkey""".stripMargin
    e("q35_datetime_fns", duck) { (s, dir) => s.sql(spark_) }
  }

  private val q36MathFns = {
    val spark_ =
      """SELECT l_orderkey, l_linenumber,
        |  abs(l_quantity - 25.0) AS absq,
        |  CAST(floor(l_extendedprice / 1000.0) AS BIGINT) AS fl,
        |  CAST(ceil(l_extendedprice / 1000.0) AS BIGINT) AS ce,
        |  CAST(round(l_extendedprice, -2) AS DOUBLE) AS r100,
        |  round(sqrt(l_quantity), 6) AS sq,
        |  l_orderkey % 7 AS m7,
        |  CAST(sign(l_quantity - 25.0) AS INT) AS sg,
        |  CAST(factorial(CAST(l_linenumber AS INT)) AS BIGINT) AS fact,
        |  round(ln(l_extendedprice), 6) AS lnp,
        |  round(log10(l_extendedprice), 6) AS lgp,
        |  round(exp(l_discount), 6) AS expd,
        |  round(power(l_linenumber, 2), 6) AS pw,
        |  CAST(gcd(l_orderkey, 12) AS BIGINT) AS g12,
        |  CAST(lcm(l_linenumber, 4) AS BIGINT) AS l4,
        |  round(pi(), 6) AS pi6
        |FROM lineitem WHERE l_orderkey < 20 ORDER BY l_orderkey, l_linenumber""".stripMargin
    val duck = spark_.replace("factorial(CAST(l_linenumber AS INT))", "factorial(l_linenumber)")
    e("q36_math_fns", duck) { (s, dir) => s.sql(spark_) }
  }

  private val q37Crypto = {
    val spark_ =
      """SELECT doc_id,
        |  md5(text) AS text_md5,
        |  sha2(text, 256) AS text_sha256,
        |  lower(hex(lang)) AS lang_hex,
        |  base64(CAST(lang AS BINARY)) AS lang_b64
        |FROM documents WHERE doc_id < 10 ORDER BY doc_id""".stripMargin
    val duck =
      """SELECT doc_id,
        |  md5(text) AS text_md5,
        |  sha256(text) AS text_sha256,
        |  lower(hex(lang)) AS lang_hex,
        |  to_base64(CAST(lang AS BLOB)) AS lang_b64
        |FROM documents WHERE doc_id < 10 ORDER BY doc_id""".stripMargin
    e("q37_crypto_encoding", duck) { (s, dir) => s.sql(spark_) }
  }

  private val q38Conditional = {
    val spark_ =
      """SELECT o_orderkey,
        |  nvl(NULLIF(o_orderstatus, 'O'), 'open') AS status_or_open,
        |  nvl2(NULLIF(o_orderstatus, 'O'), 'closed', 'open') AS nvl2_status,
        |  if(o_totalprice > 200000, 'big', 'small') AS size_class,
        |  coalesce(NULLIF(o_orderpriority, '1-URGENT'), 'URGENT!') AS prio
        |FROM orders WHERE o_orderkey < 30 ORDER BY o_orderkey""".stripMargin
    val duck =
      """SELECT o_orderkey,
        |  ifnull(NULLIF(o_orderstatus, 'O'), 'open') AS status_or_open,
        |  CASE WHEN NULLIF(o_orderstatus, 'O') IS NOT NULL THEN 'closed' ELSE 'open' END AS nvl2_status,
        |  CASE WHEN o_totalprice > 200000 THEN 'big' ELSE 'small' END AS size_class,
        |  coalesce(NULLIF(o_orderpriority, '1-URGENT'), 'URGENT!') AS prio
        |FROM orders WHERE o_orderkey < 30 ORDER BY o_orderkey""".stripMargin
    e("q38_conditional_fns", duck) { (s, dir) => s.sql(spark_) }
  }

  /** Array/nested inventory (SURVEY §2.7 nested family) over real vectors.
    * List-typed columns are serialized to strings in the final SELECT: the
    * driver's pandas row-sorter can't hash ndarray cells. Float elements go
    * through DECIMAL(12,6) first — fixed-scale rendering on both engines,
    * and double→decimal ties round half-up on both. */
  private val q39ArrayFns = {
    val spark_ =
      """SELECT vec_id,
        |  CAST(size(embedding) AS BIGINT) AS n,
        |  CAST(element_at(embedding, 1) AS DOUBLE) AS first_v,
        |  CAST(element_at(embedding, -1) AS DOUBLE) AS last_v,
        |  CAST(array_max(embedding) AS DOUBLE) AS vmax,
        |  CAST(array_min(embedding) AS DOUBLE) AS vmin,
        |  CAST(size(array_distinct(embedding)) AS BIGINT) AS n_uniq,
        |  array_join(transform(slice(embedding, 1, 3), x -> CAST(CAST(x AS DECIMAL(12,6)) AS STRING)), ',') AS head3,
        |  array_join(transform(reverse(slice(embedding, 1, 3)), x -> CAST(CAST(x AS DECIMAL(12,6)) AS STRING)), ',') AS head3_rev,
        |  array_join(transform(array_sort(slice(embedding, 1, 3)), x -> CAST(CAST(x AS DECIMAL(12,6)) AS STRING)), ',') AS head3_sorted,
        |  array_join(CAST(sequence(1L, 4L) AS ARRAY<STRING>), ',') AS seq4,
        |  array_join(CAST(flatten(array(sequence(1L, 2L), sequence(3L, 4L))) AS ARRAY<STRING>), ',') AS flat
        |FROM embeddings WHERE vec_id < 10 ORDER BY vec_id""".stripMargin
    val duck =
      """SELECT vec_id,
        |  len(embedding) AS n,
        |  CAST(embedding[1] AS DOUBLE) AS first_v,
        |  CAST(embedding[-1] AS DOUBLE) AS last_v,
        |  CAST(list_max(embedding) AS DOUBLE) AS vmax,
        |  CAST(list_min(embedding) AS DOUBLE) AS vmin,
        |  len(list_distinct(embedding)) AS n_uniq,
        |  array_to_string(list_transform(embedding[1:3], x -> CAST(CAST(x AS DECIMAL(12,6)) AS VARCHAR)), ',') AS head3,
        |  array_to_string(list_transform(list_reverse(embedding[1:3]), x -> CAST(CAST(x AS DECIMAL(12,6)) AS VARCHAR)), ',') AS head3_rev,
        |  array_to_string(list_transform(list_sort(embedding[1:3]), x -> CAST(CAST(x AS DECIMAL(12,6)) AS VARCHAR)), ',') AS head3_sorted,
        |  array_to_string(generate_series(1, 4), ',') AS seq4,
        |  array_to_string(flatten([generate_series(1, 2), generate_series(3, 4)]), ',') AS flat
        |FROM embeddings WHERE vec_id < 10 ORDER BY vec_id""".stripMargin
    e("q39_array_fns", duck) { (s, dir) => s.sql(spark_) }
  }

  /** Token statistics over documents (text-analysis building block). */
  private val q40Tokens = {
    val spark_ =
      """SELECT doc_id,
        |  CAST(size(split(text, ' ')) AS BIGINT) AS n_tokens,
        |  CAST(size(array_distinct(split(text, ' '))) AS BIGINT) AS n_uniq,
        |  round(CAST(size(array_distinct(split(text, ' '))) AS DOUBLE) / size(split(text, ' ')), 6) AS ttr,
        |  element_at(split(text, ' '), 1) AS first_tok,
        |  CAST(array_max(transform(split(text, ' '), w -> length(w))) AS BIGINT) AS max_tok_len,
        |  round(CAST(length(text) AS DOUBLE) / size(split(text, ' ')), 6) AS avg_tok_len
        |FROM documents WHERE doc_id < 50 ORDER BY doc_id""".stripMargin
    val duck =
      """SELECT doc_id,
        |  len(string_split(text, ' ')) AS n_tokens,
        |  len(list_distinct(string_split(text, ' '))) AS n_uniq,
        |  round(len(list_distinct(string_split(text, ' '))) * 1.0 / len(string_split(text, ' ')), 6) AS ttr,
        |  string_split(text, ' ')[1] AS first_tok,
        |  list_max(list_transform(string_split(text, ' '), w -> length(w))) AS max_tok_len,
        |  round(length(text) * 1.0 / len(string_split(text, ' ')), 6) AS avg_tok_len
        |FROM documents WHERE doc_id < 50 ORDER BY doc_id""".stripMargin
    e("q40_token_stats", duck) { (s, dir) => s.sql(spark_) }
  }

  /** Event-time bucketing (streaming-adjacent batch query on the events
    * table; the Structured Streaming demo lives in the test suite). */
  private val q41EventBuckets = {
    val spark_ =
      """SELECT CAST(floor(unix_timestamp(ts) / 300) * 300 AS BIGINT) AS bucket,
        |  event_type, COUNT(*) AS n, COUNT(DISTINCT user_id) AS n_users,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY bucket, event_type
        |ORDER BY bucket, event_type LIMIT 60""".stripMargin
    val duck =
      """SELECT CAST(floor(epoch(ts) / 300) * 300 AS BIGINT) AS bucket,
        |  event_type, COUNT(*) AS n, COUNT(DISTINCT user_id) AS n_users,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY bucket, event_type
        |ORDER BY bucket, event_type LIMIT 60""".stripMargin
    e("q41_event_buckets", duck) { (s, dir) => s.sql(spark_) }
  }

  /** collect_set/string_agg + bit/bool aggregates (SURVEY §2.5 registry). */
  private val q42CollectAggs = {
    val spark_ =
      """SELECT o_orderstatus,
        |  concat_ws(',', sort_array(collect_set(o_orderpriority))) AS prios,
        |  bool_and(o_totalprice > 1000) AS all_over_1k,
        |  bool_or(o_orderpriority = '1-URGENT') AS any_urgent,
        |  CAST(bit_and(o_custkey) AS BIGINT) AS band,
        |  CAST(bit_or(o_custkey) AS BIGINT) AS bor,
        |  CAST(bit_xor(o_custkey) AS BIGINT) AS bxor,
        |  COUNT(*) AS n
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin
    val duck =
      """SELECT o_orderstatus,
        |  array_to_string(list_sort(list(DISTINCT o_orderpriority)), ',') AS prios,
        |  bool_and(o_totalprice > 1000) AS all_over_1k,
        |  bool_or(o_orderpriority = '1-URGENT') AS any_urgent,
        |  CAST(bit_and(o_custkey) AS BIGINT) AS band,
        |  CAST(bit_or(o_custkey) AS BIGINT) AS bor,
        |  CAST(bit_xor(o_custkey) AS BIGINT) AS bxor,
        |  COUNT(*) AS n
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin
    e("q42_collect_bit_aggs", duck) { (s, dir) => s.sql(spark_) }
  }

  val all: Seq[Entry] = Seq(
    q1Agg, q6Filter, q3JoinTopk,
    q4Sort, q5Join5way, q7Distinct, q8Union, q9Intersect, q10Except,
    q11Cross, q12SemiAnti, q13LeftJoin, q14FullOuter,
    q15WindowRank, q16WindowFrames, q17Rollup, q18Cube, q19GroupingSets,
    q20DistinctAgg, q21StatsAgg, q22Median, q23Case, q24InSubquery,
    q25ScalarSubquery, q26Cte, q27Values, q28Recursive, q29UnnestPos,
    q30Greatest, q31GreatestRef, q32GreatestWide,
    q33StringFns, q34RegexFns, q35DatetimeFns, q36MathFns, q37Crypto,
    q38Conditional, q39ArrayFns, q40Tokens, q41EventBuckets, q42CollectAggs)
}
