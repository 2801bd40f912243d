package graft

/** TPC-H adaptations beyond q1/q3/q5/q6 (SURVEY §5 translation: "TPC-H-ish
  * q1–q22 adaptation"; reference golden results at
  * `datafusion/sqllogictest/test_files/tpch/q*.slt.part`). The testdata
  * schema has no partsupp table and lineitem lacks
  * commitdate/receiptdate/shipmode, so 2, 9, 11, 12, 16, 17, 19, 20, 21,
  * 22 are adapted to the available columns (see each query's note) — with
  * that, all 22 shapes are covered. Shapes kept from the originals:
  * EXISTS decorrelation (4), two-sided nation-pair disjunction (7),
  * market-share ratio with FILTER aggregates (8), profit rollup (9),
  * returned-item top-k (10), fraction-of-total scalar subquery (11),
  * mode/priority FILTER counts (12), left-join count distribution (13),
  * promo ratio (14), scalar-subquery max (15), NOT IN + COUNT DISTINCT
  * (16), HAVING on a grouped sum (18), EXISTS + NOT EXISTS double
  * decorrelation (21). q2-style and q20-style shapes live in
  * `Extras` (tq2_min_cost_supplier, tq20_part_suppliers).
  *
  * Oracle determinism: the same SQL text runs on both engines; money math
  * is decimal-exact with explicit result types; ratios divide two exact
  * decimals as doubles and round; every ORDER BY ends in a unique key.
  */
object Tpch {
  import Queries.{Entry, e}

  private def same(name: String, sql: String): Entry =
    e(name, sql) { (s, _) => s.sql(sql) }

  private val dec = "CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(6,2)))"

  private val tq4 = same("tq4_order_priority",
    """SELECT o_orderpriority, COUNT(*) AS order_count
      |FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
      |  AND o_orderdate < TIMESTAMP '1996-10-01 00:00:00'
      |  AND EXISTS (SELECT 1 FROM lineitem
      |              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)

  private val tq7 = same("tq7_volume_shipping",
    s"""SELECT supp_nation, cust_nation, l_year,
       |  CAST(CAST(SUM(vol) AS DECIMAL(38,4)) AS DOUBLE) AS revenue
       |FROM (
       |  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       |    CAST(year(l_shipdate) AS BIGINT) AS l_year, $dec AS vol
       |  FROM supplier
       |  JOIN lineitem ON s_suppkey = l_suppkey
       |  JOIN orders ON o_orderkey = l_orderkey
       |  JOIN customer ON c_custkey = o_custkey
       |  JOIN nation n1 ON s_nationkey = n1.n_nationkey
       |  JOIN nation n2 ON c_nationkey = n2.n_nationkey
       |  WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
       |      OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
       |    AND l_shipdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
       |                       AND TIMESTAMP '1997-12-31 00:00:00') shipping
       |GROUP BY supp_nation, cust_nation, l_year
       |ORDER BY supp_nation, cust_nation, l_year""".stripMargin)

  private val tq8 = same("tq8_market_share",
    s"""SELECT o_year,
       |  round(CAST(coalesce(CAST(SUM(volume) FILTER (WHERE nation = 'NATION_3') AS DECIMAL(38,4)),
       |                      CAST(0 AS DECIMAL(38,4))) AS DOUBLE)
       |        / CAST(CAST(SUM(volume) AS DECIMAL(38,4)) AS DOUBLE), 6) AS mkt_share
       |FROM (
       |  SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year, $dec AS volume,
       |    n2.n_name AS nation
       |  FROM part
       |  JOIN lineitem ON p_partkey = l_partkey
       |  JOIN supplier ON s_suppkey = l_suppkey
       |  JOIN orders ON l_orderkey = o_orderkey
       |  JOIN customer ON o_custkey = c_custkey
       |  JOIN nation n1 ON c_nationkey = n1.n_nationkey
       |  JOIN region ON n1.n_regionkey = r_regionkey
       |  JOIN nation n2 ON s_nationkey = n2.n_nationkey
       |  WHERE r_name = 'EUROPE' AND p_type = 'PROMO'
       |    AND o_orderdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
       |                        AND TIMESTAMP '1997-12-31 00:00:00') all_nations
       |GROUP BY o_year ORDER BY o_year""".stripMargin)

  private val tq10 = same("tq10_returned_items",
    s"""SELECT c_custkey, c_name,
       |  CAST(CAST(SUM($dec) AS DECIMAL(38,4)) AS DOUBLE) AS revenue,
       |  n_name
       |FROM customer
       |JOIN orders ON c_custkey = o_custkey
       |JOIN lineitem ON l_orderkey = o_orderkey
       |JOIN nation ON c_nationkey = n_nationkey
       |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
       |  AND o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
       |  AND l_returnflag = 'R'
       |GROUP BY c_custkey, c_name, n_name
       |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin)

  private val tq13 = same("tq13_customer_distribution",
    """SELECT c_count, COUNT(*) AS custdist
      |FROM (
      |  SELECT c_custkey, COUNT(o_orderkey) AS c_count
      |  FROM customer LEFT JOIN orders
      |    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      |  GROUP BY c_custkey) c_orders
      |GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin)

  private val tq14 = same("tq14_promo_revenue",
    s"""SELECT
       |  round(100.0 * CAST(coalesce(CAST(SUM(disc_price) FILTER (WHERE p_type = 'PROMO') AS DECIMAL(38,4)),
       |                              CAST(0 AS DECIMAL(38,4))) AS DOUBLE)
       |        / CAST(CAST(SUM(disc_price) AS DECIMAL(38,4)) AS DOUBLE), 6) AS promo_revenue
       |FROM (
       |  SELECT p_type, $dec AS disc_price
       |  FROM lineitem JOIN part ON l_partkey = p_partkey
       |  WHERE l_shipdate >= TIMESTAMP '1996-09-01 00:00:00'
       |    AND l_shipdate < TIMESTAMP '1996-10-01 00:00:00') t""".stripMargin)

  /** Spark side materializes the revenue CTE once (round 17, guide §2.4):
    * it is referenced from the FROM clause AND the scalar-max subquery,
    * and Catalyst inlines multi-reference CTEs — the plan scanned and
    * aggregated lineitem TWICE (plan-verified, 2 lineitem scans in
    * `plans/r17/tq15_top_supplier_before.txt`). One checkpoint of the
    * supplier-level aggregate (bounded by |suppliers|) feeds both
    * references; the DuckDB oracle string keeps the original CTE shape
    * and the output is the same relation either way. */
  private val tq15 = {
    val revenue =
      s"""SELECT l_suppkey AS supplier_no,
         |  CAST(SUM($dec) AS DECIMAL(38,4)) AS total_revenue
         |FROM lineitem
         |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
         |  AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
         |GROUP BY l_suppkey""".stripMargin
    e("tq15_top_supplier",
      s"""WITH revenue AS (
         |  SELECT l_suppkey AS supplier_no,
         |    CAST(SUM($dec) AS DECIMAL(38,4)) AS total_revenue
         |  FROM lineitem
         |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
         |    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
         |  GROUP BY l_suppkey)
         |SELECT s_suppkey, s_name, CAST(total_revenue AS DOUBLE) AS total_revenue
         |FROM supplier JOIN revenue ON s_suppkey = supplier_no
         |WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
         |ORDER BY s_suppkey""".stripMargin) { (s, _) =>
      Engine.ckptView(s.sql(revenue), "tq15_rev")
      s.sql(
        """SELECT s_suppkey, s_name, CAST(total_revenue AS DOUBLE) AS total_revenue
          |FROM supplier JOIN tq15_rev ON s_suppkey = supplier_no
          |WHERE total_revenue = (SELECT max(total_revenue) FROM tq15_rev)
          |ORDER BY s_suppkey""".stripMargin)
    }
  }

  /** Spark side restructured round 17 (guide §2.3 "aggregate before you
    * shuffle"): the original join-then-aggregate shape shuffles every
    * joined lineitem row (carrying c_name/o_orderdate/o_totalprice) into
    * a 5-key aggregate; aggregating lineitem by l_orderkey FIRST sends
    * only (orderkey, decimal sum) through the exchange — map-side partial
    * aggregation collapses the fact table before any wide column is
    * attached — and the HAVING filter then prunes the orders/customer
    * join to the qualifying orders only. Equivalence (oracle-checked, the
    * DuckDB string keeps the original shape): o_orderkey is unique in
    * orders and c_custkey unique in customer, so the original's 5-column
    * group keys are functionally determined by l_orderkey and every group
    * is exactly one order; both shapes drop lineitems without a matching
    * order/customer via the same inner joins; the decimal SUM is exact
    * (order-insensitive), so HAVING and the emitted double are
    * bit-identical. */
  private val tq18 = e("tq18_large_orders",
    """SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      |FROM customer
      |JOIN orders ON c_custkey = o_custkey
      |JOIN lineitem ON o_orderkey = l_orderkey
      |GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
      |HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 200
      |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin) { (s, _) =>
    s.sql(
      """WITH lq AS (
        |  SELECT l_orderkey, SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sq
        |  FROM lineitem GROUP BY l_orderkey
        |  HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 200)
        |SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
        |  CAST(sq AS DOUBLE) AS sum_qty
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lq ON o_orderkey = l_orderkey
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin)
  }

  /** q17 adapted (no p_container → brand-only filter): correlated scalar
    * aggregate subquery per part. The 0.2·avg threshold is exact: the avg
    * divides an exact sum of integer-valued doubles by a count, then
    * scales — identical arithmetic on both engines. */
  /** Spark side computes the per-part avg as a WINDOW over the same join
    * (round 17, guide §2.4): the decorrelated subquery plan scanned
    * lineitem TWICE (outer join + per-part aggregate, plan-verified in
    * `plans/r17/tq17_small_quantity_before.txt`) and its avg-by-partkey
    * join side scales with |parts| — never broadcastable at real scale.
    * Equivalence: the subquery correlates on p_partkey alone and p_brand
    * is a part attribute, so "all lineitems of this part" is exactly the
    * window partition over the brand-filtered join; avg sums
    * integer-valued l_quantity doubles (exact in any order), so the
    * threshold is bit-identical. R17SqlAb result-equality gate + oracle
    * exact; DuckDB string keeps the correlated form. */
  private val tq17 = e("tq17_small_quantity",
    """SELECT round(CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS DOUBLE) / 7.0, 4) AS avg_yearly
      |FROM lineitem JOIN part ON p_partkey = l_partkey
      |WHERE p_brand = 'Brand#1'
      |  AND l_quantity < (SELECT 0.2 * avg(l_quantity) FROM lineitem l2
      |                    WHERE l2.l_partkey = part.p_partkey)""".stripMargin) { (s, _) =>
    s.sql(
      """SELECT round(CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS DOUBLE) / 7.0, 4) AS avg_yearly
        |FROM (
        |  SELECT l_extendedprice, l_quantity,
        |    avg(l_quantity) OVER (PARTITION BY p_partkey) AS avg_qty
        |  FROM lineitem JOIN part ON p_partkey = l_partkey
        |  WHERE p_brand = 'Brand#1') t
        |WHERE l_quantity < 0.2 * avg_qty""".stripMargin)
  }

  /** q19 adapted (no p_container/shipmode → brand/size/quantity predicate
    * groups): the disjunction of conjunctions that exercises the
    * OR-predicate join-key extraction rewrite. */
  private val tq19 = same("tq19_discounted_revenue",
    s"""SELECT CAST(CAST(SUM($dec) AS DECIMAL(38,4)) AS DOUBLE) AS revenue
       |FROM lineitem JOIN part ON p_partkey = l_partkey
       |WHERE
       |  (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
       |    AND l_quantity >= 1 AND l_quantity <= 11)
       |  OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25
       |    AND l_quantity >= 10 AND l_quantity <= 20)
       |  OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35
       |    AND l_quantity >= 20 AND l_quantity <= 30)""".stripMargin)

  /** q22 adapted (no c_phone → cntrycode from the nation key): NOT EXISTS
    * anti-join + scalar-aggregate threshold. The threshold avoids
    * float-sum order sensitivity by dividing an exact decimal sum (the
    * q1 avgOf pattern). */
  private val tq22 = same("tq22_global_sales_opportunity",
    """WITH avg_bal AS (
      |  SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS v
      |  FROM customer WHERE c_acctbal > 0 AND c_nationkey % 10 < 5)
      |SELECT cntrycode, COUNT(*) AS numcust,
      |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
      |FROM (
      |  SELECT CAST(c_nationkey % 10 AS BIGINT) AS cntrycode, c_acctbal
      |  FROM customer
      |  WHERE c_nationkey % 10 < 5
      |    AND c_acctbal > (SELECT v FROM avg_bal)
      |    AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
      |                    AND o_orderpriority = '1-URGENT')) custsale
      |GROUP BY cntrycode ORDER BY cntrycode""".stripMargin)

  /** q9 adapted (no partsupp → cost proxied by p_retailprice × quantity):
    * keeps the 5-way join, part-name LIKE filter, and nation/year profit
    * rollup. l_quantity is integer-valued so the cost term is scale-2
    * exact; amount stays scale-4 with no scale reduction at the final
    * cast, so no rounding-mode divergence can appear. */
  private val tq9 = same("tq9_product_profit",
    s"""SELECT nation, o_year, CAST(CAST(SUM(amount) AS DECIMAL(38,4)) AS DOUBLE) AS sum_profit
       |FROM (
       |  SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
       |    $dec - CAST(p_retailprice AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,0)) AS amount
       |  FROM part
       |  JOIN lineitem ON p_partkey = l_partkey
       |  JOIN supplier ON s_suppkey = l_suppkey
       |  JOIN orders ON o_orderkey = l_orderkey
       |  JOIN nation ON s_nationkey = n_nationkey
       |  WHERE p_name LIKE '%red%') profit
       |GROUP BY nation, o_year
       |ORDER BY nation, o_year DESC""".stripMargin)

  /** q11 adapted (no partsupp → part value from lineitem line value for a
    * nation's suppliers): keeps the defining shape — a grouped aggregate
    * filtered by a scalar subquery computing a FRACTION OF THE SAME
    * AGGREGATE's total. Money math is decimal-exact; the threshold divides
    * via double on both sides of an identically-computed exact sum. The
    * original's FRACTION (0.0001/SF) shrinks with scale factor; 1.5× the
    * mean part value is the scale-free equivalent, so the query returns a
    * stable share of parts at every SF instead of draining to zero. */
  /** Spark side materializes value_by_part once (round 17, guide §2.4 —
    * same fix as tq15): the CTE is referenced from the FROM clause AND
    * the fraction-of-total scalar subquery, and the inlined plan scanned
    * and aggregated the lineitem⋈supplier⋈nation join TWICE
    * (plan-verified, 2 lineitem scans in
    * `plans/r17/tq11_important_parts_before.txt`). The checkpoint is the
    * per-part aggregate, bounded by |parts|; oracle string unchanged. */
  private val tq11 = {
    val vbp =
      """SELECT l_partkey AS p_partkey,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,0))) AS DECIMAL(38,2)) AS pvalue
        |FROM lineitem
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |WHERE n_name = 'NATION_1'
        |GROUP BY l_partkey""".stripMargin
    e("tq11_important_parts",
      """WITH value_by_part AS (
        |  SELECT l_partkey AS p_partkey,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,0))) AS DECIMAL(38,2)) AS pvalue
        |  FROM lineitem
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  WHERE n_name = 'NATION_1'
        |  GROUP BY l_partkey)
        |SELECT p_partkey, CAST(pvalue AS DOUBLE) AS part_value
        |FROM value_by_part
        |WHERE CAST(pvalue AS DOUBLE) > (SELECT CAST(SUM(pvalue) AS DOUBLE) * 1.5 / COUNT(*) FROM value_by_part)
        |ORDER BY part_value DESC, p_partkey""".stripMargin) { (s, _) =>
      Engine.ckptView(s.sql(vbp), "tq11_vbp")
      s.sql(
        """SELECT p_partkey, CAST(pvalue AS DOUBLE) AS part_value
          |FROM tq11_vbp
          |WHERE CAST(pvalue AS DOUBLE) > (SELECT CAST(SUM(pvalue) AS DOUBLE) * 1.5 / COUNT(*) FROM tq11_vbp)
          |ORDER BY part_value DESC, p_partkey""".stripMargin)
    }
  }

  /** q12 adapted (no l_shipmode/commitdate/receiptdate → mode derived
    * deterministically from l_linenumber; "late" = shipped >45 days after
    * order date): keeps the priority-classified FILTER counts per mode. */
  private val tq12 = same("tq12_shipping_modes",
    """SELECT ship_mode,
      |  COUNT(*) FILTER (WHERE o_orderpriority IN ('1-URGENT','2-HIGH')) AS high_line_count,
      |  COUNT(*) FILTER (WHERE o_orderpriority NOT IN ('1-URGENT','2-HIGH')) AS low_line_count
      |FROM (
      |  SELECT CASE WHEN l_linenumber % 3 = 0 THEN 'MAIL'
      |              WHEN l_linenumber % 3 = 1 THEN 'SHIP'
      |              ELSE 'TRUCK' END AS ship_mode,
      |    o_orderpriority, l_shipdate, o_orderdate
      |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey) t
      |WHERE ship_mode IN ('MAIL','SHIP')
      |  AND l_shipdate > o_orderdate + INTERVAL 45 DAY
      |  AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      |GROUP BY ship_mode ORDER BY ship_mode""".stripMargin)

  /** q21 adapted ("kept waiting" = shipped >60 days after order date; no
    * receipt/commit dates): keeps the defining shape — a multi-join probe
    * with BOTH a correlated EXISTS (another supplier contributed to the
    * order) and a correlated NOT EXISTS (no OTHER supplier was late on
    * it), i.e. the only-this-supplier-was-late semi/anti pair. The late
    * set is a CTE joining lineitem to orders so the correlation stays
    * equi-key (portable to both planners); F-status restricts to finished
    * orders as in the original. */
  private val tq21 = {
    // Shared shape for both engines; `hint` carries a Spark-only join
    // hint into the EXISTS subquery (DuckDB never sees it — the oracle
    // string passes hint = ""). MERGE(l2): the semi join's build side is
    // the FULL lineitem projection, which Spark's estimator judged
    // broadcastable at sf0.01/sf0.1 (~600k rows — measured 0.5-2.5 s of
    // driver build time with heavy variance, 3× run-to-run at sf0.1) and
    // which can never be broadcast at real scale. As a sort-merge join it
    // shares the l_orderkey exchange+sort with the NOT EXISTS anti join
    // directly above it (guide §2.4: same-key joins share one exchange),
    // so the broadcast build disappears without adding a shuffle.
    def q(hint: String) =
      s"""WITH late AS (
         |  SELECT l3.l_orderkey, l3.l_suppkey
         |  FROM lineitem l3 JOIN orders o2 ON l3.l_orderkey = o2.o_orderkey
         |  WHERE l3.l_shipdate > o2.o_orderdate + INTERVAL 60 DAY)
         |SELECT s_name, COUNT(*) AS numwait
         |FROM supplier
         |JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
         |JOIN orders ON o_orderkey = l1.l_orderkey
         |JOIN nation ON s_nationkey = n_nationkey
         |WHERE o_orderstatus = 'F'
         |  AND n_name IN ('NATION_1', 'NATION_2')
         |  AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
         |  AND EXISTS (SELECT $hint 1 FROM lineitem l2
         |              WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
         |  AND NOT EXISTS (SELECT 1 FROM late
         |                  WHERE late.l_orderkey = l1.l_orderkey AND late.l_suppkey <> l1.l_suppkey)
         |GROUP BY s_name
         |ORDER BY numwait DESC, s_name LIMIT 100""".stripMargin
    e("tq21_suppliers_kept_waiting", q("")) { (s, _) => s.sql(q("/*+ MERGE(l2) */")) }
  }

  /** q16 adapted (lineitem as the part↔supplier link; no p_container):
    * NOT IN anti-join against a filtered supplier set + COUNT(DISTINCT)
    * per group. */
  private val tq16 = same("tq16_supplier_count",
    """SELECT p_brand, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
      |FROM part JOIN lineitem ON p_partkey = l_partkey
      |WHERE p_brand <> 'Brand#1' AND p_size IN (5, 10, 15, 20)
      |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_name LIKE '%7%')
      |GROUP BY p_brand, p_size
      |ORDER BY supplier_cnt DESC, p_brand, p_size""".stripMargin)

  val all: Seq[Entry] = Seq(tq4, tq7, tq8, tq9, tq10, tq11, tq12, tq13,
    tq14, tq15, tq16, tq17, tq18, tq19, tq21, tq22)
}
