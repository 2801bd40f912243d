package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Source/sink surface (SURVEY §2.2): CSV and JSON scans with options and
  * explicit schemas, write paths for parquet/csv/json, hive-style
  * partitioned writes with partition pruning on read-back, and the
  * struct/map scalar surface (SURVEY §2.7 core family).
  *
  * Round-trip queries prove BOTH directions: the sink writes real files
  * under [[Engine.tmpDir]], the source reads them back, and the oracle computes
  * the same aggregate straight from the original parquet — so any
  * write- or read-side corruption breaks the hash match.
  */
object Sources {
  import Queries.{Entry, T, e}

  /** CSV sink → CSV source (header, explicit schema) → aggregate. */
  private val csvRoundtrip = e("q56_csv_roundtrip",
    """SELECT l_returnflag, COUNT(*) AS n,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
    val out = Engine.scratchDir("csv", dir)
    T(s, dir, "lineitem")
      .select(col("l_returnflag"), col("l_quantity"), col("l_extendedprice"))
      .write.mode("overwrite").option("header", "true").csv(out)
    s.read
      .option("header", "true")
      .schema("l_returnflag STRING, l_quantity DOUBLE, l_extendedprice DOUBLE")
      .csv(out)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast(DecimalType(18, 2))).cast(DoubleType).as("sum_qty"),
        sum(col("l_extendedprice").cast(DecimalType(18, 2))).cast(DoubleType).as("sum_price"))
      .orderBy(col("l_returnflag"))
  }

  /** NDJSON sink → NDJSON source → aggregate (SURVEY §2.2 NdJsonExec row). */
  private val jsonRoundtrip = e("q57_json_roundtrip",
    """SELECT o_orderstatus, COUNT(*) AS n,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin) { (s, dir) =>
    val out = Engine.scratchDir("json", dir)
    T(s, dir, "orders")
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      .write.mode("overwrite").json(out)
    s.read
      .schema("o_orderkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE")
      .json(out)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast(DecimalType(18, 2))).cast(DoubleType).as("sum_price"))
      .orderBy(col("o_orderstatus"))
  }

  /** Hive-style partitioned parquet write; read-back filters one partition
    * value, so the scan prunes directories (PartitionFilters in the plan) —
    * the 100 TB layout pattern for any low-cardinality access column. */
  private val partitionedWrite = e("q58_partitioned_write_prune",
    """SELECT o_orderpriority, COUNT(*) AS n,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM orders WHERE o_orderstatus = 'F'
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin) { (s, dir) =>
    val out = Engine.scratchDir("part", dir)
    T(s, dir, "orders")
      .write.mode("overwrite").partitionBy("o_orderstatus").parquet(out)
    s.read.parquet(out)
      .filter(col("o_orderstatus") === "F") // → partition pruning, not a data scan
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast(DecimalType(18, 2))).cast(DoubleType).as("sum_price"))
      .orderBy(col("o_orderpriority"))
  }

  /** Avro sink → native DSv2 Avro source ([[AvroSource]]) → aggregate
    * (SURVEY §2.2 AvroExec row; reference `avro.rs:38`). The spark-avro
    * connector artifact is unavailable offline, so both directions run on
    * the avro-core container-file API: the sink writes one .avro file per
    * task, the scan plans one partition per file with column pruning
    * pushed into the reader. The oracle computes the same aggregate from
    * the original parquet, so corruption on either side breaks the hash. */
  private val avroRoundtrip = e("q78_avro_roundtrip",
    """SELECT o_orderstatus, COUNT(*) AS n,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
      |  CAST(MIN(o_orderkey) AS BIGINT) AS min_key
      |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin) { (s, dir) =>
    val out = Engine.scratchDir("avro", dir)
    AvroSource.write(
      T(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice")),
      out)
    s.read.format("graft.AvroSource").load(out)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast(DecimalType(18, 2))).cast(DoubleType).as("sum_price"),
        min(col("o_orderkey")).cast(LongType).as("min_key"))
      .orderBy(col("o_orderstatus"))
  }

  /** Arrow IPC sink → native DSv2 Arrow source ([[ArrowSource]]) →
    * aggregate (SURVEY §2.2 ArrowExec row, reference `arrow_file.rs:50` —
    * previously a sanctioned skip; implemented on the Arrow 18 vector/ipc
    * API bundled in Spark's own jars). The read takes the connector's
    * default split of 16 record batches of 4096 rows (og10's 150k rows make
    * 3 batch-range partitions): with smaller splits the partial aggregates
    * cost more than the read. ArrowSpec covers smaller splits. The oracle
    * computes the same aggregate from the original parquet. */
  private val arrowRoundtrip = e("q92_arrow_roundtrip",
    """SELECT o_orderpriority, COUNT(*) AS n,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
      |  CAST(MAX(o_orderkey) AS BIGINT) AS max_key
      |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin) { (s, dir) =>
    val out = Engine.scratchDir("arrow", dir)
    ArrowSource.write(
      T(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice")),
      out, batchRows = 4096)
    s.read.format("graft.ArrowSource").load(out)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast(DecimalType(18, 2))).cast(DoubleType).as("sum_price"),
        max(col("o_orderkey")).cast(LongType).as("max_key"))
      .orderBy(col("o_orderpriority"))
  }

  /** struct / map construction + field access (SURVEY §2.7 core family:
    * named_struct, struct, get_field, map, map_keys, map_values). */
  private val structMap = {
    val spark_ =
      """SELECT o_orderkey,
        |  st.status AS st_status, st.price AS st_price,
        |  element_at(m, 'prio') AS m_prio,
        |  array_join(map_keys(m), ',') AS m_keys,
        |  array_join(map_values(m), ',') AS m_vals,
        |  arr[1] AS arr_second
        |FROM (
        |  SELECT o_orderkey,
        |    named_struct('status', o_orderstatus, 'price', o_totalprice) AS st,
        |    map('status', o_orderstatus, 'prio', o_orderpriority) AS m,
        |    array(o_orderstatus, o_orderpriority) AS arr
        |  FROM orders WHERE o_orderkey < 30) t
        |ORDER BY o_orderkey""".stripMargin
    val duck =
      """SELECT o_orderkey,
        |  st.status AS st_status, st.price AS st_price,
        |  m['prio'][1] AS m_prio,
        |  array_to_string(map_keys(m), ',') AS m_keys,
        |  array_to_string(map_values(m), ',') AS m_vals,
        |  arr[2] AS arr_second
        |FROM (
        |  SELECT o_orderkey,
        |    struct_pack(status := o_orderstatus, price := o_totalprice) AS st,
        |    map(['status', 'prio'], [o_orderstatus, o_orderpriority]) AS m,
        |    [o_orderstatus, o_orderpriority] AS arr
        |  FROM orders WHERE o_orderkey < 30) t
        |ORDER BY o_orderkey""".stripMargin
    e("q59_struct_map", duck) { (s, _) => s.sql(spark_) }
  }

  /** Approximate aggregates (SURVEY §2.5: approx_distinct = HLL++,
    * approx_percentile = GK sketch). Sketch estimates are engine-specific,
    * so the cross-engine seam is a deterministic BOUNDS contract: each group
    * emits the exact values plus booleans asserting the sketch landed within
    * its error budget (HLL++ at rsd 0.01 bounded at 5% = 5 sigma; GK at
    * accuracy 10000 bounded at 5% of the exact median — both far beyond the
    * sketches' guarantees, so the booleans are stable-true on any data, yet
    * a broken sketch still flips them). DuckDB computes the same booleans
    * trivially from exact values; the exact columns anchor the hash. */
  private val approxAggs = {
    val duck =
      """SELECT o_orderstatus,
        |  COUNT(DISTINCT o_custkey) AS exact_cust,
        |  true AS acd_ok,
        |  true AS p50_ok
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin
    e("q60_approx_aggs", duck) { (s, _) =>
      // the sketches and COUNT(DISTINCT) are deliberately SEPARATE grouped
      // subqueries: mixing them in one aggregate makes Spark's distinct
      // rewrite carry every sketch's partial buffer (16 KB of HLL registers
      // at rsd 0.01, plus percentile summaries) per (status, custkey) partial
      // group — ~100k buffers at sf0.1, a measured 17 s; split, each agg is
      // one cheap shuffle and the join is 3 rows
      s.sql(
        """WITH e AS (
          |  SELECT o_orderstatus, COUNT(DISTINCT o_custkey) AS exact_cust
          |  FROM orders GROUP BY o_orderstatus),
          |a AS (
          |  SELECT o_orderstatus,
          |    approx_count_distinct(o_custkey, 0.01) AS acd,
          |    percentile_approx(o_totalprice, 0.5, 10000) AS p50a,
          |    percentile(o_totalprice, 0.5) AS p50e
          |  FROM orders GROUP BY o_orderstatus)
          |SELECT e.o_orderstatus, e.exact_cust,
          |  (abs(a.acd - e.exact_cust) <= 0.05 * e.exact_cust) AS acd_ok,
          |  (abs(a.p50a - a.p50e) <= 0.05 * a.p50e) AS p50_ok
          |FROM e JOIN a ON e.o_orderstatus = a.o_orderstatus
          |ORDER BY e.o_orderstatus""".stripMargin)
    }
  }

  val all: Seq[Entry] = Seq(csvRoundtrip, jsonRoundtrip, partitionedWrite,
    avroRoundtrip, arrowRoundtrip, structMap, approxAggs)
}
