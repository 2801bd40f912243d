package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{ArrowSource, AvroSource, Queries}

/** The write ops of the `volume` workload: the Avro and Arrow round trips
  * of the contract entries q78 and q92 — graft's own sinks
  * (`AvroSource.write`, `ArrowSource.write`), then its DSv2 sources and an
  * aggregate — written into the benchmark's work area, because the entries
  * themselves write to a fixed scratch directory. Each op is checked
  * against the same aggregate computed straight from the parquet table. */
object Writes {
  val ops = Seq("avro_roundtrip", "arrow_roundtrip")

  private def avroAgg(df: DataFrame): DataFrame =
    df.groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast(DecimalType(18, 2))).cast(DoubleType).as("sum_price"),
        min(col("o_orderkey")).cast(LongType).as("min_key"))

  private def arrowAgg(df: DataFrame): DataFrame =
    df.groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast(DecimalType(18, 2))).cast(DoubleType).as("sum_price"),
        max(col("o_orderkey")).cast(LongType).as("max_key"))

  /** Writes the op's file set under `out` and returns the read-back
    * aggregate; the write runs inside the op's build step. */
  def query(s: SparkSession, dataDir: String, out: String, op: String): DataFrame = {
    val orders = Queries.T(s, dataDir, "orders")
    op match {
      case "avro_roundtrip" =>
        AvroSource.write(orders.select("o_orderkey", "o_orderstatus", "o_totalprice"), s"$out/avro")
        avroAgg(s.read.format("graft.AvroSource").load(s"$out/avro"))
      case "arrow_roundtrip" =>
        ArrowSource.write(orders.select("o_orderkey", "o_orderpriority", "o_totalprice"),
          s"$out/arrow", batchRows = 4096)
        arrowAgg(s.read.format("graft.ArrowSource").option("batchesPerSplit", 2).load(s"$out/arrow"))
    }
  }

  def expected(s: SparkSession, dataDir: String): Map[String, String] = {
    val orders = Queries.T(s, dataDir, "orders")
    Map("avro_roundtrip" -> Fingerprint.compute(avroAgg(orders))._2,
      "arrow_roundtrip" -> Fingerprint.compute(arrowAgg(orders))._2)
  }
}
