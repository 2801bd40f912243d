package graft

import scala.util.Try

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.{functions => F}

/** The engine's function surface beyond Spark built-ins.
  *
  * Mirrors the reference's function-registry deltas: the `greatest` UDF
  * registration (reference `datafusion/functions-nested/src/lib.rs:162`) and
  * the DataFusion-named functions a contract query may use that Spark spells
  * differently (SURVEY §2.7). Everything here is either a Catalyst expression
  * tree (codegen'd) or a SQL-bodied temp function — no opaque Scala UDFs, so
  * whole-stage codegen and pushdown keep working at 100 TB scale.
  */
object functions {

  /** Column-side `greatest_ref` (reference coercion matrix; see [[GreatestRef]]).
    * Routed through the FunctionRegistry (`call_function`) rather than built
    * eagerly: the builder needs resolved child dataTypes, which only the
    * analyzer can supply. Requires [[registerAll]] to have run on the session.
    */
  def greatest_ref(cols: Column*): Column =
    F.call_function("greatest_ref", cols: _*)

  /** dot(a, b) over array columns — the custom codegen'd [[DotProduct]]
    * expression (tight primitive loop; ~10× the higher-order-function
    * fold on 64-dim vectors). Requires [[registerAll]]. */
  def dot_product(a: Column, b: Column): Column =
    F.call_function("dot_product", a, b)

  def l2_norm(a: Column): Column = F.sqrt(dot_product(a, a))

  /** Euclidean distance ≙ DataFusion `array_distance`
    * (reference `datafusion/functions-nested/src/distance.rs`). */
  def array_distance(a: Column, b: Column): Column =
    F.sqrt(F.aggregate(
      F.zip_with(a, b, (x, y) => {
        val d = x.cast("double") - y.cast("double"); d * d
      }),
      F.lit(0.0d), (acc, v) => acc + v))

  def cosine_similarity(a: Column, b: Column): Column =
    dot_product(a, b) / (l2_norm(a) * l2_norm(b))

  /** SQL-bodied temp functions: DataFusion-named shims + array math for SQL
    * users (SQL UDFs are inlined by Catalyst → still codegen'd).
    */
  private val sqlShims = Seq(
    """CREATE OR REPLACE TEMPORARY FUNCTION array_distance(a ARRAY<DOUBLE>, b ARRAY<DOUBLE>)
       RETURNS DOUBLE
       RETURN sqrt(aggregate(zip_with(a, b, (x, y) -> (x - y) * (x - y)), CAST(0 AS DOUBLE), (acc, v) -> acc + v))""",
    """CREATE OR REPLACE TEMPORARY FUNCTION cosine_sim(a ARRAY<DOUBLE>, b ARRAY<DOUBLE>)
       RETURNS DOUBLE
       RETURN aggregate(zip_with(a, b, (x, y) -> x * y), CAST(0 AS DOUBLE), (acc, v) -> acc + v)
              / (sqrt(aggregate(zip_with(a, a, (x, y) -> x * y), CAST(0 AS DOUBLE), (acc, v) -> acc + v))
               * sqrt(aggregate(zip_with(b, b, (x, y) -> x * y), CAST(0 AS DOUBLE), (acc, v) -> acc + v)))""",
    // DataFusion names → Spark built-ins (SURVEY §2.7)
    """CREATE OR REPLACE TEMPORARY FUNCTION gen_series(a BIGINT, b BIGINT)
       RETURNS ARRAY<BIGINT> RETURN sequence(a, b)""",
    """CREATE OR REPLACE TEMPORARY FUNCTION to_unixtime(t TIMESTAMP)
       RETURNS BIGINT RETURN unix_timestamp(t)""",
    // DataFusion date_bin(stride, source, origin): floor to stride-sized
    // buckets anchored at origin (DF:functions/src/datetime/date_bin.rs)
    """CREATE OR REPLACE TEMPORARY FUNCTION date_bin(stride_sec BIGINT, t TIMESTAMP, origin TIMESTAMP)
       RETURNS TIMESTAMP
       RETURN timestamp_micros(CAST(floor((unix_micros(t) - unix_micros(origin))
                / (stride_sec * 1000000.0)) AS BIGINT) * stride_sec * 1000000 + unix_micros(origin))"""
  )

  /** Idempotent; safe on any session (ours or the driver's).
    *
    * Guarded on `weighted_median` — only this method registers it, so its
    * presence means a previous full registerAll already ran on this session
    * and re-registering would just spam "replaced a previously registered
    * function" warnings into every Verify/Bench/test log. */
  def registerAll(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    if (reg.functionExists(org.apache.spark.sql.catalyst.FunctionIdentifier("weighted_median")))
      return
    GraftExtensions.functions.foreach { case (name, builder) =>
      reg.createOrReplaceTempFunction(name, builder, "built-in")
    }
    // Typed Aggregator UDAF (SURVEY §2.8 AggregateUDFImpl surface).
    spark.udf.register("weighted_median",
      F.udaf(new WeightedPercentile(0.5), org.apache.spark.sql.Encoders.product[VW]))
    sqlShims.foreach { s =>
      Try(spark.sql(s)).failed.foreach(e => System.err.println(
        s"[graft] sql shim failed to register: ${e.getMessage.take(150)}"))
    }
  }
}
