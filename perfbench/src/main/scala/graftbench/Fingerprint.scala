package graftbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-independent fingerprint of a query result: `rows:sum` where `sum`
  * adds each row's xxhash64, reduced mod a prime so the sum cannot overflow
  * under ANSI arithmetic. Floating-point values are rendered to 10
  * significant digits first: a double aggregate may legitimately change its
  * last bits with the order in which partitions are merged, and that must
  * not read as a wrong answer. Maps are compared as their sorted entry
  * arrays because Spark refuses to hash a map.
  *
  * Computing the fingerprint is the timed action of every op: it evaluates
  * every output column of every row, like the noop sink `graft.Bench`
  * uses, and it lets every timed call be checked. */
object Fingerprint {
  private val Prime = 2147483647L

  private def hasFloat(dt: DataType): Boolean = dt match {
    case DoubleType | FloatType => true
    case ArrayType(et, _)       => hasFloat(et)
    case MapType(_, _, _)       => true
    case StructType(fs)         => fs.exists(f => hasFloat(f.dataType))
    case _                      => false
  }

  private def norm(c: Column, dt: DataType): Column = dt match {
    case DoubleType | FloatType => format_string("%.10g", c)
    case ArrayType(et, _) if hasFloat(et) => transform(c, x => norm(x, et))
    case MapType(kt, vt, _) =>
      norm(array_sort(map_entries(c)), ArrayType(StructType(Seq(
        StructField("key", kt), StructField("value", vt)))))
    case StructType(fs) if fs.exists(f => hasFloat(f.dataType)) =>
      when(c.isNull, lit(null)).otherwise(
        struct(fs.map(f => norm(c.getField(f.name), f.dataType).as(f.name)).toIndexedSeq: _*))
    case _ => c
  }

  /** The aggregate whose single row is the fingerprint. `exact` hashes
    * doubles as they are, for results that involve no floating-point
    * arithmetic whose order may vary. */
  def of(df: DataFrame, exact: Boolean = false): DataFrame = {
    // positional names: a join may return two columns of the same name
    val named = df.toDF(df.schema.fields.indices.map(i => s"c$i"): _*)
    val cols = named.schema.fields.toIndexedSeq.map(f => if (exact) col(f.name) else norm(col(f.name), f.dataType))
    val h = if (cols.isEmpty) lit(0L) else pmod(xxhash64(cols: _*), lit(Prime))
    named.agg(count(lit(1)).as("n"), sum(h).as("s"))
  }

  /** Exact fingerprint of each column of `df` as if it were a one-column
    * result, all in one job. */
  def columns(df: DataFrame): IndexedSeq[String] = {
    val named = df.toDF(df.schema.fields.indices.map(i => s"c$i"): _*)
    val sums = named.columns.toIndexedSeq.map(c => sum(pmod(xxhash64(col(c)), lit(Prime))))
    val r = named.agg(count(lit(1)), sums: _*).collect().head
    sums.indices.map(i => s"${r.getLong(0)}:${if (r.isNullAt(i + 1)) "null" else r.getLong(i + 1).toString}")
  }

  /** Runs the fingerprint job and renders it as `rows:sum`. */
  def compute(df: DataFrame, exact: Boolean = false): (Long, String) = {
    val r = of(df, exact).collect().head
    val n = r.getLong(0)
    (n, s"$n:${if (r.isNullAt(1)) "null" else r.getLong(1).toString}")
  }
}
