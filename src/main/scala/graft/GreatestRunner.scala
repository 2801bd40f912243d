package graft

import java.sql.{Date, Timestamp}
import java.time.{Instant, LocalDate, LocalDateTime}

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkException
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** Dynamic-typed `greatest` over plain Scala sequences — the Scala analogue
  * of the reference Python binding `greatest.run_greatest(list[list]) -> list`
  * (reference `src/lib.rs:57-400`): per-value type inference (lib.rs:12-28),
  * arity ≥ 2 (lib.rs:59-63), all-null fast path (lib.rs:84-88), common-type
  * cast, kernel call. Here the "kernel" is a local DataFrame + the
  * [[GreatestRef]] expression — one code path for SQL, Column and dynamic use.
  */
object GreatestRunner {

  private def typeOfValue(v: Any): DataType = v match {
    case null                                   => NullType
    case _: Int | _: Long | _: Short | _: Byte  => LongType // python int → Int64 (lib.rs:17)
    case _: Double | _: Float                   => DoubleType // python float → Float64 (lib.rs:18)
    case _: Boolean                             => BooleanType
    case _: String                              => StringType
    case _: LocalDate | _: Date                 => DateType
    case _: Instant | _: Timestamp | _: LocalDateTime => TimestampType
    case other =>
      throw new SparkException(s"run_greatest: unsupported value type ${other.getClass.getName}")
  }

  private def normalize(v: Any, dt: DataType): Any = (v, dt) match {
    case (null, _)                 => null
    case (x: Int, LongType)        => x.toLong
    case (x: Short, LongType)      => x.toLong
    case (x: Byte, LongType)       => x.toLong
    case (x: Long, LongType)       => x
    case (x: Byte, DoubleType)     => x.toDouble
    case (x: Short, DoubleType)    => x.toDouble
    case (x: Int, DoubleType)      => x.toDouble
    case (x: Long, DoubleType)     => x.toDouble
    case (x: Float, DoubleType)    => x.toDouble
    case (x: Double, DoubleType)   => x
    case (x: LocalDate, DateType)  => Date.valueOf(x)
    case (x: Date, DateType)       => x
    case (x: Instant, TimestampType)       => Timestamp.from(x)
    case (x: LocalDateTime, TimestampType) => Timestamp.valueOf(x)
    case (x: Timestamp, TimestampType)     => x
    case (x, _)                    => x
  }

  def run(spark: SparkSession, columns: Seq[Seq[Any]]): Seq[Any] = {
    if (columns.size < 2)
      throw new SparkException(
        s"greatest should take at least 2 columns, got ${columns.size} (requires at least two arguments)")
    val n = columns.head.size
    require(columns.forall(_.size == n), "run_greatest: ragged column lengths")

    val colTypes = columns.map(c => c.map(typeOfValue).foldLeft(NullType: DataType)(GreatestRef.widen))
    val common = GreatestRef.commonType(colTypes)
    if (common == NullType) return Seq.fill(n)(null) // all-null fast path (lib.rs:84-88)

    val names = columns.indices.map(i => s"c$i")
    val schema = StructType(names.zip(colTypes).map { case (nm, dt) =>
      StructField(nm, if (dt == NullType) common else dt, nullable = true)
    })
    val rows: Seq[Row] = (0 until n).map { r =>
      Row.fromSeq(columns.indices.map(c => normalize(columns(c)(r), colTypes(c))))
    }
    functions.registerAll(spark)
    // a projection over a local relation keeps its input order, and the
    // optimizer folds it into the relation (ConvertToLocalRelation), so
    // no Spark job runs
    spark.createDataFrame(rows.asJava, schema)
      .select(functions.greatest_ref(names.map(col): _*).as("g"))
      .collect()
      .toSeq
      .map(_.get(0))
  }
}
