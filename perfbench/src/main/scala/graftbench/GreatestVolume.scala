package graftbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.jdk.CollectionConverters._

/** The GREATEST ops of the `volume` workload: row-wise GREATEST over generated
  * tables of INT, BIGINT and DOUBLE columns (column i has type i mod 3),
  * each value NULL with probability 0.1, each DOUBLE NaN with probability
  * 0.01, and 1% of rows NULL in every column.
  *
  * The tables are the same in every run (seed [[TableSeed]]) and are
  * written once per work directory together with their ops' expected
  * fingerprints, like the og10 corpus: writing and checking them takes
  * about 25 s in a cold JVM, a third of a run.
  *
  * Two tables, because past 100 columns (`spark.sql.codegen.maxFields`)
  * Spark stops fusing the scan and the projection into one generated
  * method: `narrow` (8 columns) carries the common arity, `wide` (128
  * columns) 64 and 128. The fixed cost of an op is about 0.3 s on 4 cores
  * (file listing, planning, two jobs); `wide`'s ops take about 2-5 times
  * that. At 8 columns a row costs so little that `narrow`'s ops stay near
  * the fixed cost. Every GREATEST op has a scan-only control reading the
  * same columns, so op time minus control time is the expression's own
  * cost. */
object GreatestVolume {
  val NarrowRows = 1000000L
  val WideRows = 512000L
  val RunnerRows = 2000

  def colName(i: Int): String = f"c$i%03d"

  /** Column i of a row: one seeded 64-bit hash of (row id, seed, i) gives
    * the NULL and NaN draws (its low bits) and the value (its high bits). */
  private def column(seed: Long, i: Int): org.apache.spark.sql.Column = {
    val h = xxhash64(col("id"), lit(seed), lit(i))
    val draw = pmod(h, lit(1000L))
    val v = pmod(shiftright(h, 10), lit(2000001L)) - 1000000L
    val value = i % 3 match {
      case 0 => v.cast(IntegerType)
      case 1 => v * 1000003L
      case _ => when(draw >= 990, lit(Double.NaN)).otherwise(v.cast(DoubleType) / 7.0)
    }
    when(col("all_null") || draw < 100, lit(null)).otherwise(value).as(colName(i))
  }

  val TableSeed = 0L
  private val Done = "_expected.tsv"

  /** Writes both tables under `dir` and computes their ops' expected
    * fingerprints, unless an earlier run did; returns the fingerprints. The
    * fingerprint file doubles as the completion marker. */
  def tables(spark: SparkSession, dir: String): Map[String, String] = {
    val done = java.nio.file.Paths.get(dir, Done)
    if (!java.nio.file.Files.exists(done)) {
      def table(rows: Long, cols: Int, name: String): Unit =
        spark.range(0, rows, 1, 4)
          .withColumn("all_null", pmod(xxhash64(col("id"), lit(TableSeed)), lit(100L)) === 0)
          .select((0 until cols).map(column(TableSeed, _)): _*)
          .write.mode("overwrite").parquet(s"$dir/$name")
      table(NarrowRows, 8, "narrow")
      table(WideRows, 128, "wide")
      val m = ops.groupBy(_._2).flatMap { case (t, tops) => expected(spark, s"$dir/$t", tops) }
      java.nio.file.Files.write(done, m.map { case (k, v) => s"$k\t$v" }.toSeq.asJava)
    }
    java.nio.file.Files.readAllLines(done).asScala.map(_.split("\t")).map(a => a(0) -> a(1)).toMap
  }

  /** (op name, table, arity, kind). Kind: scan = control, spark = Spark's
    * `greatest`, ref = graft's `greatest_ref`. */
  val ops: Seq[(String, String, Int, String)] = Seq(
    ("scan_8", "narrow", 8, "scan"),
    ("spark_greatest_8", "narrow", 8, "spark"),
    ("greatest_ref_8", "narrow", 8, "ref"),
    ("scan_64", "wide", 64, "scan"),
    ("greatest_ref_64", "wide", 64, "ref"),
    ("scan_128", "wide", 128, "scan"),
    ("greatest_ref_128", "wide", 128, "ref"))
  val runnerOp = "runner_run"

  private def args(arity: Int) = (0 until arity).map(i => col(colName(i)))

  /** The op's query: one value per row, so the fingerprint hashes every
    * GREATEST result. The control yields whether any argument is NULL,
    * which reads the same columns and skips the comparison. */
  def query(spark: SparkSession, path: String, arity: Int, kind: String): DataFrame = {
    val t = spark.read.parquet(path)
    kind match {
      case "scan"  => t.select(args(arity).map(_.isNull).reduce(_ || _).as("g"))
      case "spark" => t.select(greatest(args(arity): _*).as("g"))
      case _       => t.select(graft.functions.greatest_ref(args(arity): _*).as("g"))
    }
  }

  /** Reference semantics of GREATEST over numbers, written independently of
    * both engines: NULLs are skipped, the result is NULL only when every
    * argument is NULL, and NaN is above every number. */
  def reference(values: Seq[Any]): java.lang.Double = {
    val xs = values.collect {
      case i: Int => i.toDouble
      case l: Long => l.toDouble
      case d: Double => d
    }
    if (xs.isEmpty) null
    else if (xs.exists(_.isNaN)) Double.NaN
    else xs.max
  }

  /** Expected fingerprints of the ops `tops` on the table at `path`, from
    * [[reference]] in plain Scala UDFs: one job, with one UDF for the
    * controls and one for the GREATEST ops, each answering every arity from
    * one row. */
  private def expected(spark: SparkSession, path: String,
      tops: Seq[(String, String, Int, String)]): Map[String, String] = {
    val keys = tops.map { case (_, _, k, kind) => (k, kind == "scan") }.distinct
    val scans = keys.collect { case (k, true) => k }
    val refs = keys.collect { case (k, false) => k }
    val anyNull = udf((r: Row) => scans.map(k => (0 until k).exists(r.isNullAt)))
    val ref = udf((r: Row) => refs.map(k => reference(r.toSeq.take(k))))
    val row = struct(args(keys.map(_._1).max): _*)
    val answers = spark.read.parquet(path).select(anyNull(row).as("s"), ref(row).as("r"))
    val cols = keys.map { case (k, scan) =>
      if (scan) col("s")(scans.indexOf(k)) else col("r")(refs.indexOf(k))
    }
    val fps = Fingerprint.columns(answers.select(cols: _*))
    tops.map { case (n, _, k, kind) => n -> fps(keys.indexOf((k, kind == "scan"))) }.toMap
  }

  /** Driver-side columns for `GreatestRunner.run`: 8 lists of mixed Int,
    * Long, Double, NaN and null values. */
  def runnerInput(seed: Long): Seq[Seq[Any]] = {
    val rnd = new scala.util.Random(seed)
    (0 until 8).map { c =>
      (0 until RunnerRows).map { _ =>
        val x = rnd.nextInt(2000000) - 1000000
        if (rnd.nextDouble() < 0.1) null
        else c % 3 match {
          case 0 => x
          case 1 => x.toLong * 1000003L
          case _ => if (rnd.nextDouble() < 0.01) Double.NaN else x / 7.0
        }
      }
    }
  }

  /** Fingerprint of a runner result list: rows and the hash of its values
    * rendered as the fingerprint renders doubles. */
  def listFingerprint(xs: Seq[Any]): String = {
    val rendered = xs.map {
      case null => "null"
      case d: Double => "%.10g".format(d)
      case d: java.lang.Double => "%.10g".format(d.doubleValue)
      case other => other.toString
    }
    s"${xs.size}:${scala.util.hashing.MurmurHash3.seqHash(rendered)}"
  }
}
