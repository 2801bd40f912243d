package graft

import java.sql.{Date, Timestamp}
import java.time.LocalDate

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, typeof}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Port of the reference's 18 `greatest` unit tests + the PySpark
  * differential suite (FIXTURES.md §1; reference
  * `datafusion/functions-nested/src/greatest.rs:518-1135` and
  * `tests/greatest_test.py`). Here Spark's builtin IS the
  * behavioural oracle, so each case runs through `greatest_ref` and,
  * where Spark's own coercion admits the input, cross-checks against
  * builtin `greatest`.
  */
class GreatestSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Engine.session("local[4]")

  private def df(schema: StructType, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(rows.asJava, schema)

  private def gref(d: DataFrame): Seq[Any] = {
    functions.registerAll(spark)
    val cols = d.columns.map(col).toSeq
    d.select(functions.greatest_ref(cols: _*).as("g")).collect().toSeq.map(_.get(0))
  }

  private def schemaOf(fields: (String, DataType)*): StructType =
    StructType(fields.map { case (n, t) => StructField(n, t, nullable = true) })

  // rs:574-611 / py:96-109
  test("int columns with scattered nulls") {
    val d = df(schemaOf("c1" -> IntegerType, "c2" -> IntegerType, "c3" -> IntegerType), Seq(
      Row(1, 2, 7), Row(4, null, 5), Row(3, 6, null), Row(null, 8, 9)))
    assert(gref(d) == Seq(7, 5, 6, 9))
  }

  // rs:617-661 / py:135-148 — NaN greater than any number, NaN-sticky
  test("float NaN is greatest") {
    val d = df(schemaOf("c1" -> FloatType, "c2" -> FloatType, "c3" -> FloatType), Seq(
      Row(1.1f, null, 7.7f), Row(null, 5.5f, 8.8f), Row(3.3f, null, 9.9f),
      Row(Float.NaN, 2.2f, Float.NaN)))
    val got = gref(d).map(_.asInstanceOf[Float])
    assert(got.take(3) == Seq(7.7f, 8.8f, 9.9f))
    assert(got(3).isNaN)
  }

  // rs:665-702 / py:154-165
  test("infinities ordered normally") {
    val d = df(schemaOf("c1" -> FloatType, "c2" -> FloatType), Seq(
      Row(Float.NegativeInfinity, 0.0f), Row(1.0f, Float.PositiveInfinity), Row(2.0f, 1.5f)))
    assert(gref(d) == Seq(0.0f, Float.PositiveInfinity, 2.0f))
  }

  // rs:708-768 / py:172-201
  test("dates") {
    val d = df(schemaOf("c1" -> DateType, "c2" -> DateType), Seq(
      Row(Date.valueOf("2020-01-01"), Date.valueOf("2020-03-01")),
      Row(Date.valueOf("2020-06-01"), Date.valueOf("2020-05-01")),
      Row(null, Date.valueOf("2020-07-01"))))
    assert(gref(d) == Seq(
      Date.valueOf("2020-03-01"), Date.valueOf("2020-06-01"), Date.valueOf("2020-07-01")))
  }

  // rs:772-800
  test("timestamps") {
    val t = (s: String) => Timestamp.valueOf(s)
    val d = df(schemaOf("c1" -> TimestampType, "c2" -> TimestampType), Seq(
      Row(t("2020-01-01 12:00:00"), t("2020-03-01 15:30:00")),
      Row(t("2020-06-01 08:00:00"), t("2020-05-01 09:00:00")),
      Row(null, t("2020-07-01 00:00:01"))))
    assert(gref(d) == Seq(
      t("2020-03-01 15:30:00"), t("2020-06-01 08:00:00"), t("2020-07-01 00:00:01")))
  }

  // rs:806-876 / py:207-238 — byte-lexicographic order
  test("strings") {
    val d = df(schemaOf("c1" -> StringType, "c2" -> StringType, "c3" -> StringType), Seq(
      Row("apple", "avocado", "apricot"), Row("banana", "blueberry", "blackberry"),
      Row("cherry", "cranberry", null)))
    assert(gref(d) == Seq("avocado", "blueberry", "cranberry"))
  }

  // rs:882-902 / py:245-256 — true > false
  test("booleans") {
    val d = df(schemaOf("c1" -> BooleanType, "c2" -> BooleanType), Seq(
      Row(true, false), Row(false, true), Row(null, true)))
    assert(gref(d) == Seq(true, true, true))
  }

  // rs:908-925 / py:262-274 — nulls skipped, not propagated
  test("nulls skipped") {
    val d = df(schemaOf("c1" -> IntegerType, "c2" -> IntegerType, "c3" -> IntegerType), Seq(
      Row(null, null, null), Row(null, 2, null), Row(null, null, 3)))
    assert(gref(d) == Seq(null, 2, 3))
  }

  // rs:929-945 / py:280-291
  test("all nulls") {
    val d = df(schemaOf("c1" -> IntegerType, "c2" -> IntegerType), Seq(
      Row(null, null), Row(null, null), Row(null, null)))
    assert(gref(d) == Seq(null, null, null))
  }

  // rs:949-977 / py:297-307
  test("all NaN") {
    val d = df(schemaOf("c1" -> FloatType, "c2" -> FloatType), Seq(
      Row(Float.NaN, Float.NaN), Row(Float.NaN, Float.NaN)))
    assert(gref(d).forall(_.asInstanceOf[Float].isNaN))
  }

  // rs:983-1000 / py:314-325 — int ⊕ float → Float64 (reference divergence
  // from Spark's builtin, which widens to FloatType)
  test("mixed int/float coerces to double") {
    val d = df(schemaOf("c1" -> IntegerType, "c2" -> FloatType), Seq(
      Row(1, 4.0f), Row(2, 5.0f), Row(3, 6.0f)))
    val out = d.select(functions.greatest_ref(col("c1"), col("c2")).as("g"))
    assert(out.schema.head.dataType == DoubleType)
    assert(out.collect().toSeq.map(_.get(0)) == Seq(4.0d, 5.0d, 6.0d))
  }

  // rs:1004-1027 / py:331-343
  test("explicit coercion of casts") {
    val d = df(schemaOf("c1" -> IntegerType, "c2" -> DoubleType, "c3" -> DoubleType), Seq(
      Row(1, 4.4d, 7.7d), Row(2, 5.5d, 8.8d), Row(3, 6.6d, 9.9d)))
    assert(gref(d) == Seq(7.7d, 8.8d, 9.9d))
  }

  // rs:1034-1054 / py:350-362 — error substring contract
  test("incompatible types error") {
    val d = df(schemaOf("c1" -> IntegerType, "c2" -> StringType), Seq(Row(1, "a")))
    val ex = intercept[Exception] {
      d.select(functions.greatest_ref(col("c1"), col("c2"))).collect()
    }
    assert(ex.getMessage.contains("data type mismatch"))
  }

  // rs:1058-1070 / py:369-380
  test("arity one errors") {
    val d = df(schemaOf("c1" -> IntegerType), Seq(Row(1)))
    val ex = intercept[Exception] {
      d.select(functions.greatest_ref(col("c1"))).collect()
    }
    assert(ex.getMessage.contains("requires at least") ||
      ex.getMessage.contains("at least 2 columns"))
  }

  // rs:1074-1085 / py:387-419
  test("arity zero errors") {
    functions.registerAll(spark)
    val ex = intercept[Exception] { spark.sql("SELECT greatest_ref()").collect() }
    assert(ex.getMessage.contains("requires at least") ||
      ex.getMessage.contains("at least 2 columns"))
  }

  // py:426-450; rs stress 1091-1134 (1000/2000 args)
  test("wide arg lists (20 and 1000 columns)") {
    val n20 = 20
    val s20 = StructType((0 until n20).map(i => StructField(s"c$i", IntegerType, true)))
    val rows = (0 until 3).map(_ => Row.fromSeq(0 until n20))
    val d = df(s20, rows)
    assert(gref(d) == Seq(19, 19, 19))
    // reference stress: 1000 args (greatest.rs:1091). One row is enough to
    // prove the expression tree builds and evaluates.
    val n1k = 1000
    val s1k = StructType((0 until n1k).map(i => StructField(s"c$i", IntegerType, true)))
    val d1k = df(s1k, Seq(Row.fromSeq(0 until n1k)))
    assert(gref(d1k) == Seq(999))
  }

  // reference stress: 2000 args (greatest.rs:1115-1134) — 2× the codegen
  // depth of the 1000-arg case; proves the expression survives the 64KB
  // JVM method limit regime (Spark splits codegen or falls back; either
  // way evaluation must stay correct, incl. with nulls in the tail)
  test("wide arg list (2000 columns, reference greatest.rs:1115)") {
    val n = 2000
    val s = StructType((0 until n).map(i => StructField(s"c$i", IntegerType, true)))
    val rows = Seq(
      Row.fromSeq(0 until n),
      Row.fromSeq((0 until n).map(i => if (i % 2 == 0) null else i)),
      Row.fromSeq((0 until n).map(i => n - i)))
    val d = df(s, rows)
    assert(gref(d) == Seq(n - 1, n - 1, n))
  }

  // greatest.rs:91-94 — bool ⊕ numeric → Int64 (reference planner rule;
  // Spark's builtin raises DATATYPE_MISMATCH here)
  test("bool+numeric coerces to long (reference divergence)") {
    val d = df(schemaOf("c1" -> BooleanType, "c2" -> IntegerType), Seq(
      Row(true, 5), Row(false, 0), Row(true, -3)))
    val out = d.select(functions.greatest_ref(col("c1"), col("c2")).as("g"))
    assert(out.schema.head.dataType == LongType)
    assert(out.collect().toSeq.map(_.get(0)) == Seq(5L, 0L, 1L))
  }

  // date ⊕ timestamp → timestamp (greatest.rs:87-90)
  test("date+timestamp coerces to timestamp") {
    val d = df(schemaOf("c1" -> DateType, "c2" -> TimestampType), Seq(
      Row(Date.valueOf("2020-06-01"), Timestamp.valueOf("2020-03-01 15:30:00"))))
    val out = d.select(functions.greatest_ref(col("c1"), col("c2")).as("g"))
    assert(out.schema.head.dataType == TimestampType)
    assert(out.collect()(0).get(0) == Timestamp.valueOf("2020-06-01 00:00:00"))
  }

  // builtin cross-check on inputs Spark's own coercion accepts
  test("differential vs Spark builtin greatest") {
    val d = df(schemaOf("c1" -> IntegerType, "c2" -> IntegerType, "c3" -> IntegerType), Seq(
      Row(1, 2, 7), Row(4, null, 5), Row(3, 6, null), Row(null, 8, 9)))
    val ours = gref(d)
    val builtin = d.select(org.apache.spark.sql.functions
      .greatest(col("c1"), col("c2"), col("c3"))).collect().toSeq.map(_.get(0))
    assert(ours == builtin)
  }

  // python binding analogue (REF src/lib.rs:57-90)
  test("runGreatest dynamic typing") {
    assert(GreatestRunner.run(spark,
      Seq(Seq(1, 4, 3, null), Seq(2, null, 6, 8), Seq(7, 5, null, 9))) == Seq(7L, 5L, 6L, 9L))
    assert(GreatestRunner.run(spark,
      Seq(Seq(null, null), Seq(null, null))) == Seq(null, null))
    assert(GreatestRunner.run(spark,
      Seq(Seq(1, 2), Seq(1.5, 1.5))) == Seq(1.5d, 2.0d))
    // Short/Byte widening to the Float64-dominant type (regression: these
    // fell through normalize and put a Short into a DoubleType row)
    assert(GreatestRunner.run(spark,
      Seq(Seq[Any](1.toShort, 2.5), Seq[Any](3.0, 4.toByte))) == Seq(3.0d, 4.0d))
    assert(GreatestRunner.run(spark,
      Seq(Seq(LocalDate.of(2020, 1, 1)), Seq(LocalDate.of(2020, 3, 1)))) ==
      Seq(Date.valueOf("2020-03-01")))
    val ex = intercept[Exception] { GreatestRunner.run(spark, Seq(Seq(1))) }
    assert(ex.getMessage.contains("at least 2 columns"))
  }

  test("runGreatest on 2000 x 8 mixed values runs no Spark job and keeps input order") {
    val rnd = new scala.util.Random(15)
    val n = 2000
    val allNullRow = 1234
    // column c holds Ints (c % 3 == 0), Longs (1) or Doubles with NaN (2)
    val columns: Seq[Seq[Any]] = (0 until 8).map { c =>
      (0 until n).map { r =>
        val x = rnd.nextInt(2000000) - 1000000
        if (r == allNullRow || rnd.nextDouble() < 0.1) null
        else c % 3 match {
          case 0 => x
          case 1 => x.toLong * 1000003L
          case _ => if (rnd.nextDouble() < 0.02) Double.NaN else x / 7.0
        }
      }
    }
    val sc = spark.sparkContext
    val group = "greatest-runner-zero-jobs"
    sc.setJobGroup(group, "GreatestRunner.run")
    val got =
      try GreatestRunner.run(spark, columns)
      finally sc.clearJobGroup()
    assert(sc.statusTracker.getJobIdsForGroup(group).isEmpty, "the runner must not run a job")

    // the previous DataFrame path: an idx column, greatest_ref, orderBy(idx)
    val types = (0 until 8).map(c => if (c % 3 == 2) DoubleType else LongType)
    val schema = StructType(StructField("idx", LongType, nullable = false) +:
      types.zipWithIndex.map { case (t, c) => StructField(s"c$c", t, nullable = true) })
    val rows = (0 until n).map { r =>
      Row.fromSeq(r.toLong +: columns.map(_(r) match {
        case i: Int => i.toLong
        case v => v
      }))
    }
    functions.registerAll(spark)
    val names = (0 until 8).map(c => col(s"c$c"))
    val old = df(schema, rows).select(col("idx"), functions.greatest_ref(names: _*).as("g"))
      .orderBy(col("idx")).collect().toSeq.map(_.get(1))
    def same(a: Any, b: Any) = (a, b) match {
      case (x: Double, y: Double) => x.equals(y) // NaN equals NaN
      case _ => a == b
    }
    assert(got.size === n)
    assert(got.zip(old).forall { case (a, b) => same(a, b) })
    assert(got(allNullRow) == null)
    assert(got.exists { case d: Double => d.isNaN; case _ => false })
    // and an independent answer per row: nulls skipped, NaN greatest
    (0 until n).foreach { r =>
      val xs = columns.flatMap(c => Option(c(r))).map {
        case i: Int => i.toDouble
        case l: Long => l.toDouble
        case d: Double => d
      }
      val exp = if (xs.isEmpty) null else if (xs.exists(_.isNaN)) Double.NaN else xs.max
      assert(same(got(r), exp), s"row $r")
    }
  }
}
