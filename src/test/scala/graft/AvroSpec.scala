package graft

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Specs for the native DSv2 Avro source/sink ([[AvroSource]]): full-type
  * roundtrip with nulls, schema mapping in both directions, multi-file
  * parallel reads, and column pruning reaching the scan. */
class AvroSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Engine.session("local[4]")
  private def tmp(tag: String) = s"${Engine.tmpDir}/avro_spec_$tag"

  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("i", IntegerType, nullable = true),
    StructField("f", FloatType, nullable = true),
    StructField("d", DoubleType, nullable = true),
    StructField("b", BooleanType, nullable = true),
    StructField("s", StringType, nullable = true),
    StructField("bin", BinaryType, nullable = true)))

  private val rows = Seq(
    Row(1L, 7, 1.5f, 2.25, true, "alpha", Array[Byte](1, 2, 3)),
    Row(2L, null, null, null, null, null, null),
    Row(3L, -1, -0.5f, 1e100, false, "", Array.empty[Byte]))

  test("roundtrip preserves all supported types incl. nulls") {
    val out = tmp("types")
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), schema)
    AvroSource.write(df, out)
    val back = spark.read.format("graft.AvroSource").load(out)
    assert(back.schema.map(f => (f.name, f.dataType)) ===
      schema.map(f => (f.name, f.dataType)))
    val got = back.collect().sortBy(_.getLong(0))
    assert(got.length === 3)
    val r1 = got(0)
    assert(r1.getInt(1) === 7 && r1.getFloat(2) === 1.5f && r1.getString(5) === "alpha")
    assert(r1.getAs[Array[Byte]](6).toSeq === Seq[Byte](1, 2, 3))
    assert((1 until 7).forall(got(1).isNullAt))
    assert(got(2).getDouble(3) === 1e100)
  }

  test("one partition per file; overwrite clears stale parts") {
    val out = tmp("parts")
    val df = spark.range(1000).select(col("id"), (col("id") * 2).as("v"))
    AvroSource.write(df.repartition(4), out)
    assert(AvroSource.listFiles(out).size === 4)
    val back = spark.read.format("graft.AvroSource").load(out)
    assert(back.rdd.getNumPartitions === 4)
    assert(back.agg(sum("v")).head.getLong(0) === 999L * 1000)
    // second write with fewer partitions must not leave stale files behind
    AvroSource.write(df.repartition(2), out)
    assert(AvroSource.listFiles(out).size === 2)
    assert(spark.read.format("graft.AvroSource").load(out).count() === 1000)
  }

  test("sync-marker splitting: one big file fans out to many partitions, exactly-once rows") {
    val out = tmp("split")
    // one container file, many blocks (DataFileWriter flushes a block per
    // ~64k by default; 50k rows with a string pad ≫ several blocks)
    val df = spark.range(50000).select(col("id"),
      concat(lit("pad-pad-pad-pad-pad-pad-"), col("id")).as("pad"))
    AvroSource.write(df.coalesce(1), out)
    assert(AvroSource.listFiles(out).size === 1)
    val fileLen = AvroSource.listFiles(out).head.length()
    assert(fileLen > 256 * 1024, s"test file too small to split meaningfully: $fileLen")
    val back = spark.read.format("graft.AvroSource")
      .option("splitSize", 64 * 1024).load(out)
    assert(back.rdd.getNumPartitions > 1,
      s"a ${fileLen}B file at 64KB splitSize must plan multiple partitions")
    // exactly-once: no block lost at a range boundary, none read twice
    assert(back.count() === 50000)
    assert(back.agg(sum("id")).head.getLong(0) === 49999L * 50000 / 2)
    assert(back.select("id").distinct().count() === 50000)
  }

  test("default split: a small file stays whole, a ~1.8 MB file fans out over the cores") {
    assert(spark.sparkContext.defaultParallelism === 4, "the spec's session is local[4]")
    val small = tmp("split_small")
    AvroSource.write(spark.range(1000).select(col("id")).coalesce(1), small)
    assert(AvroSource.listFiles(small).head.length() < 256 * 1024)
    assert(spark.read.format("graft.AvroSource").load(small).rdd.getNumPartitions === 1)
    val out = tmp("split_default")
    val df = spark.range(50000).select(col("id"),
      concat(lit("pad-pad-pad-pad-pad-pad-"), col("id")).as("pad"))
    AvroSource.write(df.coalesce(1), out)
    val fileLen = AvroSource.listFiles(out).head.length()
    assert(fileLen > 1500000 && fileLen < 2200000, s"expected a ~1.8 MB file, got $fileLen")
    // ⌈len / 4⌉-byte ranges: 4 partitions, every block read exactly once
    val back = spark.read.format("graft.AvroSource").load(out)
    assert(back.rdd.getNumPartitions === 4)
    assert(back.count() === 50000)
    assert(back.agg(sum("id")).head.getLong(0) === 49999L * 50000 / 2)
    assert(back.select("id").distinct().count() === 50000)
    // the splitSize option still overrides the rule
    assert(spark.read.format("graft.AvroSource").option("splitSize", 16L << 20)
      .load(out).rdd.getNumPartitions === 1)
  }

  test("multibyte strings and bytes survive record reuse, with no aliasing across rows") {
    val out = tmp("reuse")
    // lengths go down and up again, so a reused decoder buffer would leave
    // a longer row's tail in a shorter one
    val strs = Seq("ünïcödé-lóng-strîng-€€€", "𐀀", "日本語テキスト", "", "a", null, "ß" * 40, "x")
    val data = strs.zipWithIndex.map { case (str, i) =>
      Row(i.toLong, str, if (str == null) null else Array.tabulate[Byte](i * 3)(j => (j * 7 + i).toByte))
    }
    val sch = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("s", StringType, nullable = true),
      StructField("bin", BinaryType, nullable = true)))
    AvroSource.write(spark.createDataFrame(spark.sparkContext.parallelize(data, 1), sch), out)
    val got = spark.read.format("graft.AvroSource").load(out).collect().sortBy(_.getLong(0))
    assert(got.length === data.length)
    got.zip(data).foreach { case (g, e) =>
      assert(g.get(1) === e.get(1))
      if (e.isNullAt(2)) assert(g.isNullAt(2))
      else assert(g.getAs[Array[Byte]](2).toSeq === e.getAs[Array[Byte]](2).toSeq)
    }
  }

  test("column pruning is pushed into the scan") {
    val out = tmp("prune")
    AvroSource.write(
      spark.range(100).select(col("id"), (col("id") % 5).as("k"),
        concat(lit("x"), col("id")).as("pad")), out)
    val pruned = spark.read.format("graft.AvroSource").load(out).select("k")
    val scan = pruned.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("ReadSchema") || scan.toLowerCase.contains("k"),
      s"scan node should carry the pruned schema: $scan")
    assert(pruned.queryExecution.executedPlan.toString.contains("k#") ||
      pruned.schema.fieldNames.sameElements(Array("k")))
    assert(pruned.distinct().count() === 5)
  }

  test("predicate pushdown reaches the scan and preserves results") {
    val out = tmp("filter")
    AvroSource.write(
      spark.range(1000).select(col("id"), (col("id") % 10).as("k"),
        when(col("id") % 7 === 0, null).otherwise(concat(lit("v"), col("id"))).as("s")),
      out)
    val base = spark.read.format("graft.AvroSource").load(out)
    val q = base.filter(col("k") >= 3 && col("k") < 5 && col("s").isNotNull)
    val scan = q.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("PushedFilters") && scan.contains("GreaterThanOrEqual(k,3)"),
      s"scan should advertise pushed filters: $scan")
    // pushed eval must agree with Spark's residual eval (conservative claim)
    assert(q.count() ===
      (0L until 1000L).count(i => i % 10 >= 3 && i % 10 < 5 && i % 7 != 0))
    // null-valued rows: IsNotNull pushed, comparisons with null rows dropped
    assert(base.filter(col("s") < "v100").count() ===
      (0L until 1000L).count(i => i % 7 != 0 && s"v$i" < "v100"))
  }

  test("pushed-filter semantics corner cases match Spark (UTF-8 order, -0.0, fractional literal)") {
    val out = tmp("corner")
    val cornerSchema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("s", StringType, nullable = true),
      StructField("d", DoubleType, nullable = true)))
    val corner = Seq(
      // "￿" is UTF-16-greater but UTF-8-SMALLER than "𐀀" (U+10000)
      Row(1L, "￿", -0.0),
      Row(2L, "𐀀", 0.0),
      Row(3L, "plain", 2.0))
    AvroSource.write(spark.createDataFrame(
      spark.sparkContext.parallelize(corner, 1), cornerSchema), out)
    val base = spark.read.format("graft.AvroSource").load(out)
    // UTF-8 byte order: row 1 ("￿", UTF-16-greater but UTF-8-smaller than
    // U+10000) must survive the pushed LessThan alongside "plain"
    assert(base.filter(col("s") < "𐀀").select("id").collect()
      .map(_.getLong(0)).toSet === Set(1L, 3L))
    // -0.0 == 0.0 under Spark comparison semantics
    assert(base.filter(col("d") === 0.0).count() === 2)
    assert(base.filter(col("d") >= 0.0).count() === 3)
    // fractional literal against a LONG column: pushed eval must keep the
    // row (truncating 2.5 -> 2 would wrongly drop id=2 for id < 2.5)
    assert(base.filter(col("id") < lit(2.5)).select("id").collect()
      .map(_.getLong(0)).toSet === Set(1L, 2L))
  }

  test("reading an empty/missing directory fails loudly at schema inference") {
    val dir = tmp("empty")
    new java.io.File(dir).mkdirs()
    val ex = intercept[Exception](
      spark.read.format("graft.AvroSource").load(dir).collect())
    assert(ex.getMessage.contains("no .avro files"))
  }

  test("unsupported sink type fails loudly") {
    val df = spark.range(3).select(col("id").cast(DecimalType(10, 2)).as("dec"))
    val ex = intercept[IllegalArgumentException](AvroSource.write(df, tmp("bad")))
    assert(ex.getMessage.contains("unsupported type"))
  }
}
