package graft

import java.io.File

import scala.jdk.CollectionConverters._

import org.apache.avro.Schema
import org.apache.avro.file.{DataFileConstants, DataFileReader, DataFileWriter}
import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
import org.apache.avro.io.{DatumReader, DatumWriter, Decoder, Encoder}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.SpecificInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.sources.{EqualTo, Filter, GreaterThan, GreaterThanOrEqual, IsNotNull, IsNull, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** Minimal native Avro source (DataSource V2 `TableProvider`), covering the
  * reference's Avro scan (`datafusion/core/src/datasource/physical_plan/
  * avro.rs:38`). The `spark-avro` connector artifact is not available in
  * this offline sandbox (no egress; the local caches hold only avro-core),
  * so the scan is built directly on the `org.apache.avro` container-file
  * API that ships with Spark's own jars — which also makes it the repo's
  * demonstration of the DSv2 custom-source surface (SURVEY §2.8
  * TableProvider row).
  *
  * Shape at scale: container files are split at Avro sync-marker
  * boundaries into byte-range `InputPartition`s (the same splittable-scan
  * shape as the reference's `AvroExec` and Hadoop's AvroRecordReader):
  * each range reader `sync(start)`s to the first block after its range
  * start and reads until the first block that starts past its range end,
  * so every block is read by exactly one partition and one huge file can't
  * become a straggler task.
  * The split size is `min(16 MB, max(256 KB, ⌈scan bytes /
  * defaultParallelism⌉))`: a scan of a few MB still fans out over the
  * cores, a file under 256 KB stays one partition, and big scans keep
  * 16 MB ranges. The `splitSize` read option overrides the rule.
  * The reader decodes each record straight into one reused row
  * ([[InternalRowDatumReader]]), field by field in file order; strings and
  * bytes are copied once, from the block buffer into the row's own array.
  * Column pruning is pushed into the reader (`SupportsPushDownRequiredColumns`):
  * a row format still walks every field it stores, but pruned fields are
  * skipped without being materialized and never enter the scan output
  * schema, which is what matters for the downstream exchange width.
  * Comparison predicates are pushed too (`SupportsPushDownFilters`,
  * [[PushedRowFilters]]): rejected rows are dropped before they reach
  * Spark, and every filter is also returned to Spark as a residual, so
  * correctness never depends on the pushed evaluation.
  *
  * Types: null/boolean/int/long/float/double/string/bytes and nullable
  * `union(null, T)` — the primitive core every engine agrees on. Decimal/
  * temporal logical types are deliberately out of scope (cast before
  * write); unsupported types fail loudly at schema mapping.
  *
  * Usage: `spark.read.format("graft.AvroSource").load(dir)`.
  */
class AvroSource extends TableProvider {
  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val files = AvroSource.listFiles(options.get("path"))
    require(files.nonEmpty, s"no .avro files under ${options.get("path")}")
    AvroSource.toSparkSchema(AvroSource.readFileSchema(files.head))
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    new AvroTable(schema, properties.get("path"))
}

object AvroSource {
  private[graft] def listFiles(path: String): Seq[File] = {
    val f = new File(path)
    val all = if (f.isDirectory) f.listFiles().toSeq else Seq(f)
    all.filter(_.getName.endsWith(".avro")).sortBy(_.getName)
  }

  private[graft] def readFileSchema(file: File): Schema = {
    val r = new DataFileReader[GenericRecord](file, new GenericDatumReader[GenericRecord]())
    try r.getSchema finally r.close()
  }

  /** Avro record schema → Catalyst; `union(null, T)` → nullable T. */
  private[graft] def toSparkSchema(avro: Schema): StructType = {
    def field(s: Schema): (DataType, Boolean) = s.getType match {
      case Schema.Type.UNION =>
        val branches = s.getTypes.asScala
        val nonNull = branches.filterNot(_.getType == Schema.Type.NULL)
        require(nonNull.size == 1, s"unsupported union $s")
        (field(nonNull.head)._1, branches.size > nonNull.size)
      case Schema.Type.BOOLEAN => (BooleanType, false)
      case Schema.Type.INT => (IntegerType, false)
      case Schema.Type.LONG => (LongType, false)
      case Schema.Type.FLOAT => (FloatType, false)
      case Schema.Type.DOUBLE => (DoubleType, false)
      case Schema.Type.STRING => (StringType, false)
      case Schema.Type.BYTES => (BinaryType, false)
      case t => throw new IllegalArgumentException(s"unsupported avro type $t")
    }
    StructType(avro.getFields.asScala.toSeq.map { f =>
      val (dt, nullable) = field(f.schema())
      StructField(f.name(), dt, nullable)
    })
  }

  /** Catalyst → Avro record schema; nullable → `union(null, T)`. */
  private[graft] def toAvroSchema(spark: StructType, name: String): Schema = {
    def base(dt: DataType): Schema = dt match {
      case BooleanType => Schema.create(Schema.Type.BOOLEAN)
      case IntegerType => Schema.create(Schema.Type.INT)
      case LongType => Schema.create(Schema.Type.LONG)
      case FloatType => Schema.create(Schema.Type.FLOAT)
      case DoubleType => Schema.create(Schema.Type.DOUBLE)
      case StringType => Schema.create(Schema.Type.STRING)
      case BinaryType => Schema.create(Schema.Type.BYTES)
      case t => throw new IllegalArgumentException(
        s"unsupported type for avro sink: $t (cast before write)")
    }
    val fields = spark.fields.map { f =>
      val s = if (f.nullable)
        Schema.createUnion(java.util.List.of(Schema.create(Schema.Type.NULL), base(f.dataType)))
      else base(f.dataType)
      new Schema.Field(f.name, s, null,
        if (f.nullable) Schema.Field.NULL_DEFAULT_VALUE else null)
    }
    Schema.createRecord(name, null, "graft", false, java.util.List.of(fields: _*))
  }

  /** Distributed Avro sink: each task writes one container file into `dir`
    * (the many-small-files layout every distributed sink uses; a real
    * deployment adds a commit protocol on top). Local-mode executors share
    * the driver filesystem, so plain file writes are the committer here.
    * Tasks encode the plan's `InternalRow`s directly ([[InternalRowDatumWriter]])
    * under one SQL execution, as `Dataset.foreachPartition` would, but
    * without deserializing each row into an external `Row`. */
  def write(df: DataFrame, dir: String): Unit = {
    new File(dir).mkdirs()
    listFiles(dir).foreach(_.delete()) // overwrite semantics (parts are UUID-named)
    val schemaJson = toAvroSchema(df.schema, "row").toString
    val fields = df.schema.fields
    val qe = df.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("foreachPartition")) {
      qe.toRdd.foreachPartition { rows =>
        if (rows.hasNext) {
          val schema = new Schema.Parser().parse(schemaJson)
          val w = new DataFileWriter[InternalRow](new InternalRowDatumWriter(fields))
          w.create(schema, new File(s"$dir/part-${java.util.UUID.randomUUID()}.avro"))
          try rows.foreach(w.append) finally w.close()
        }
      }
    }
  }

  /** The split size when no `splitSize` option is given: enough ranges to
    * give every core a share of the scan, within [256 KB, 16 MB]. */
  private[graft] def defaultSplitSize(scanBytes: Long, parallelism: Int): Long = {
    val cores = math.max(1, parallelism)
    val perCore = (scanBytes + cores - 1) / cores
    math.min(16L << 20, math.max(256L << 10, perCore))
  }
}

/** Encodes an `InternalRow` as one record of the sink's schema
  * ([[AvroSource.toAvroSchema]]): one writer per field, resolved once from
  * the Catalyst type. A nullable field is `union(null, T)`, so it writes
  * branch 0 for null and branch 1 before the value. Strings are written
  * from a buffer over the `UTF8String`'s own bytes: in Avro's binary
  * encoding a string is its UTF-8 bytes behind a length, exactly as
  * `bytes` is encoded. */
private class InternalRowDatumWriter(fields: Array[StructField])
    extends DatumWriter[InternalRow] {
  private type W = (InternalRow, Int, Encoder) => Unit

  private def valueWriter(dt: DataType): W = dt match {
    case BooleanType => (r, i, out) => out.writeBoolean(r.getBoolean(i))
    case IntegerType => (r, i, out) => out.writeInt(r.getInt(i))
    case LongType => (r, i, out) => out.writeLong(r.getLong(i))
    case FloatType => (r, i, out) => out.writeFloat(r.getFloat(i))
    case DoubleType => (r, i, out) => out.writeDouble(r.getDouble(i))
    case StringType => (r, i, out) => out.writeBytes(r.getUTF8String(i).getByteBuffer)
    case BinaryType => (r, i, out) => out.writeBytes(r.getBinary(i))
    case t => throw new IllegalArgumentException(s"unsupported type for avro sink: $t")
  }

  private val writers: Array[W] = fields.map { f =>
    val w = valueWriter(f.dataType)
    if (!f.nullable) w
    else (r: InternalRow, i: Int, out: Encoder) =>
      if (r.isNullAt(i)) out.writeIndex(0)
      else { out.writeIndex(1); w(r, i, out) }
  }

  override def setSchema(schema: Schema): Unit = ()

  override def write(row: InternalRow, out: Encoder): Unit = {
    var i = 0
    while (i < writers.length) {
      writers(i)(row, i, out)
      i += 1
    }
  }
}

private class AvroTable(tableSchema: StructType, path: String) extends Table with SupportsRead {
  override def name(): String = s"avro:$path"
  override def schema(): StructType = tableSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.Set.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new AvroScanBuilder(tableSchema, path,
      if (options.containsKey("splitSize")) Some(math.max(1L, options.getLong("splitSize", 1L)))
      else None)
}

/** Comparison-shaped filters evaluated inside a source: [[AvroSource]]
  * runs them on each decoded row, and [[ArrowSource]] pushes the same set
  * to its zone maps (`supported`) but leaves row filtering to Spark. The
  * win for a row format is not IO skipping but dropping rows before they
  * reach Spark and widen the downstream exchange.
  * Callers return all filters to Spark as residuals (conservative claim),
  * so semantics never depend on this evaluation being complete — which is
  * also why an INCOMPARABLE pair must KEEP the row: under-filtering is
  * corrected by the residual, over-filtering never is. */
private[graft] object PushedRowFilters {
  def supported(f: Filter): Boolean = f match {
    case EqualTo(_, v) => comparable(v)
    case GreaterThan(_, v) => comparable(v)
    case GreaterThanOrEqual(_, v) => comparable(v)
    case LessThan(_, v) => comparable(v)
    case LessThanOrEqual(_, v) => comparable(v)
    case IsNull(_) | IsNotNull(_) => true
    case _ => false
  }

  private def comparable(v: Any): Boolean = v match {
    case _: Long | _: Int | _: Double | _: Float | _: String | _: Boolean => true
    case _ => false
  }

  /** Null ordering follows SQL (comparisons with null are not satisfied);
    * `get` returns the decoded Catalyst value for a column name (null for SQL
    * NULL). */
  def eval(f: Filter, get: String => Any): Boolean = f match {
    case IsNull(c) => get(c) == null
    case IsNotNull(c) => get(c) != null
    case EqualTo(c, v) => nullableCmp(get(c), v)(_ == 0)
    case GreaterThan(c, v) => nullableCmp(get(c), v)(_ > 0)
    case GreaterThanOrEqual(c, v) => nullableCmp(get(c), v)(_ >= 0)
    case LessThan(c, v) => nullableCmp(get(c), v)(_ < 0)
    case LessThanOrEqual(c, v) => nullableCmp(get(c), v)(_ <= 0)
    case _ => true // unclaimed filters are Spark's residual responsibility
  }

  private def nullableCmp(rv: Any, fv: Any)(sat: Int => Boolean): Boolean =
    if (rv == null) false // SQL: comparison with null is not satisfied
    else cmp(rv, fv).forall(sat) // incomparable → keep, the residual decides

  private def isIntegral(n: Number): Boolean = n match {
    case _: java.lang.Long | _: java.lang.Integer |
         _: java.lang.Short | _: java.lang.Byte => true
    case _ => false
  }

  /** Matches Spark's comparison semantics where it differs from Java's:
    * strings order by UTF-8 bytes (not UTF-16 chars), -0.0 == 0.0, NaN is
    * greater than everything and equal to itself. Integral record values
    * only compare against integral filter values (a fractional literal
    * reaching a long column — possible with UnwrapCastInBinaryComparison
    * excluded — would truncate and over-filter; leave it to the residual). */
  private def cmp(rv: Any, fv: Any): Option[Int] = (rv, fv) match {
    case (a: UTF8String, b: String) => Some(a.compareTo(UTF8String.fromString(b)))
    case (a: java.lang.Boolean, b: Boolean) => Some(a.compareTo(b))
    case (a: java.lang.Long, b: Number) if isIntegral(b) =>
      Some(java.lang.Long.compare(a, b.longValue()))
    case (a: java.lang.Integer, b: Number) if isIntegral(b) =>
      Some(java.lang.Long.compare(a.longValue(), b.longValue()))
    case (a: java.lang.Double, b: Number) => Some(cmpDouble(a, b.doubleValue()))
    case (a: java.lang.Float, b: Number) =>
      Some(cmpDouble(a.doubleValue(), b.doubleValue()))
    case _ => None
  }

  private def cmpDouble(a: Double, b: Double): Int =
    if (a.isNaN || b.isNaN) java.lang.Double.compare(a, b) // NaN last, NaN==NaN
    else if (a == b) 0 // primitive ==: -0.0 == 0.0, matching Spark
    else if (a < b) -1 else 1
}

private class AvroScanBuilder(full: StructType, path: String, splitSize: Option[Long])
    extends ScanBuilder with SupportsPushDownRequiredColumns with SupportsPushDownFilters {
  private var required: StructType = full
  private var pushed: Array[Filter] = Array.empty
  override def pruneColumns(requiredSchema: StructType): Unit = required = requiredSchema
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(PushedRowFilters.supported)
    filters // conservative: Spark re-evaluates everything as residual
  }
  override def pushedFilters(): Array[Filter] = pushed
  override def build(): Scan = new AvroScan(required, path, splitSize, pushed)
}

private class AvroScan(required: StructType, path: String, splitSize: Option[Long],
    pushed: Array[Filter]) extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"AvroScan $path, PushedFilters: [${pushed.mkString(", ")}], " +
      s"ReadSchema: ${required.catalogString}"

  /** One partition per split-size byte range of each file (the `splitSize`
    * option, else [[AvroSource.defaultSplitSize]] over the whole scan); a
    * range owns the blocks whose preceding sync marker starts inside it
    * (Hadoop's split convention), so ranges cover every block exactly once
    * without the planner ever reading block headers. */
  override def planInputPartitions(): Array[InputPartition] = {
    val files = AvroSource.listFiles(path)
    val split = splitSize.getOrElse(AvroSource.defaultSplitSize(files.map(_.length()).sum,
      SparkSession.active.sparkContext.defaultParallelism))
    files.flatMap { f =>
      val len = f.length()
      val n = math.max(1L, (len + split - 1) / split)
      (0L until n).map { i =>
        val start = i * split
        // last range ends at the file length, NOT Long.MaxValue: the
        // reader's end test computes end + SYNC_SIZE, which overflows on
        // MaxValue and would report every block as past the range
        val end = math.min((i + 1) * split, len)
        AvroFilePartition(f.getAbsolutePath, start, end)
      }
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new AvroReaderFactory(required, pushed)
}

private case class AvroFilePartition(file: String, start: Long, end: Long)
    extends InputPartition

private class AvroReaderFactory(required: StructType, pushed: Array[Filter])
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[AvroFilePartition]
    new AvroPartitionReader(p.file, p.start, p.end, required, pushed)
  }
}

private class AvroPartitionReader(file: String, start: Long, end: Long,
    required: StructType, pushed: Array[Filter])
    extends PartitionReader[InternalRow] {
  private val reader =
    new DataFileReader[InternalRow](new File(file), new InternalRowDatumReader(required))
  // position at the first block after `start` (for start 0 this lands on the
  // header's trailing sync, i.e. the first block); read until the first sync
  // at-or-past `end` — the next range's reader picks up exactly there
  reader.sync(start)
  // `pastSync(end)` asks the file channel for its size whenever the block
  // starts before `end`: one fstat per record. The same test against the
  // length read once costs nothing.
  private val fileLength = new File(file).length()
  private def pastEnd: Boolean = {
    val blockStart = reader.previousSync()
    blockStart >= end + DataFileConstants.SYNC_SIZE || blockStart >= fileLength
  }
  private val slots = required.fieldNames.zipWithIndex.toMap
  private val types = required.fields.map(_.dataType)
  // a filter on a column outside the read schema is left to Spark's
  // residual (keeping a row is always safe; dropping one never is)
  private val applicable = pushed.filter(_.references.forall(slots.contains))
  private var row: InternalRow = _

  private def value(name: String): Any = {
    val i = slots(name)
    row.get(i, types(i))
  }

  override def next(): Boolean = {
    while (reader.hasNext && !pastEnd) {
      row = reader.next(row)
      // pushed predicates drop rows before they reach Spark
      var keep = true
      var f = 0
      while (keep && f < applicable.length) {
        keep = PushedRowFilters.eval(applicable(f), value)
        f += 1
      }
      if (keep) return true
    }
    false
  }

  override def get(): InternalRow = row
  override def close(): Unit = reader.close()
}

/** Decodes one record of the file's schema straight into one reused row of
  * the required columns, with no `GenericRecord` in between: one step per
  * file field, resolved once from the file schema, reads the value into
  * its row slot by position or skips it. A string or bytes value is read
  * from the block buffer into the row's own array, its only copy. Spark
  * copies each row the scan returns before it asks for the next. */
private class InternalRowDatumReader(required: StructType) extends DatumReader[InternalRow] {
  private type Step = Decoder => Unit
  private val row = new SpecificInternalRow(required.fields.map(_.dataType).toSeq)
  private var steps: Array[Step] = Array.empty

  override def setSchema(file: Schema): Unit = {
    required.fieldNames.foreach { n =>
      require(file.getField(n) != null, s"column '$n' missing from avro file schema $file")
    }
    val slot = required.fieldNames.zipWithIndex.toMap
    steps = file.getFields.asScala.map(f => step(f.schema(), slot.getOrElse(f.name(), -1))).toArray
  }

  /** The decoder step of one value of schema `s` into row slot `i`
    * (-1: not required, skip it). */
  private def step(s: Schema, i: Int): Step = (s.getType, i >= 0) match {
    case (Schema.Type.UNION, _) =>
      val branches = s.getTypes.asScala.map { b =>
        if (b.getType == Schema.Type.NULL) null else step(b, i)
      }.toArray
      in => {
        val b = branches(in.readIndex())
        if (b != null) b(in) else if (i >= 0) row.setNullAt(i)
      }
    case (Schema.Type.NULL, _) => _.readNull() // a row slot starts, and stays, null
    case (Schema.Type.BOOLEAN, true) => in => row.setBoolean(i, in.readBoolean())
    case (Schema.Type.BOOLEAN, false) => _.readBoolean()
    case (Schema.Type.INT, true) => in => row.setInt(i, in.readInt())
    case (Schema.Type.INT, false) => _.readInt()
    case (Schema.Type.LONG, true) => in => row.setLong(i, in.readLong())
    case (Schema.Type.LONG, false) => _.readLong()
    case (Schema.Type.FLOAT, true) => in => row.setFloat(i, in.readFloat())
    case (Schema.Type.FLOAT, false) => _.readFloat()
    case (Schema.Type.DOUBLE, true) => in => row.setDouble(i, in.readDouble())
    case (Schema.Type.DOUBLE, false) => _.readDouble()
    case (Schema.Type.STRING, true) => in => row.update(i, UTF8String.fromBytes(readBytes(in)))
    case (Schema.Type.STRING, false) => _.skipString()
    case (Schema.Type.BYTES, true) => in => row.update(i, readBytes(in))
    case (Schema.Type.BYTES, false) => _.skipBytes()
    case (t, _) => throw new IllegalArgumentException(s"unsupported avro type $t")
  }

  /** A length-prefixed value (string or bytes) into a new array. */
  private def readBytes(in: Decoder): Array[Byte] = {
    val n = in.readLong()
    require(n >= 0 && n <= Int.MaxValue - 8, s"malformed avro length $n")
    val a = new Array[Byte](n.toInt)
    in.readFixed(a, 0, a.length)
    a
  }

  override def read(reuse: InternalRow, in: Decoder): InternalRow = {
    var f = 0
    while (f < steps.length) {
      steps(f)(in)
      f += 1
    }
    row
  }
}
