package graft

import java.io.File
import java.nio.channels.FileChannel
import java.nio.file.StandardOpenOption

import scala.jdk.CollectionConverters._

import org.apache.arrow.memory.RootAllocator
import org.apache.arrow.vector._
import org.apache.arrow.vector.ipc.{ArrowFileReader, ArrowFileWriter}
import org.apache.arrow.vector.types.FloatingPointPrecision
import org.apache.arrow.vector.types.pojo.{ArrowType, Field, FieldType, Schema => ArrowSchema}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.vectorized.{ArrowColumnVector, ColumnVector, ColumnarBatch}

/** Native Arrow IPC (file-format) source/sink (DataSource V2
  * `TableProvider`), covering the reference's Arrow scan
  * (`datafusion/core/src/datasource/physical_plan/arrow_file.rs:50`) —
  * closing the one SURVEY §2.2 row round 2 had skipped. Built on the
  * `org.apache.arrow` vector/ipc API that ships inside Spark's own jars
  * (Spark bundles Arrow 18.x for its pandas-interchange path), so no new
  * dependency is introduced.
  *
  * Shape at scale: the Arrow file format is a sequence of self-contained
  * record batches indexed by a footer — the natural split unit. The scan
  * reads each file's footer at planning time (cheap: footer + metadata
  * only) and emits one `InputPartition` PER RECORD-BATCH RANGE, so a big
  * file fans out across executors exactly like the reference's
  * `FileGroupPartitioner` does for its ArrowExec.
  *
  * Reads are columnar (`supportColumnarReads`): each loaded batch is
  * handed to Spark as a `ColumnarBatch` of `ArrowColumnVector`s over the
  * reader's `VectorSchemaRoot`, with no per-row conversion and no copy, and
  * Spark's `ColumnarToRow` feeds the rest of the plan. Column pruning
  * wraps only the required vectors (batch IO is footer-directed
  * whole-batch here; a production reader would additionally slice
  * per-column buffer reads from the batch metadata). Comparison
  * predicates are pushed (`SupportsPushDownFilters`, [[PushedRowFilters]]
  * decides which) to skip whole batches through the zone maps below;
  * every filter is also returned to Spark as a residual, which filters the
  * rows.
  *
  * Types: long/int/double/float/boolean/string/binary, nullable — the
  * same primitive core as [[AvroSource]]; unsupported types fail loudly
  * at schema mapping (cast before write).
  *
  * Usage: `spark.read.format("graft.ArrowSource").load(dir)`;
  * `ArrowSource.write(df, dir)`.
  */
class ArrowSource extends TableProvider {
  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val files = ArrowSource.listFiles(options.get("path"))
    require(files.nonEmpty, s"no .arrow files under ${options.get("path")}")
    val schema = ArrowSource.readFileSchema(files.head)
    // fail loudly at planning when files disagree — a heterogeneous
    // directory would otherwise surface as an obscure reader-side
    // ArrayIndexOutOfBounds when a required column is missing (footer-only
    // reads, so this stays cheap even for many files)
    files.tail.foreach { f =>
      val s = ArrowSource.readFileSchema(f)
      require(s == schema,
        s"heterogeneous arrow directory: ${files.head.getName} has $schema but ${f.getName} has $s")
    }
    schema
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    new ArrowTable(schema, properties.get("path"))
}

object ArrowSource {
  private[graft] def listFiles(path: String): Seq[File] = {
    val f = new File(path)
    val all = if (f.isDirectory) f.listFiles().toSeq else Seq(f)
    all.filter(_.getName.endsWith(".arrow")).sortBy(_.getName)
  }

  // ---- zone maps (batch-level min/max/null stats in a .zmap sidecar) ----
  //
  // The sink records per-record-batch column statistics the way Delta and
  // Iceberg keep file stats in their metadata layer (and the reference's
  // parquet scan uses row-group stats): the scan then PROVES batches empty
  // under the pushed filters and never plans partitions for them — IO-level
  // data skipping, not just row dropping. The sidecar is advisory: absent,
  // unparseable, or stale-looking files simply disable skipping.

  /** Per-(batch, column) stats. Numeric min/max as doubles (exact for
    * |v| ≤ 2^52 — larger magnitudes disable skipping conservatively);
    * `valid=false` = nulls-only record (NaN seen, or non-numeric column). */
  private[graft] final case class ZStat(valid: Boolean, min: Double, max: Double, nulls: Long)
  private[graft] final case class BatchZone(rows: Long, cols: Map[String, ZStat])

  private def enc(s: String) = java.net.URLEncoder.encode(s, "UTF-8")
  private def dec(s: String) = java.net.URLDecoder.decode(s, "UTF-8")

  private[graft] def zmapFile(dataFile: File): File =
    new File(dataFile.getParentFile, dataFile.getName + ".zmap")

  private[graft] def writeZmap(dataFile: File, zones: Seq[BatchZone]): Unit = {
    val sb = new StringBuilder
    zones.zipWithIndex.foreach { case (z, i) =>
      sb.append(s"B $i ${z.rows}\n")
      z.cols.foreach { case (c, s) =>
        sb.append(s"C $i ${enc(c)} ${s.valid} ${s.min} ${s.max} ${s.nulls}\n")
      }
    }
    java.nio.file.Files.writeString(zmapFile(dataFile).toPath, sb.toString)
  }

  /** None = no/bad sidecar (skipping disabled). */
  private[graft] def readZmap(dataFile: File, expectBatches: Int): Option[Array[BatchZone]] = {
    val f = zmapFile(dataFile)
    if (!f.exists()) return None
    val src = scala.io.Source.fromFile(f)
    try {
      val rows = new Array[Long](expectBatches)
      val cols = Array.fill(expectBatches)(Map.newBuilder[String, ZStat])
      val seen = scala.collection.mutable.BitSet()
      src.getLines().foreach { line =>
        line.split(' ') match {
          case Array("B", i, n) if i.toInt < expectBatches =>
            if (!seen.add(i.toInt)) return None // duplicate B: sidecar is bad
            rows(i.toInt) = n.toLong
          case Array("C", i, c, v, mn, mx, nl) if i.toInt < expectBatches =>
            cols(i.toInt) += dec(c) -> ZStat(v.toBoolean, mn.toDouble, mx.toDouble, nl.toLong)
          case _ => return None // unknown line: treat whole sidecar as bad
        }
      }
      // every batch index must appear exactly once — a missing-B sidecar
      // would fabricate rows=0 zones that wrongly prune (duplicates are
      // rejected above, at re-add time)
      if (seen.size != expectBatches) None
      else Some(Array.tabulate(expectBatches)(i => BatchZone(rows(i), cols(i).result())))
    } catch { case _: Exception => None }
    finally src.close()
  }

  private val ExactLimit = 1L << 52 // doubles are exact integers below this

  /** Conservative batch-level test: false ONLY when `f` provably matches no
    * row of the batch. Unknown columns, invalid stats, or huge magnitudes
    * keep the batch. */
  private[graft] def batchCanMatch(f: Filter, z: BatchZone): Boolean = {
    import org.apache.spark.sql.sources._
    def st(c: String): Option[ZStat] = z.cols.get(c)
    def allNull(s: ZStat) = s.nulls == z.rows
    def rangeOk(c: String, v: Any)(cannot: (ZStat, Double) => Boolean): Boolean =
      (st(c), v) match {
        case (Some(s), n: Number) =>
          val d = n.doubleValue()
          if (allNull(s)) false // a comparison is never satisfied by nulls
          else if (!s.valid) true // NaN seen / no numeric stats: can't prove
          else if (d.isNaN || math.abs(d) > ExactLimit ||
            math.abs(s.min) > ExactLimit || math.abs(s.max) > ExactLimit) true
          else !cannot(s, d)
        case _ => true
      }
    f match {
      case EqualTo(c, v) => rangeOk(c, v)((s, d) => d < s.min || d > s.max)
      case GreaterThan(c, v) => rangeOk(c, v)((s, d) => s.max <= d)
      case GreaterThanOrEqual(c, v) => rangeOk(c, v)((s, d) => s.max < d)
      case LessThan(c, v) => rangeOk(c, v)((s, d) => s.min >= d)
      case LessThanOrEqual(c, v) => rangeOk(c, v)((s, d) => s.min > d)
      case IsNotNull(c) => st(c).forall(s => s.nulls < z.rows)
      case IsNull(c) => st(c).forall(s => s.nulls > 0)
      case _ => true
    }
  }

  private[graft] def readFileSchema(file: File): StructType = {
    val alloc = new RootAllocator()
    val ch = FileChannel.open(file.toPath, StandardOpenOption.READ)
    try {
      val r = new ArrowFileReader(ch, alloc)
      try toSparkSchema(r.getVectorSchemaRoot.getSchema) finally r.close()
    } finally { ch.close(); alloc.close() }
  }

  /** Record-batch count from the file footer (cheap planning-time read). */
  private[graft] def batchCount(file: File): Int = {
    val alloc = new RootAllocator()
    val ch = FileChannel.open(file.toPath, StandardOpenOption.READ)
    try {
      val r = new ArrowFileReader(ch, alloc)
      try r.getRecordBlocks.size finally r.close()
    } finally { ch.close(); alloc.close() }
  }

  private[graft] def toSparkSchema(arrow: ArrowSchema): StructType =
    StructType(arrow.getFields.asScala.toSeq.map { f =>
      val dt = f.getType match {
        case t: ArrowType.Int if t.getBitWidth == 64 && t.getIsSigned => LongType
        case t: ArrowType.Int if t.getBitWidth == 32 && t.getIsSigned => IntegerType
        case t: ArrowType.FloatingPoint if t.getPrecision == FloatingPointPrecision.DOUBLE => DoubleType
        case t: ArrowType.FloatingPoint if t.getPrecision == FloatingPointPrecision.SINGLE => FloatType
        case _: ArrowType.Bool => BooleanType
        case _: ArrowType.Utf8 => StringType
        case _: ArrowType.Binary => BinaryType
        case t => throw new IllegalArgumentException(s"unsupported arrow type $t")
      }
      StructField(f.getName, dt, f.isNullable)
    })

  private[graft] def toArrowSchema(spark: StructType): ArrowSchema = {
    val fields = spark.fields.map { f =>
      val t: ArrowType = f.dataType match {
        case LongType => new ArrowType.Int(64, true)
        case IntegerType => new ArrowType.Int(32, true)
        case DoubleType => new ArrowType.FloatingPoint(FloatingPointPrecision.DOUBLE)
        case FloatType => new ArrowType.FloatingPoint(FloatingPointPrecision.SINGLE)
        case BooleanType => ArrowType.Bool.INSTANCE
        case StringType => ArrowType.Utf8.INSTANCE
        case BinaryType => ArrowType.Binary.INSTANCE
        case other => throw new IllegalArgumentException(
          s"unsupported type for arrow sink: $other (cast before write)")
      }
      new Field(f.name, new FieldType(f.nullable, t, null), null)
    }
    new ArrowSchema(java.util.List.of(fields: _*))
  }

  /** Distributed Arrow IPC sink: each task writes one .arrow file into
    * `dir`, batching rows into record batches of `batchRows` (the read
    * side's split unit), plus a `.zmap` zone-map sidecar with per-batch
    * min/max/null stats for the scan's data skipping. Local-mode tasks
    * share the driver filesystem, so plain file writes are the committer
    * (same stance as [[AvroSource]]). Tasks fill the vectors from the
    * plan's `InternalRow`s with one slot writer per column
    * ([[slotWriter]]), under one SQL execution. */
  def write(df: DataFrame, dir: String, batchRows: Int = 8192): Unit = {
    new File(dir).mkdirs()
    listFiles(dir).foreach { f => zmapFile(f).delete(); f.delete(); () } // overwrite
    toArrowSchema(df.schema) // fail fast on the driver for unsupported types
    val schema = df.schema
    val numeric = schema.fields.map(_.dataType match {
      case LongType | IntegerType | DoubleType | FloatType => true
      case _ => false
    })
    val qe = df.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("foreachPartition")) {
      qe.toRdd.foreachPartition { rows =>
        if (rows.hasNext) writePart(rows, schema, numeric, dir, batchRows)
      }
    }
  }

  private def writePart(rows: Iterator[InternalRow], schema: StructType,
      numeric: Array[Boolean], dir: String, batchRows: Int): Unit = {
    val names = schema.fieldNames
    val alloc = new RootAllocator()
    val root = VectorSchemaRoot.create(toArrowSchema(schema), alloc)
    val file = new File(s"$dir/part-${java.util.UUID.randomUUID()}.arrow")
    val ch = FileChannel.open(file.toPath,
      StandardOpenOption.CREATE, StandardOpenOption.WRITE)
    val w = new ArrowFileWriter(root, null, ch)
    val zones = Seq.newBuilder[BatchZone]
    try {
      // the root keeps its vectors across allocateNew, so resolve once
      val vectors = names.indices.map(root.getVector).toArray
      val writers = vectors.map(slotWriter)
      w.start()
      while (rows.hasNext) {
        var n = 0
        val mins = Array.fill(names.length)(Double.PositiveInfinity)
        val maxs = Array.fill(names.length)(Double.NegativeInfinity)
        val nulls = new Array[Long](names.length)
        val sawNaN = new Array[Boolean](names.length)
        while (rows.hasNext && n < batchRows) {
          val row = rows.next()
          var i = 0
          while (i < names.length) {
            if (row.isNullAt(i)) {
              nulls(i) += 1
              vectors(i) match {
                case x: BaseFixedWidthVector => x.setNull(n)
                case x: BaseVariableWidthVector => x.setNull(n)
                case other => throw new IllegalStateException(s"vector $other")
              }
            } else {
              val d = writers(i)(row, i, n)
              if (numeric(i)) {
                if (d.isNaN) sawNaN(i) = true
                else {
                  if (d < mins(i)) mins(i) = d
                  if (d > maxs(i)) maxs(i) = d
                }
              }
            }
            i += 1
          }
          n += 1
        }
        root.setRowCount(n)
        w.writeBatch()
        root.allocateNew() // reset for the next batch
        zones += BatchZone(n, names.indices.map { i =>
          val valid = numeric(i) && !sawNaN(i) && nulls(i) < n
          names(i) -> ZStat(valid, mins(i), maxs(i), nulls(i))
        }.toMap)
      }
      w.end()
    } finally { w.close(); ch.close(); root.close(); alloc.close() }
    writeZmap(file, zones.result())
  }

  /** Writes field `i` of a row (not null) into slot `n` of the vector, and
    * returns the value as a double for the zone map (0 for non-numeric
    * columns, which keep no min/max). Strings are set from a buffer over
    * the `UTF8String`'s own bytes. */
  private def slotWriter(v: FieldVector): (InternalRow, Int, Int) => Double = v match {
    case x: BigIntVector => (r, i, n) => { val l = r.getLong(i); x.setSafe(n, l); l.toDouble }
    case x: IntVector => (r, i, n) => { val l = r.getInt(i); x.setSafe(n, l); l.toDouble }
    case x: Float8Vector => (r, i, n) => { val d = r.getDouble(i); x.setSafe(n, d); d }
    case x: Float4Vector => (r, i, n) => { val f = r.getFloat(i); x.setSafe(n, f); f.toDouble }
    case x: BitVector => (r, i, n) => { x.setSafe(n, if (r.getBoolean(i)) 1 else 0); 0.0 }
    case x: VarCharVector => (r, i, n) =>
      val b = r.getUTF8String(i).getByteBuffer
      x.setSafe(n, b, b.position(), b.remaining())
      0.0
    case x: VarBinaryVector => (r, i, n) => { x.setSafe(n, r.getBinary(i)); 0.0 }
    case other => throw new IllegalStateException(s"vector $other")
  }
}

private class ArrowTable(tableSchema: StructType, path: String) extends Table with SupportsRead {
  override def name(): String = s"arrow:$path"
  override def schema(): StructType = tableSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.Set.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ArrowScanBuilder(tableSchema, path,
      math.max(1, options.getInt("batchesPerSplit", 16)))
}

private class ArrowScanBuilder(full: StructType, path: String, batchesPerSplit: Int)
    extends ScanBuilder with SupportsPushDownRequiredColumns with SupportsPushDownFilters {
  private var required: StructType = full
  private var pushed: Array[Filter] = Array.empty
  override def pruneColumns(requiredSchema: StructType): Unit = required = requiredSchema
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(PushedRowFilters.supported)
    filters // conservative: Spark re-evaluates everything as residual
  }
  override def pushedFilters(): Array[Filter] = pushed
  override def build(): Scan = new ArrowScan(required, path, batchesPerSplit, pushed)
}

private class ArrowScan(required: StructType, path: String, batchesPerSplit: Int,
    pushed: Array[Filter]) extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  // every partition reads columnar, also when zone maps prune them all
  override def columnarSupportMode(): Scan.ColumnarSupportMode =
    Scan.ColumnarSupportMode.SUPPORTED
  override def description(): String =
    s"ArrowScan $path, PushedFilters: [${pushed.mkString(", ")}], " +
      s"ReadSchema: ${required.catalogString}"

  /** One partition per `batchesPerSplit` record batches of each file: the
    * footer gives the batch count without reading data, and record batches
    * are self-contained — the Arrow-native equivalent of byte-range
    * splitting. When a `.zmap` sidecar exists, batches the pushed filters
    * PROVE empty are skipped here and never become partitions at all
    * (zone-map data skipping — the stats-based pruning the reference's
    * parquet scan gets from row-group metadata). */
  override def planInputPartitions(): Array[InputPartition] =
    ArrowSource.listFiles(path).flatMap { f =>
      val n = ArrowSource.batchCount(f)
      val kept: Seq[Int] =
        if (n == 0 || pushed.isEmpty) 0 until n
        else ArrowSource.readZmap(f, n) match {
          case Some(zones) =>
            (0 until n).filter(i => pushed.forall(ArrowSource.batchCanMatch(_, zones(i))))
          case None => 0 until n // no/stale sidecar: skipping disabled
        }
      if (n == 0) Seq(ArrowBatchRange(f.getAbsolutePath, 0, 0))
      else {
        // group surviving batches into CONSECUTIVE runs capped at
        // batchesPerSplit (a range reader loads [from, until) in order)
        val ranges = Seq.newBuilder[ArrowBatchRange]
        var runStart = -1
        var prev = -2
        def flush(endExclusive: Int): Unit =
          if (runStart >= 0) {
            var b = runStart
            while (b < endExclusive) {
              ranges += ArrowBatchRange(f.getAbsolutePath, b,
                math.min(b + batchesPerSplit, endExclusive))
              b += batchesPerSplit
            }
          }
        kept.foreach { i =>
          if (i != prev + 1) { flush(prev + 1); runStart = i }
          prev = i
        }
        flush(prev + 1)
        ranges.result()
      }
    }.toArray

  override def createReaderFactory(): PartitionReaderFactory =
    new ArrowReaderFactory(required)
}

private case class ArrowBatchRange(file: String, from: Int, until: Int)
    extends InputPartition

private class ArrowReaderFactory(required: StructType) extends PartitionReaderFactory {
  override def supportColumnarReads(partition: InputPartition): Boolean = true
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    throw new UnsupportedOperationException("ArrowSource reads are columnar")
  override def createColumnarReader(partition: InputPartition): PartitionReader[ColumnarBatch] = {
    val p = partition.asInstanceOf[ArrowBatchRange]
    new ArrowPartitionReader(p.file, p.from, p.until, required)
  }
}

/** Loads the record batches `[from, until)` of one file, one at a time,
  * into the reader's `VectorSchemaRoot` and returns them as one reused
  * `ColumnarBatch` over the required vectors. Spark consumes a batch
  * before asking for the next, which overwrites the vectors' buffers. */
private class ArrowPartitionReader(file: String, from: Int, until: Int,
    required: StructType) extends PartitionReader[ColumnarBatch] {
  private val alloc = new RootAllocator()
  private val ch = FileChannel.open(new File(file).toPath, StandardOpenOption.READ)
  private val reader = new ArrowFileReader(ch, alloc)
  private val blocks = reader.getRecordBlocks
  private val root = reader.getVectorSchemaRoot
  // prune by wrapping only the required vectors; a column that doesn't
  // resolve (file schema drifted after planning) fails loudly here
  private val batch = new ColumnarBatch(required.fieldNames.map { n =>
    val i = root.getSchema.getFields.asScala.indexWhere(_.getName == n)
    require(i >= 0, s"column '$n' missing from arrow file $file " +
      s"(schema ${root.getSchema}); all files must share one schema")
    new ArrowColumnVector(root.getVector(i)): ColumnVector
  })
  private var block = from

  override def next(): Boolean = {
    while (block < until) {
      reader.loadRecordBatch(blocks.get(block))
      block += 1
      if (root.getRowCount > 0) {
        batch.setNumRows(root.getRowCount)
        return true
      }
    }
    false
  }

  override def get(): ColumnarBatch = batch
  override def close(): Unit = { reader.close(); ch.close(); alloc.close() }
}
