package graft.sources.xlsx

import java.util

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector
import org.apache.spark.sql.sources.{DataSourceRegister, Filter}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}
import org.apache.spark.unsafe.types.UTF8String

import scala.jdk.CollectionConverters._

/** What differs between the spreadsheet container formats — xlsx
  * ([[XlsxFormat]]) and ods ([[graft.sources.ods.OdsFormat]]). Everything
  * else of the two sources is the one DSv2 stack below: provider, table,
  * scan builder with pruning and filter pushdown, scan, reader factory,
  * the columnar reader, path resolution and the write stack. Every method
  * here runs once per scan or once per partition, never per row. */
trait SheetFormat extends Serializable {
  /** Short name of the source (`format("xlsx")`) and prefix of its errors. */
  def name: String
  /** File extension a directory path expands to. */
  def extension: String = "." + name
  /** Whether the source supports `readStream` (MICRO_BATCH_READ). */
  def streaming: Boolean
  /** The schema-inference error when a load resolves to no files. */
  def noInputFiles: String

  def options(map: CaseInsensitiveStringMap): XlsxOptions = XlsxOptions.from(map)

  /** Schema of one file's target sheet (data columns only). */
  def schema(path: String, opts: XlsxOptions): StructType

  def partitions(paths: Seq[String], opts: XlsxOptions): Array[InputPartition]

  /** One partition's resolved sheet and its rows: Left a row iterator the
    * reader batches itself, Right a parallel scanner whose workers already
    * apply `batch` (rows → ColumnarBatch, leading-drop count) per chunk. */
  def open(p: XlsxInputPartition, opts: XlsxOptions, conf: Configuration,
      batch: (Array[Array[XCell]], Int) => AnyRef): SheetFormat.Opened

  def writer(out: java.io.OutputStream, sheetName: String,
      header: Option[Seq[String]]): SheetWriter

  /** All concrete files of a scan: each `path` (or `paths` JSON array) entry
    * may be a file, a directory (expanded non-recursively to its members
    * with this format's extension) or a glob. */
  def resolvePaths(options: CaseInsensitiveStringMap): Seq[String] = {
    val raw: Seq[String] =
      Option(options.get("paths")).map { json =>
        new com.fasterxml.jackson.databind.ObjectMapper()
          .readValue(json, classOf[Array[String]]).toSeq
      }.getOrElse(Option(options.get("path")).toSeq)
    val conf = XlsxDataSource.hadoopConf()
    raw.flatMap { p =>
      val path = new Path(p)
      val fs = path.getFileSystem(conf)
      val matched = Option(fs.globStatus(path)).map(_.toSeq).getOrElse(Seq.empty)
      matched.flatMap { st =>
        if (st.isDirectory)
          fs.listStatus(st.getPath).toSeq
            .filter(f => f.isFile && f.getPath.getName.toLowerCase.endsWith(extension))
            .map(_.getPath.toString)
        else Seq(st.getPath.toString)
      }
    }.sorted
  }
}

object SheetFormat {
  final case class Opened(resolved: XlsxSchema.Resolved,
      rows: Either[CellRowIterator, ParallelSheetScanner])
}

/** A streaming one-sheet file writer: rows in, one container file out. */
trait SheetWriter {
  def addRow(values: Seq[Any]): Unit
  def finish(): Unit
}

/** The spreadsheet DSv2 provider, one subclass per registered format. */
abstract class SheetDataSource(format: SheetFormat)
    extends TableProvider with DataSourceRegister {
  override def shortName(): String = format.name
  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val paths = format.resolvePaths(options)
    if (paths.isEmpty) throw new IllegalArgumentException(format.noInputFiles)
    val opts = format.options(options)
    // Schema from the first file only — at scale you cannot open 10^6 files
    // at planning time; files are expected to be schema-homogeneous.
    val base = format.schema(paths.head, opts)
    if (opts.allSheets)
      StructType(base.fields :+
        StructField(XlsxDataSource.SheetNameCol, StringType, nullable = false))
    else base
  }

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val map = new CaseInsensitiveStringMap(properties)
    new SheetTable(format, schema, format.options(map), map)
  }
}

final class SheetTable(
    format: SheetFormat,
    schema: StructType,
    opts: XlsxOptions,
    options: CaseInsensitiveStringMap)
    extends Table with SupportsRead with SupportsWrite {

  override def name(): String = s"${format.name}:${Option(options.get("path")).getOrElse("")}"
  override def schema(): StructType = schema
  override def capabilities(): util.Set[TableCapability] = {
    val batch = Set(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE)
    (if (format.streaming) batch + TableCapability.MICRO_BATCH_READ else batch).asJava
  }

  override def newScanBuilder(caseInsensitiveStringMap: CaseInsensitiveStringMap): ScanBuilder =
    new SheetScanBuilder(format, schema, opts,
      format.resolvePaths(caseInsensitiveStringMap), caseInsensitiveStringMap)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new SheetWriteBuilder(format,
      Option(info.options.get("path")).getOrElse(
        throw new IllegalArgumentException(s"${format.name} write requires a path")),
      info.schema(), opts)
}

final class SheetScanBuilder(format: SheetFormat, fullSchema: StructType,
    opts: XlsxOptions, paths: Seq[String], options: CaseInsensitiveStringMap)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters {
  private var required: StructType = fullSchema
  private var pushed: Array[Filter] = Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit = {
    // Preserve fullSchema field order; Spark passes a subset.
    val keep = requiredSchema.fieldNames.toSet
    required = StructType(fullSchema.fields.filter(f => keep.contains(f.name)))
  }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(XlsxFilterEval.supported(fullSchema, _))
    // everything also stays residual: the reader's evaluation is a pure
    // early-skip optimization, Spark still re-checks
    filters
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def build(): Scan =
    new SheetScan(format, fullSchema, required, opts, paths, pushed, options)
}

final class SheetScan(
    format: SheetFormat,
    fullSchema: StructType,
    required: StructType,
    opts: XlsxOptions,
    paths: Seq[String],
    filters: Array[Filter],
    options: CaseInsensitiveStringMap)
    extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"${format.name} scan of ${paths.size} file(s), PushedFilters: [${filters.mkString(", ")}]"

  override def planInputPartitions(): Array[InputPartition] =
    format.partitions(paths, opts)

  override def createReaderFactory(): PartitionReaderFactory =
    new SheetReaderFactory(format, fullSchema, required, opts,
      XlsxDataSource.captureConf(), filters)

  /** Streaming face: the same scan over files arriving in a directory —
    * each micro-batch is the set of not-yet-seen files (one partition per
    * file, or per (file, sheet) under allSheets), the arrival pattern of a
    * spreadsheet drop-box. */
  override def toMicroBatchStream(checkpointLocation: String): org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new XlsxMicroBatchStream(format, fullSchema, required, opts, options, filters,
      checkpointLocation)
}

/** Batch and micro-batch scans read columnar only (ColumnarBatch per parse
  * chunk; Spark inserts codegen'd ColumnarToRow — the same shape as the
  * built-in vectorized parquet reader). */
final class SheetReaderFactory(
    format: SheetFormat,
    fullSchema: StructType,
    required: StructType,
    opts: XlsxOptions,
    conf: XlsxDataSource.ConfProps,
    filters: Array[Filter])
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    throw new UnsupportedOperationException(
      s"${format.name} scans read columnar batches only")

  override def supportColumnarReads(partition: InputPartition): Boolean = true

  override def createColumnarReader(partition: InputPartition): PartitionReader[ColumnarBatch] =
    new SheetColumnarReader(format, partition.asInstanceOf[XlsxInputPartition],
      fullSchema, required, opts, conf, filters)
}

/** Columnar scan over one partition's sheet. Each file re-resolves its own
  * header (a 2-row probe), so multi-file scans tolerate per-file header
  * rows; column mapping is positional, like the reference. When the format
  * opens a parallel scanner, its workers build one ColumnarBatch per
  * producer chunk, so the consumer thread's per-row work drops to a
  * metadata walk (row-index stitching + ragged checks) and Spark reads the
  * batch through codegen'd ColumnarToRow — the vectorized-parquet shape,
  * with no per-row InternalRow materialization anywhere on the sequential
  * stages. Sequential row iterators (one xlsx worker, a segment range, the
  * StAX/missing-entry fallback, ods) batch consumer-side into reused
  * vectors.
  */
final class SheetColumnarReader(
    format: SheetFormat,
    p: XlsxInputPartition,
    fullSchema: StructType,
    required: StructType,
    opts: XlsxOptions,
    conf: XlsxDataSource.ConfProps,
    filters: Array[Filter])
    extends PartitionReader[ColumnarBatch] {

  private val sheetNameBytes: Array[Byte] = p.sheet.map(_.name).getOrElse("")
    .getBytes(java.nio.charset.StandardCharsets.UTF_8)
  // positional index of each required column in the sheet; -1 marks the
  // allSheets metadata column, which has no sheet position. Sheet
  // positions count only DATA columns: a user-supplied schema may place
  // _sheet_name anywhere, and fieldIndex over the full schema would then
  // shift every column after it.
  private val dataFieldNames: Array[String] =
    if (opts.allSheets)
      fullSchema.fieldNames.filterNot(_ == XlsxDataSource.SheetNameCol)
    else fullSchema.fieldNames
  private val colIdx: Array[Int] = required.fieldNames.map { n =>
    if (opts.allSheets && n == XlsxDataSource.SheetNameCol) -1
    else dataFieldNames.indexOf(n)
  }
  private val colTypes: Array[DataType] = required.fields.map(_.dataType)
  private val typeCodes: Array[Int] = colTypes.map(XlsxPartitionReader.typeCode)
  // filters whose columns survive pruning can be evaluated on the row
  private val requiredIdx: Map[String, Int] =
    required.fieldNames.zipWithIndex.toMap
  private val evaluable = filters.filter(_.references.forall(requiredIdx.contains))

  /** Pushed-filter early skip on only the filter-referenced columns. */
  private def passes(cells: Array[XCell]): Boolean =
    evaluable.isEmpty || {
      val get: String => Any = name => {
        val i = requiredIdx(name)
        val c = colIdx(i)
        if (c < 0) UTF8String.fromBytes(sheetNameBytes)
        else XlsxPartitionReader.convert(
          if (c < cells.length) cells(c) else XCell.XNone,
          colTypes(i), opts.coerceToString)
      }
      evaluable.forall(XlsxFilterEval.eval(_, get))
    }

  private def writeRow(vectors: Array[OnHeapColumnVector], out: Int,
      cells: Array[XCell]): Unit = {
    var j = 0
    while (j < colIdx.length) {
      val c = colIdx(j)
      if (c < 0) vectors(j).putByteArray(out, sheetNameBytes)
      else XlsxPartitionReader.writeVector(vectors(j), out,
        if (c < cells.length) cells(c) else XCell.XNone,
        typeCodes(j), opts.coerceToString)
      j += 1
    }
  }

  /** Worker-side chunk transform: parsed rows → one ColumnarBatch, excluding
    * the producer-assigned leading-drop prefix and filter-rejected rows.
    * Thread-safe: allocates fresh vectors per chunk, touches no reader state
    * beyond immutable arrays. */
  private def buildBatch(rows: Array[Array[XCell]], dropFirst: Int): AnyRef = {
    val n = rows.length
    val vectors = colTypes.map(dt =>
      new OnHeapColumnVector(math.max(1, n - dropFirst), dt))
    var out = 0
    var i = dropFirst
    while (i < n) {
      val cells = rows(i)
      if (passes(cells)) { writeRow(vectors, out, cells); out += 1 }
      i += 1
    }
    new ColumnarBatch(vectors.toArray[ColumnVector], out)
  }

  private val opened = format.open(p, opts, conf.toConf, buildBatch)
  private val baseWidth = opened.resolved.baseWidth
  private val seqIter: CellRowIterator = opened.rows.left.toOption.orNull
  private val parIter: ParallelSheetScanner = opened.rows.toOption.orNull

  if (seqIter != null) {
    // Header/skipRows prefix still owed by THIS partition: ranged
    // partitions subtract the rows earlier ranges already cover.
    val dropRows = opened.resolved.dropRows.toLong
    val owed = p.segRange.map(r => math.max(0L, dropRows - r.rowsBefore))
      .getOrElse(dropRows)
    var dropped = 0L
    while (dropped < owed && seqIter.hasNext) {
      seqIter.next(); dropped += 1
    }
  }

  /** Reused across sequential batches (reset per fill), like the vectorized
    * parquet reader; worker-built batches are fresh per chunk instead. */
  private var seqVectors: Array[OnHeapColumnVector] = _
  private var current: ColumnarBatch = _
  private var lastIdx = -1L

  override def next(): Boolean = {
    if (parIter != null) {
      while (parIter.advanceChunk()) {
        // metadata walk: stitch implicit row indices across chunks and
        // ragged-check every non-dropped row (dropped header/skip rows are
        // exempt, same as the sequential path)
        val idx = parIter.chunkIdx
        val expl = parIter.chunkExplicitR
        val widths = parIter.chunkWidths
        val exempt = parIter.chunkDropped
        var i = 0
        while (i < idx.length) {
          val abs = if (expl(i)) idx(i) else lastIdx + 1
          lastIdx = abs
          if (i >= exempt)
            XlsxPartitionReader.raggedCheck(abs, widths(i), baseWidth)
          i += 1
        }
        val b = parIter.chunkBatch.asInstanceOf[ColumnarBatch]
        if (b.numRows > 0) { current = b; return true }
        b.close() // zero-row producer tail: skip and keep pulling
      }
      false
    } else {
      if (seqVectors == null)
        seqVectors = colTypes.map(dt =>
          new OnHeapColumnVector(SheetColumnarReader.SeqBatchRows, dt))
      else seqVectors.foreach(_.reset())
      var out = 0
      while (out < SheetColumnarReader.SeqBatchRows && seqIter.hasNext) {
        val (rowIdx, cells) = seqIter.next()
        XlsxPartitionReader.raggedCheck(rowIdx, cells.length, baseWidth)
        if (passes(cells)) { writeRow(seqVectors, out, cells); out += 1 }
      }
      if (out == 0) false
      else {
        current = new ColumnarBatch(seqVectors.toArray[ColumnVector], out)
        true
      }
    }
  }

  override def get(): ColumnarBatch = current
  override def close(): Unit =
    if (parIter != null) parIter.close() else seqIter.close()
}

object SheetColumnarReader {
  /** Consumer-side batch size for sequential scans: big enough to amortize
    * the per-batch handoff, small enough that 32 concurrent single-threaded
    * file tasks × a few live batches stay well inside executor memory. */
  val SeqBatchRows: Int = 4096
}

// ---------------------------------------------------------------------------
// Write path
// ---------------------------------------------------------------------------

final class SheetWriteBuilder(format: SheetFormat, path: String,
    schema: StructType, opts: XlsxOptions)
    extends WriteBuilder with SupportsTruncate {
  private var doTruncate = false
  override def truncate(): WriteBuilder = { doTruncate = true; this }

  override def build(): Write = new Write {
    override def toBatch: BatchWrite = new BatchWrite {
      override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
        // Driver-side: prepare the output directory.
        val p = new Path(path)
        val fs = p.getFileSystem(XlsxDataSource.hadoopConf())
        if (doTruncate && fs.exists(p)) fs.delete(p, true)
        fs.mkdirs(p)
        new SheetDataWriterFactory(format, path, schema, opts.writeHeader,
          opts.sheetName.getOrElse("Sheet1"), XlsxDataSource.captureConf())
      }
      override def commit(messages: Array[WriterCommitMessage]): Unit = ()
      override def abort(messages: Array[WriterCommitMessage]): Unit = ()
    }
  }
}

final class SheetDataWriterFactory(format: SheetFormat, path: String,
    schema: StructType, header: Boolean, sheetName: String,
    conf: XlsxDataSource.ConfProps)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new SheetDataWriter(format, path, schema, header, sheetName, partitionId, taskId, conf)
}

/** One file per write task, streamed row-by-row into the container. */
final class SheetDataWriter(
    format: SheetFormat,
    dir: String,
    schema: StructType,
    header: Boolean,
    sheetName: String,
    partitionId: Int,
    taskId: Long,
    conf: XlsxDataSource.ConfProps)
    extends DataWriter[InternalRow] {

  private val file = new Path(dir, f"part-$partitionId%05d-$taskId${format.extension}")
  private val fs = file.getFileSystem(conf.toConf)
  private val out = fs.create(file, true)
  private val sheet = format.writer(
    out, sheetName, if (header) Some(schema.fieldNames.toSeq) else None)

  override def write(record: InternalRow): Unit = {
    val vs: Seq[Any] = schema.fields.zipWithIndex.map { case (f, i) =>
      if (record.isNullAt(i)) null
      else f.dataType match {
        case StringType  => record.getUTF8String(i).toString
        case DoubleType  => record.getDouble(i)
        case FloatType   => record.getFloat(i).toDouble
        case IntegerType => record.getInt(i)
        case LongType    => record.getLong(i)
        case ShortType   => record.getShort(i).toInt
        case ByteType    => record.getByte(i).toInt
        case BooleanType => record.getBoolean(i)
        case DateType    => java.time.LocalDate.ofEpochDay(record.getInt(i).toLong)
        case other =>
          throw new IllegalArgumentException(
            s"${format.name} write: unsupported column type $other (supported: " +
              "string, double/float, int/long/short/byte, boolean, date)")
      }
    }.toSeq
    sheet.addRow(vs)
  }

  override def commit(): WriterCommitMessage = {
    sheet.finish()
    out.close()
    SheetCommit(file.toString)
  }

  override def abort(): Unit = {
    try { sheet.finish(); out.close() } catch { case _: Throwable => }
    try fs.delete(file, false) catch { case _: Throwable => }
  }

  override def close(): Unit = ()
}

final case class SheetCommit(path: String) extends WriterCommitMessage
