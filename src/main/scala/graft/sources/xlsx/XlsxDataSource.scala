package graft.sources.xlsx

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.read.InputPartition
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** `spark.read.format("xlsx")` / `df.write.format("xlsx")` — DataSource V2
  * re-expression of the reference's `sheetreader()` table function
  * (reference: src/sheetreader_extension.cpp:949-967 for the option surface,
  * :640-948 for bind-time schema determination).
  *
  * Spark-first design decisions (not a port):
  *   - One `InputPartition` per file: deflate streams aren't splittable, so
  *     at 100 TB the unit of parallelism is the file, and a directory of
  *     xlsx files fans out across the cluster. The reference's `threads`
  *     knob additionally engages intra-file parallelism INSIDE a partition
  *     ([[ParallelSheetScanner]]: inflate → row-boundary chunks → N-way
  *     parse) for the one-huge-workbook case where cores would otherwise
  *     idle.
  *   - Column pruning is pushed into the reader: pruned columns are never
  *     converted (SupportsPushDownRequiredColumns).
  *   - Multi-file scans (directory / glob) are a superset of the reference,
  *     which errors on more than one file (:650).
  */
final class XlsxDataSource extends SheetDataSource(XlsxFormat)

/** The xlsx container: SpreadsheetML worksheets in a zip, read by the
  * byte-level [[SheetScanner]], its chunked [[ParallelSheetScanner]] and
  * segment-range slices of indexed workbooks. */
object XlsxFormat extends SheetFormat {
  override val name = "xlsx"
  override val streaming = true
  override val noInputFiles: String =
    "xlsx: no input files found — schema inference needs at least one " +
      "workbook. To stream a drop-box directory that starts empty, " +
      "supply the schema explicitly with .schema(...)"

  override def schema(path: String, opts: XlsxOptions): StructType =
    XlsxSchema.resolve(XlsxDataSource.workbook(path, XlsxDataSource.hadoopConf(),
      opts.maxSharedStringsBytes), opts).schema

  override def partitions(paths: Seq[String], opts: XlsxOptions): Array[InputPartition] =
    XlsxScan.partitionsFor(paths, opts)

  /** A segment-range partition reads its bounded slice sequentially (the
    * split IS the parallelism); `threads >= 2` on a byte-scannable entry
    * opens the parallel scanner with worker-side batching; else the
    * sequential scanner. */
  override def open(p: XlsxInputPartition, opts: XlsxOptions, conf: Configuration,
      batch: (Array[Array[XCell]], Int) => AnyRef): SheetFormat.Opened = {
    val wb = XlsxDataSource.workbook(p.path, conf, opts.maxSharedStringsBytes)
    val resolved = XlsxSchema.resolve(wb, opts, p.sheet.map(_.target))
    val target = p.sheet.map(_.target).getOrElse(
      wb.sheetPath(opts.sheetName, opts.effectiveSheetIndex))
    val rows = p.segRange match {
      case Some(r) =>
        Left(wb.segmentRangeRowIterator(target, r.s0, r.s1).getOrElse(
          throw new IllegalStateException(
            s"${p.path}: segment index vanished for range [${r.s0},${r.s1}) — " +
              "a whole-file fallback would DUPLICATE rows across partitions")))
      case None if p.threads >= 2 =>
        wb.chunkingRowIterator(target, p.threads, batch,
          resolved.dropRows.toLong, opts.chunkBytes)
      case None => Left(wb.rowIterator(target))
    }
    SheetFormat.Opened(resolved, rows)
  }

  override def writer(out: java.io.OutputStream, sheetName: String,
      header: Option[Seq[String]]): SheetWriter =
    new XlsxWriter.StreamingWorkbookWriter(out, sheetName, header)
}

object XlsxDataSource {
  /** Name of the per-row sheet column the allSheets scan appends. */
  val SheetNameCol = "_sheet_name"

  def hadoopConf(): Configuration =
    SparkSession.getActiveSession
      .map(_.sessionState.newHadoopConf())
      .getOrElse(new Configuration())

  /** Driver-captured hadoop conf entries, rebuilt per executor task — a
    * bare `new Configuration()` on executors would drop every
    * spark.hadoop.* session setting (object-store credentials etc.). */
  final case class ConfProps(props: Array[(String, String)]) extends Serializable {
    def toConf: Configuration = {
      val c = new Configuration(false)
      props.foreach { case (k, v) => c.set(k, v) }
      c
    }
  }

  def captureConf(): ConfProps = {
    import scala.jdk.CollectionConverters._
    ConfProps(hadoopConf().iterator().asScala
      .map(e => e.getKey -> e.getValue).toArray)
  }

  def workbook(path: String, conf: Configuration,
      maxSharedStringsBytes: Long = SharedStringsScanner.DefaultMaxBytes): XlsxParser.Workbook = {
    // The open() thunk re-opens the stream per zip-entry family; capture
    // only the path string so the workbook is usable on executors. Local
    // paths additionally get ZipFile central-directory seeks.
    val uri = new Path(path).toUri
    val local =
      if (uri.getScheme == null || uri.getScheme == "file")
        Some(new java.io.File(uri.getPath)).filter(_.isFile)
      else None
    new XlsxParser.Workbook(() => {
      val p = new Path(path)
      p.getFileSystem(conf).open(p)
    }, local, maxSharedStringsBytes)
  }
}

object XlsxScan {
  /** Above this file count, allSheets enumeration runs as a Spark job
    * instead of a driver-side pool. The driver pool (16 threads, one
    * workbook.xml read per file) is fine to ~10^5 files; beyond that the
    * driver becomes the planning bottleneck and the cluster should do the
    * metadata reads — the same cutover logic Spark's own file listing
    * (`parallelPartitionDiscoveryThreshold`) applies. */
  val DistributedEnumerationCutover: Int = 8192

  /** Partitions for a concrete file list: one per file, or — under
    * allSheets — one per (file, sheet). Sheet enumeration needs each
    * file's workbook.xml: below `cutover` files it is a driver-side
    * metadata read on a bounded pool (the planning-time cost class of
    * parquet footer reads); above, a distributed flatMap over the path
    * list with results collected to the planner — O(paths) tiny tuples,
    * not data. Both paths return identical partitions in identical order
    * (spec-asserted). */
  def partitionsFor(paths: Seq[String], opts: XlsxOptions,
      cutover: Int = DistributedEnumerationCutover): Array[InputPartition] =
    assignThreads(
      trySplitByIndex(rawPartitionsFor(paths, opts, cutover), opts), opts)

  /** DISTRIBUTED SINGLE-FILE SCAN: when the scan would under-parallelize
    * (fewer partitions than cores) and a workbook carries the graft
    * row-group index (splittable xlsx, SURVEY #336), split it into
    * SEGMENT-RANGE partitions instead of fanning intra-task threads —
    * partition-level parallelism schedules, retries, and scales across
    * EXECUTORS, which no thread pool inside one task can. A 10 GB
    * workbook stops being one task. Cores deal to files proportional to
    * their segment counts; an explicit `threads` option preserves the
    * reference's intra-file semantics verbatim (no split); foreign
    * workbooks (no index) keep the thread fan-out path. */
  private def trySplitByIndex(parts: Array[XlsxInputPartition],
      opts: XlsxOptions): Array[XlsxInputPartition] = {
    if (opts.threads.nonEmpty || parts.isEmpty) return parts
    val cores = executorCores()
    if (parts.length >= cores) return parts
    val conf = XlsxDataSource.captureConf()
    val metas: Array[Option[ParallelSheetScanner.SegmentIndex]] = parts.map { p =>
      try {
        val wb = XlsxDataSource.workbook(p.path, conf.toConf,
          opts.maxSharedStringsBytes)
        val target = p.sheet.map(_.target).getOrElse(
          wb.sheetPath(opts.sheetName, opts.effectiveSheetIndex))
        wb.segmentIndexRaw(target).filter(_.cuts.nonEmpty)
      } catch { case _: Exception => None }
    }
    if (metas.forall(_.isEmpty)) return parts
    val totalSegs = metas.zipWithIndex.map { case (m, _) =>
      m.map(_.cuts.length + 1).getOrElse(1)
    }.sum
    parts.zip(metas).flatMap {
      case (p, None) => Seq(p)
      case (p, Some(si)) =>
        val nSeg = si.cuts.length + 1
        val k = math.max(1, math.min(nSeg,
          (cores.toLong * nSeg / math.max(1, totalSegs)).toInt))
        if (k <= 1) Seq(p)
        else (0 until k).map { j =>
          val s0 = (j.toLong * nSeg / k).toInt
          val s1 = ((j + 1).toLong * nSeg / k).toInt
          val rowsBefore = if (s0 == 0) 0L else si.cuts(s0 - 1)(2)
          p.copy(segRange = Some(SegRange(s0, s1, rowsBefore)))
        }
    }
  }

  private def rawPartitionsFor(paths: Seq[String], opts: XlsxOptions,
      cutover: Int): Array[XlsxInputPartition] =
    if (!opts.allSheets)
      paths.map(p => XlsxInputPartition(p)).toArray
    else {
      val conf = XlsxDataSource.captureConf()
      val spark = SparkSession.getActiveSession
      if (paths.size > cutover && spark.isDefined) {
        val sc = spark.get.sparkContext
        val nTasks = math.max(1, math.min(2000, paths.size / 64))
        sc.parallelize(paths, nTasks)
          .flatMap { p =>
            val wb = XlsxDataSource.workbook(p, conf.toConf)
            wb.sheets.map(si => (p, si.name, si.target))
          }
          .collect() // partition-index order == paths order: deterministic
          .map { case (p, n, t) =>
            XlsxInputPartition(p, Some(SheetRef(n, t)))
          }
      } else {
        val pool = java.util.concurrent.Executors.newFixedThreadPool(
          math.max(1, math.min(16, paths.size)))
        try {
          val futures = paths.map { p =>
            pool.submit(new java.util.concurrent.Callable[Seq[XlsxInputPartition]] {
              override def call(): Seq[XlsxInputPartition] = {
                val wb = XlsxDataSource.workbook(p, conf.toConf)
                wb.sheets.map(si =>
                  XlsxInputPartition(p, Some(SheetRef(si.name, si.target))))
              }
            })
          }
          futures.flatMap(_.get()).toArray
        } finally pool.shutdown()
      }
    }

  /** Per-partition intra-file parse workers. An explicit `threads` option
    * applies verbatim to every partition (the reference's semantics). AUTO
    * (option absent) mirrors the reference's cores/2 default without
    * oversubscribing a busy scan: when the scan already has at least as
    * many partitions as executor cores every task stays single-threaded;
    * when cores would idle, the spare ones are dealt to partitions
    * PROPORTIONAL TO FILE BYTES (one metadata getFileStatus per distinct
    * file — only taken on small-partition-count scans by construction), so
    * a single huge workbook engages ~cores/2 workers and the one 10 GB
    * straggler in a skewed directory gets the capacity its bytes demand
    * while its small siblings stay at 1. */
  private def assignThreads(parts: Array[XlsxInputPartition],
      opts: XlsxOptions): Array[InputPartition] = opts.threads match {
    case Some(t) => parts.map(p => p.copy(threads = t): InputPartition)
    case None =>
      val cores = executorCores()
      if (parts.length >= cores || parts.isEmpty)
        parts.map(p => p: InputPartition)
      else {
        val conf = XlsxDataSource.hadoopConf()
        val bytes: Map[String, Double] = parts.map(_.path).distinct.map { p =>
          val path = new Path(p)
          val len = try path.getFileSystem(conf).getFileStatus(path).getLen.toDouble
            catch { case _: Exception => 1.0 }
          p -> math.max(1.0, len)
        }.toMap
        // a file's sheets split the file's weight (allSheets fan-out)
        val sheetsPerFile = parts.groupBy(_.path).view.mapValues(_.length).toMap
        val weights = parts.map(p => bytes(p.path) / sheetsPerFile(p.path))
        val total = weights.sum
        val spare = cores - parts.length
        val cap = math.max(1, cores / 2) // reference's single-file default
        parts.zip(weights).map { case (p, w) =>
          // segment-range partitions stay single-threaded: their file's
          // parallelism already went partition-shaped in trySplitByIndex
          if (p.segRange.isDefined) p: InputPartition
          else {
            val t = 1 + math.round(spare * w / total).toInt
            p.copy(threads = math.min(cap, t)): InputPartition
          }
        }
      }
  }

  /** Cores one task can realistically fan worker threads across: the
    * per-executor core count on a cluster; the local[N] thread count in
    * local mode (defaultParallelism). */
  private def executorCores(): Int =
    SparkSession.getActiveSession.map { s =>
      s.sparkContext.getConf.getOption("spark.executor.cores").map(_.toInt)
        .getOrElse(s.sparkContext.defaultParallelism)
    }.getOrElse(Runtime.getRuntime.availableProcessors())
}

/** A specific worksheet inside one file (allSheets fan-out unit). */
final case class SheetRef(name: String, target: String)

/** Segments [s0, s1) of an INDEXED worksheet (splittable xlsx, SURVEY
  * #336/#337): the planner-computed slice one task reads, plus the rows
  * preceding it (so header/skipRows prefixes deal across partitions
  * exactly). Ranged partitions are always single-threaded — the split IS
  * the parallelism, scheduled and retried like any other Spark task. */
final case class SegRange(s0: Int, s1: Int, rowsBefore: Long)

/** One partition of a spreadsheet scan; ods partitions carry only `path`. */
final case class XlsxInputPartition(path: String, sheet: Option[SheetRef] = None,
    /** Intra-file parse workers for THIS partition (planner-assigned). */
    threads: Int = 1,
    /** Segment-range slice of an indexed workbook (splittable path). */
    segRange: Option[SegRange] = None)
    extends InputPartition

/** Cell → Catalyst rules of the spreadsheet scans, shared by both formats. */
object XlsxPartitionReader {
  /** Cell → Catalyst value under the reference's compatibility rules
    * (TypesCompatible, sheetreader_extension.cpp:225-250): exact type match
    * materializes; STRING additionally accepts any cell when coerceToString;
    * everything else (and empty/error cells) is NULL.
    */
  def convert(cell: XCell, dt: DataType, coerce: Boolean): Any = (dt, cell) match {
    case (StringType, XCell.XString(s)) => UTF8String.fromString(s)
    // user-supplied schemas (spark.read.schema(...)) may narrow numerics
    case (LongType, XCell.XNumber(d))    => d.toLong
    case (IntegerType, XCell.XNumber(d)) => d.toInt
    case (FloatType, XCell.XNumber(d))   => d.toFloat
    case (StringType, XCell.XNumber(d)) if coerce =>
      // std::to_string(double): fixed 6 decimals (reference :182-221)
      UTF8String.fromString(String.format(java.util.Locale.ROOT, "%f", Double.box(d)))
    case (StringType, XCell.XBool(b)) if coerce =>
      UTF8String.fromString(if (b) "TRUE" else "FALSE")
    case (StringType, XCell.XDate(serial)) if coerce =>
      UTF8String.fromString(
        java.time.LocalDate.ofEpochDay(XCell.serialToEpochDay(serial).toLong).toString)
    case (DoubleType, XCell.XNumber(d)) => d
    case (BooleanType, XCell.XBool(b))  => b
    case (DateType, XCell.XDate(serial)) => XCell.serialToEpochDay(serial)
    case _ => null
  }

  // compact type codes so the per-cell hot loop switches on an int instead
  // of pattern-matching a DataType
  final val TDouble = 0; final val TString = 1; final val TBool = 2
  final val TDate = 3; final val TLong = 4; final val TInt = 5; final val TFloat = 6
  // Catch-all for DataTypes with no xlsx representation (user-supplied
  // TimestampType/DecimalType/... via supportsExternalMetadata): `convert`
  // reads them as NULL, so the vector writer must too.
  final val TNull = 7

  def typeCode(dt: DataType): Int = dt match {
    case DoubleType  => TDouble
    case StringType  => TString
    case BooleanType => TBool
    case DateType    => TDate
    case LongType    => TLong
    case IntegerType => TInt
    case FloatType   => TFloat
    case _           => TNull
  }

  /** Unboxed twin of [[convert]]: same value/NULL semantics, writing the
    * cell into a WritableColumnVector slot. Every (code, cell) pair MUST
    * mirror `convert` — the xlsx oracle suite rides this path end-to-end
    * for every batch scan. */
  def writeVector(
      v: org.apache.spark.sql.execution.vectorized.WritableColumnVector,
      i: Int, cell: XCell, code: Int, coerce: Boolean): Unit = (code: @annotation.switch) match {
    case TDouble => cell match {
      case XCell.XNumber(d) => v.putDouble(i, d)
      case _ => v.putNull(i)
    }
    case TString => cell match {
      case XCell.XString(s) =>
        v.putByteArray(i, s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      case XCell.XNumber(d) if coerce =>
        v.putByteArray(i, String.format(java.util.Locale.ROOT, "%f", Double.box(d))
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      case XCell.XBool(b) if coerce =>
        v.putByteArray(i, (if (b) "TRUE" else "FALSE")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      case XCell.XDate(serial) if coerce =>
        v.putByteArray(i, java.time.LocalDate.ofEpochDay(
          XCell.serialToEpochDay(serial).toLong).toString
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      case _ => v.putNull(i)
    }
    case TBool => cell match {
      case XCell.XBool(b) => v.putBoolean(i, b)
      case _ => v.putNull(i)
    }
    case TDate => cell match {
      case XCell.XDate(serial) => v.putInt(i, XCell.serialToEpochDay(serial))
      case _ => v.putNull(i)
    }
    case TLong => cell match {
      case XCell.XNumber(d) => v.putLong(i, d.toLong)
      case _ => v.putNull(i)
    }
    case TInt => cell match {
      case XCell.XNumber(d) => v.putInt(i, d.toInt)
      case _ => v.putNull(i)
    }
    case TFloat => cell match {
      case XCell.XNumber(d) => v.putFloat(i, d.toFloat)
      case _ => v.putNull(i)
    }
    case TNull => v.putNull(i)
  }

  /** Ragged-wide row is an error (reference: sheetreader_extension.cpp:417-422). */
  def raggedCheck(rowIdx: Long, width: Int, baseWidth: Int): Unit =
    if (width > baseWidth)
      throw new IllegalStateException(
        s"Row ${rowIdx + 1} has more columns than the first row. " +
          s"Has: $width Expected: $baseWidth")
}
