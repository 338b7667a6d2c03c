package graft.sources.ods

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.connector.read.InputPartition
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import scala.collection.mutable.ArrayBuffer

import graft.sources.xlsx.{CellRowIterator, SheetDataSource, SheetFormat, SheetWriter, XCell, XlsxDataSource, XlsxInputPartition, XlsxOptions, XlsxSchema}

/** `spark.read.format("ods")` / `df.write.format("ods")` — the OpenDocument
  * spreadsheet twin of the xlsx source: the SAME DSv2 stack
  * ([[SheetDataSource]]: option surface, schema inference, NULL/coercion
  * rules, column pruning, filter pushdown, `paths`, columnar batches, write
  * path) over the ODF container parsed by [[OdsParser]].
  *
  * Scale shape matches the family design: one InputPartition per file
  * (deflate streams don't split; a directory fans out across the
  * cluster), schema from the first file only. The xlsx format keeps the
  * throughput engineering (byte-level scanner, intra-file threads); ods is
  * the completeness-family member and rides StAX on one thread per file. */
final class OdsDataSource extends SheetDataSource(OdsFormat)

object OdsFormat extends SheetFormat {
  override val name = "ods"
  override val streaming = false
  override val noInputFiles =
    "ods: no input files found — schema inference needs at least one document"

  /** An ods scan reads one table and its schema has no `_sheet_name`
    * column, so `allSheets` is rejected rather than silently ignored. */
  override def options(map: CaseInsensitiveStringMap): XlsxOptions = {
    val opts = XlsxOptions.from(map)
    if (opts.allSheets)
      throw new IllegalArgumentException(
        "ods: the allSheets option is not supported — an ods scan reads one " +
          "table; select it with sheetName or sheetIndex")
    opts
  }

  override def schema(path: String, opts: XlsxOptions): StructType =
    resolve(path, opts, XlsxDataSource.hadoopConf()).schema

  override def partitions(paths: Seq[String], opts: XlsxOptions): Array[InputPartition] =
    paths.map(p => XlsxInputPartition(p): InputPartition).toArray

  override def open(p: XlsxInputPartition, opts: XlsxOptions, conf: Configuration,
      batch: (Array[Array[XCell]], Int) => AnyRef): SheetFormat.Opened =
    SheetFormat.Opened(resolve(p.path, opts, conf), Left(new OdsRowFeed(p.path, opts, conf)))

  override def writer(out: java.io.OutputStream, sheetName: String,
      header: Option[Seq[String]]): SheetWriter =
    new OdsWriter.StreamingOdsWriter(out, sheetName, header)

  private[ods] def opener(path: String, conf: Configuration): () => java.io.InputStream = { () =>
    val p = new Path(path)
    p.getFileSystem(conf).open(p)
  }

  /** Probe the first two post-skip rows and resolve the schema with the
    * family's shared rules. */
  private def resolve(path: String, opts: XlsxOptions, conf: Configuration): XlsxSchema.Resolved = {
    val probe = ArrayBuffer[Array[XCell]]()
    var seen = 0
    OdsParser.foreachRow(opener(path, conf), opts.sheetName,
      opts.effectiveSheetIndex - 1, (_, cells) => {
        seen += 1
        if (seen > opts.skipRows) probe += cells
        probe.length < 2
      })
    XlsxSchema.fromProbe(probe.toSeq, opts)
  }
}

/** One ods table's rows as a pull iterator: a feeder thread bridges the
  * push-based StAX parse onto a bounded queue, the reader drains it. A
  * parse error surfaces on the consumer where the rows stop; close() stops
  * the parse promptly. */
private[ods] final class OdsRowFeed(path: String, opts: XlsxOptions,
    conf: Configuration) extends CellRowIterator {
  private val queue = new java.util.concurrent.ArrayBlockingQueue[AnyRef](256)
  private val Done = new Object
  @volatile private var err: Throwable = null
  @volatile private var closed = false
  private var pending: (Long, Array[XCell]) = _
  private var finished = false

  private val feeder = new Thread(() => {
    try {
      OdsParser.foreachRow(OdsFormat.opener(path, conf), opts.sheetName,
        opts.effectiveSheetIndex - 1, (i, cells) => {
          queue.put((i, cells))
          !closed // stop parsing promptly once the reader is closed
        })
    } catch { case t: Throwable => if (!closed) err = t }
    finally {
      // Done handshake must neither block forever (reader closed with a
      // full queue → no consumer) nor get lost (consumer still draining):
      // bounded offers until delivered or the reader is gone
      var delivered = false
      while (!delivered && !closed) {
        try delivered = queue.offer(Done, 50,
          java.util.concurrent.TimeUnit.MILLISECONDS)
        catch { case _: InterruptedException => delivered = closed }
      }
    }
  }, s"ods-feeder-$path")
  feeder.setDaemon(true)
  feeder.start()

  override def hasNext: Boolean = {
    if (pending != null) return true
    if (finished) return false
    queue.take() match {
      case Done =>
        finished = true
        if (err != null) throw err
        false
      case r =>
        pending = r.asInstanceOf[(Long, Array[XCell])]
        true
    }
  }

  override def next(): (Long, Array[XCell]) = {
    if (!hasNext) throw new NoSuchElementException
    val r = pending
    pending = null
    r
  }

  override def close(): Unit = {
    finished = true
    closed = true
    feeder.interrupt()
  }
}
