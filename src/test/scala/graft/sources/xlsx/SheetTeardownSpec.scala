package graft.sources.xlsx

import java.io.ByteArrayOutputStream

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.SparkSpec
import graft.sources.ods.{OdsFormat, OdsWriter}

/** Scan-thread teardown: a failing or early-closed spreadsheet scan must
  * surface its FIRST error and leave no parse, producer, inflate or ods
  * feeder thread behind. */
class SheetTeardownSpec extends SparkSpec {

  private val ScanThreadNames = Seq("xlsx-parse-", "xlsx-chunk-producer", "xlsx-inflate", "ods-feeder-")

  private def scanThreads(): Seq[String] =
    Thread.getAllStackTraces.keySet.asScala.toSeq
      .filter(t => t.isAlive && ScanThreadNames.exists(t.getName.startsWith))
      .map(_.getName)

  private def assertNoScanThreads(): Unit = {
    val deadline = System.currentTimeMillis + 5000
    while (scanThreads().nonEmpty && System.currentTimeMillis < deadline) Thread.sleep(20)
    assert(scanThreads().isEmpty, s"scan threads left behind: ${scanThreads()}")
  }

  private def tempFile(suffix: String, bytes: Array[Byte]): String = {
    val f = java.io.File.createTempFile("teardown", suffix)
    f.deleteOnExit()
    java.nio.file.Files.write(f.toPath, bytes)
    f.getAbsolutePath
  }

  /** 20k rows x 3 columns: dozens of 32 KiB chunks. Two parse workers keep
    * the streaming producer (not a row-group index) cutting them. Rows in
    * `wide` carry an extra fourth cell. */
  private def workbook(wide: Set[Int] = Set.empty): String = {
    val bos = new ByteArrayOutputStream()
    val rows = (1 to 20000).iterator.map { i =>
      val base = Seq[Any](i.toDouble, s"name-$i", i * 0.5)
      if (wide(i)) base :+ "extra" else base
    }
    XlsxWriter.write(bos, Seq(XlsxWriter.SheetSpec("S", Some(Seq("id", "nm", "v")), rows)))
    tempFile(".xlsx", bos.toByteArray)
  }

  private def options(kv: (String, String)*): XlsxOptions =
    XlsxOptions.from(new CaseInsensitiveStringMap(kv.toMap.asJava))

  private def reader(format: SheetFormat, path: String, opts: XlsxOptions,
      threads: Int) = {
    val schema: StructType = format.schema(path, opts)
    new SheetReaderFactory(format, schema, schema, opts,
      XlsxDataSource.captureConf(), Array.empty)
      .createColumnarReader(XlsxInputPartition(path, threads = threads))
  }

  test("a malformed cell in a late chunk surfaces the first error and stops every scan thread") {
    // data rows 15000 and 18000 are wider than the header: sheet rows 15001 and 18001
    val p = workbook(wide = Set(15000, 18000))
    val e = intercept[Exception] {
      spark.read.format("xlsx").option("threads", "2").option("chunkBytes", "32768")
        .load(p).collect()
    }
    val msgs = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .map(m => Option(m.getMessage).getOrElse("")).mkString("; ")
    assert(msgs.contains("Row 15001 has more columns than the first row"), msgs)
    assert(!msgs.contains("Row 18001"), msgs)
    assertNoScanThreads()
  }

  test("a DSv2 xlsx reader closed mid-stream stops every scan thread") {
    val p = workbook()
    val r = reader(XlsxFormat, p, options("chunkBytes" -> "32768"), threads = 2)
    try {
      assert(r.next())
      assert(r.get().numRows > 0)
      assert(scanThreads().exists(_.startsWith("xlsx-parse-")), scanThreads())
    } finally r.close()
    assertNoScanThreads()
  }

  /** 20k rows x 2 columns of ods; rows in `wide` carry a third cell. */
  private def document(wide: Set[Int] = Set.empty): String = {
    val bos = new ByteArrayOutputStream()
    val w = new OdsWriter.StreamingOdsWriter(bos, "S", Some(Seq("id", "nm")))
    (1 to 20000).foreach { i =>
      val base = Seq[Any](i.toDouble, s"name-$i")
      w.addRow(if (wide(i)) base :+ "extra" else base)
    }
    w.finish()
    tempFile(".ods", bos.toByteArray)
  }

  test("a malformed ods row surfaces the first error and stops the feeder") {
    val p = document(wide = Set(15000, 18000))
    val e = intercept[Exception](spark.read.format("ods").load(p).collect())
    val msgs = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .map(m => Option(m.getMessage).getOrElse("")).mkString("; ")
    assert(msgs.contains("Row 15001 has more columns than the first row"), msgs)
    assert(!msgs.contains("Row 18001"), msgs)
    assertNoScanThreads()
  }

  test("an ods reader closed mid-stream stops its feeder thread") {
    val p = document()
    val r = reader(OdsFormat, p, options(), threads = 1)
    try {
      assert(r.next())
      assert(r.get().numRows == SheetColumnarReader.SeqBatchRows)
      assert(scanThreads().exists(_.startsWith("ods-feeder-")), scanThreads())
    } finally r.close()
    assertNoScanThreads()
  }
}
