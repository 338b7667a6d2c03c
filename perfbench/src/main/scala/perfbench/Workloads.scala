package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.Random
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.sources.ods.{OdsParser, OdsWriter}
import graft.sources.xlsx.{XlsxDataSource, XlsxInputPartition, XlsxSchema, XlsxOptions, XlsxWriter}
import Main.{Args, Op, Workload}

object Workloads {
  /** lineitem at sf0.1; the run's seed draws the sample and its order. */
  val LineitemRows = 600000L
  /** Seed of the generated tables themselves; fixed, so expected outputs
    * can be tabulated. */
  val DataSeed = 42L

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** A seeded sample of lineitem (one row in `every`), in seeded order,
    * with `l_shipdate` as a date (the xlsx writer takes no timestamps) and a
    * seeded `l_comment` of 2-4 words, which fills the shared-strings table. */
  def lineitemSample(spark: SparkSession, seed: Long, every: Int): DataFrame = {
    val id = col("id")
    val ids = spark.range(LineitemRows).toDF().where(pmod(xxhash64(id, lit(seed)), lit(every.toLong)) === 0)
    DataGen.lineitem(ids, LineitemRows, DataSeed)
      .withColumn("l_shipdate", col("l_shipdate").cast("date"))
      .withColumn("l_comment", DataGen.words(id, seed, 2, 4))
      .orderBy(xxhash64(id, lit(seed + 1)))
      .drop("id")
  }

  def time[T](body: => T): (T, Double) = {
    val t0 = Util.now(); val r = body; (r, Util.secs(t0, Util.now()))
  }

  /** Layer probes on the workbook at `path`, each a call into a public seam
    * of `graft.sources.xlsx`, the median of three rounds. Partitions and
    * parse workers are the planner's for a default scan of it. The scan's
    * exec time less shared strings and parse is the handoff: DSv2
    * conversion and columnar build. */
  def xlsxReadProbes(spark: SparkSession, tr: Tracer, path: String,
      scanExecS: Double): Map[String, Double] = {
    val conf = XlsxDataSource.hadoopConf()
    val scan = spark.read.format("xlsx").load(path)
    val parts = scan.queryExecution.executedPlan.collect { case b: BatchScanExec => b.inputPartitions }
      .flatten.collect { case x: XlsxInputPartition => x }
    val autoThreads = parts.map(_.threads).max
    val opts = XlsxOptions.from(new org.apache.spark.sql.util.CaseInsensitiveStringMap(
      java.util.Collections.emptyMap[String, String]()))
    def drain(it: graft.sources.xlsx.CellRowIterator): Long = {
      var cells = 0L
      try while (it.hasNext) cells += it.next()._2.length finally it.close()
      cells
    }
    val rounds = (0 until 3).map { _ =>
      val ((wb, sheet), openS) = time(tr("xlsx.open") {
        val wb = XlsxDataSource.workbook(path, conf)
        wb.sheets
        (wb, wb.sheetPath(None, 1))
      })
      val (strings, ssS) = time(tr("xlsx.shared_strings")(wb.sharedStrings.length))
      val (_, schemaS) = time(tr("xlsx.schema")(XlsxSchema.resolve(wb, opts)))
      val (bytes, inflateS) = time(tr("xlsx.inflate_floor") {
        val z = new java.util.zip.ZipFile(path)
        try {
          val in = z.getInputStream(z.getEntry(sheet))
          val buf = new Array[Byte](1 << 16)
          var total = 0L; var k = in.read(buf)
          while (k >= 0) { total += k; k = in.read(buf) }
          in.close(); total
        } finally z.close()
      })
      val (cells, t1S) = time(tr("xlsx.parse_t1")(drain(wb.rowIterator(sheet, 1))))
      val (_, autoS) = time(tr("xlsx.parse_auto")(drain(wb.rowIterator(sheet, autoThreads))))
      Map("xlsx.open_s" -> openS, "xlsx.shared_strings_s" -> ssS,
        "xlsx.shared_strings_n" -> strings.toDouble, "xlsx.schema_s" -> schemaS,
        "xlsx.inflate_floor_s" -> inflateS, "xlsx.sheet_bytes" -> bytes.toDouble,
        "xlsx.parse_t1_s" -> t1S, "xlsx.parse_auto_s" -> autoS, "xlsx.parse_cells" -> cells.toDouble)
    }
    val med = rounds.head.keys.map(k => k -> Util.median(rounds.map(_(k)))).toMap
    med ++ Map(
      "xlsx.parse_auto_threads" -> autoThreads.toDouble,
      "xlsx.partitions" -> parts.size.toDouble,
      "xlsx.handoff_s" -> (scanExecS - med("xlsx.shared_strings_s") - med("xlsx.parse_auto_s")),
      "xlsx.leftover_threads" -> Main.leftoverThreads())
  }
}

import Workloads._

/** One large Excel-style workbook, scanned whole with default options.
  * Its traced run also times the write path and the ods source on the same
  * rows, as per-layer numbers. */
final class XlsxForeign(spark: SparkSession, args: Args, n: Int) extends Workload {
  private val SampleEvery = 8
  private val Columns = Seq("l_orderkey", "l_partkey", "l_quantity", "l_extendedprice",
    "l_discount", "l_returnflag", "l_shipdate", "l_comment")
  private val dir = args.root.resolve("fixture")
  private var file: Path = _
  private var source: (StructType, Array[Row]) = _
  private var expected: Seq[String] = Nil
  private var fileBytes = 0L
  val failedChecks = mutable.Set.empty[String]

  def buildFixture(i: Int): Unit = {
    Files.createDirectories(dir)
    val f = dir.resolve(s"lineitem-$i.xlsx")
    val src = lineitemSample(spark, args.seed, SampleEvery).select(Columns.map(col): _*).cache()
    val rows = src.collect()
    ForeignXlsx.write(src.schema, rows.toSeq, f)
    ForeignXlsx.checkForeign(f).foreach { msg =>
      System.err.println(s"perfbench: fixture is not foreign-style: $msg")
      failedChecks += "xlsx_scan"
    }
    expected = Util.checksums(src)
    src.unpersist()
    if (args.corrupt) expected = expected.updated(1, expected(1) + "1")
    if (file != null) Files.deleteIfExists(file)
    file = f
    fileBytes = Files.size(f)
    source = (src.schema, rows)
  }

  private def scan(): DataFrame = spark.read.format("xlsx").load(file.toString)

  /** Ten scans: op times keep falling over the first ten or so. */
  def warmUp(): Unit = {
    (0 until 10).foreach(_ => noop(scan()))
    val got = Util.checksums(scan())
    if (got != expected) {
      System.err.println(s"perfbench: scan checksums $got != expected $expected")
      failedChecks += "xlsx_scan"
    }
  }

  def passOps(pass: Int): Seq[Op] = Seq(Op("xlsx_scan", "xlsx", () => scan(), noop))
  def rows: Long = expected.head.toLong
  def cellsPerPass: Long = rows * Columns.size

  def probes(tr: Tracer, opMedians: Map[String, Double]): Map[String, Double] = {
    val scanExec = opMedians.getOrElse("xlsx_scan.exec_s", 0.0)
    xlsxReadProbes(spark, tr, file.toString, scanExec) ++ Map(
      "xlsx.scan_build_s" -> opMedians.getOrElse("xlsx_scan.build_s", 0.0),
      "xlsx.scan_exec_s" -> scanExec) ++ writeProbes(tr)
  }

  /** The write path and the ods source on the fixture's rows: the writers
    * into a counting null stream on one thread, then DSv2 write jobs into
    * more files than cores and an ods scan back, each the median of three. */
  private def writeProbes(tr: Tracer): Map[String, Double] = {
    val (schema, all) = source
    val header = schema.fieldNames.toSeq
    val local: Seq[Seq[Any]] = all.take(20000).toSeq.map(_.toSeq.map {
      case d: java.sql.Date => d.toLocalDate
      case v => v
    })
    val cells = local.size.toDouble * header.size
    def med(f: => Unit): Double = Util.median((0 until 3).map(_ => time(f)._2))
    val xw = med(tr("xlsx.writer")(XlsxWriter.write(new Util.CountingSink,
      Seq(XlsxWriter.SheetSpec("lineitem", Some(header), local.iterator)))))
    val ow = med(tr("ods.writer") {
      val w = new OdsWriter.StreamingOdsWriter(new Util.CountingSink, "lineitem", Some(header))
      local.foreach(w.addRow); w.finish()
    })
    val df = spark.createDataFrame(java.util.Arrays.asList(all: _*), schema).repartition(2 * n).cache()
    df.count()
    val xdir = args.root.resolve("out-xlsx").toString
    val odir = args.root.resolve("out-ods").toString
    val xj = med(tr("xlsx.write_job")(df.write.format("xlsx").mode("overwrite").save(xdir)))
    val oj = med(tr("ods.write_job")(df.write.format("ods").mode("overwrite").save(odir)))
    val os = med(tr("ods.scan")(noop(spark.read.format("ods").load(odir))))
    def written(d: String, ext: String) =
      Files.list(Paths.get(d)).iterator().asScala.filter(_.toString.endsWith(ext)).toSeq.sortBy(_.toString)
    var odsCells = 0L
    val firstO = written(odir, ".ods").head
    val op = med(tr("ods.parse") {
      odsCells = 0L
      OdsParser.foreachRow(() => Files.newInputStream(firstO), None, 0,
        (_, cs) => { odsCells += cs.length; true })
    })
    df.unpersist()
    Map(
      "xlsx.writer_cells_per_s" -> cells / xw,
      "xlsx.write_job_s" -> xj,
      "xlsx.write_bytes" -> written(xdir, ".xlsx").map(Files.size).sum.toDouble,
      "xlsx.write_files" -> written(xdir, ".xlsx").size.toDouble,
      "ods.writer_cells_per_s" -> cells / ow,
      "ods.parse_cells_per_s" -> odsCells / op,
      "ods.write_job_s" -> oj,
      "ods.scan_exec_s" -> os)
  }

  def provenance: Seq[(String, String)] = Seq(
    "fixture" -> s"""{"rows": $rows, "columns": ${Columns.size}, "bytes": $fileBytes, "style": "excel, shared strings, no row-group index"}""")

  def cleanup(): Unit = {
    Seq("fixture", "out-xlsx", "out-ods").foreach(d => Util.deleteTree(args.root.resolve(d)))
  }
}

/** A seeded, family-stratified sample of the query faces, run in passes. */
final class QueryMix(spark: SparkSession, args: Args, n: Int) extends Workload {
  import QueryMix.Face

  /** Faces per family in one pass. */
  private val SampleSeed = 1L
  private val table: Seq[Face] = Files.readAllLines(Paths.get(args.faces)).asScala.toSeq
    .filterNot(l => l.startsWith("#") || l.trim.isEmpty).map(_.split("\t")).map(c =>
      Face(c(0), c(1), c(2).toDouble, c(3)))

  /** One face per family, drawn with a fixed seed from the second quarter
    * of the family's faces sorted by reference time: a face of every
    * family, and a pass short enough to run twice in a run. The run's seed
    * only orders the faces of each pass: per-run samples moved pass_s by
    * 11% and op_p50_s by 25% (quartile spread over five seeds), more than
    * any useful bound. */
  val sample: Seq[Face] = {
    val rnd = new Random(SampleSeed)
    Main.Families.map { f =>
      val fs = table.filter(_.family == f).sortBy(_.refS)
      val quarter = fs.slice(fs.size / 4, math.max(fs.size / 4 + 1, fs.size / 2))
      quarter(rnd.nextInt(quarter.size))
    }
  }
  private val fns = graft.SparkEntry.queries
  private var dataDir: Path = _
  private var cells = 0L
  val failedChecks = mutable.Set.empty[String]

  def buildFixture(i: Int): Unit = {
    val d = args.root.resolve(s"tables-$i")
    DataGen.writeTables(spark, d, 0.01, DataSeed)
    if (dataDir != null) Util.deleteTree(dataDir)
    dataDir = d
  }

  private def face(f: Face): DataFrame = fns(f.name)(spark, dataDir.toString)

  /** The checked pass, then one untimed noop pass: pass times keep
    * falling over the first few passes. */
  def warmUp(): Unit = {
    check()
    sample.foreach(f => noop(face(f)))
  }

  private def check(): Unit = sample.foreach { f =>
    val expected = if (args.corrupt) f.fingerprint + "0" else f.fingerprint
    try {
      val df = face(f)
      val fp = Util.fingerprint(df)
      cells += fp.takeWhile(_ != ':').toLong * df.schema.size
      if (fp != expected) {
        System.err.println(s"perfbench: face ${f.name} fingerprint $fp != expected $expected")
        failedChecks += f.name
      }
    } catch {
      case e: Exception =>
        System.err.println(s"perfbench: face ${f.name} failed its check: $e")
        failedChecks += f.name
    }
  }

  def passOps(pass: Int): Seq[Op] =
    new Random(args.seed * 7919 + pass).shuffle(sample).map(f =>
      Op(f.name, f.family, () => face(f), noop))
  def cellsPerPass: Long = math.max(1L, cells)
  def probes(tr: Tracer, opMedians: Map[String, Double]): Map[String, Double] = Map.empty

  def provenance: Seq[(String, String)] = Seq(
    "fixture" -> s"""{"tables": "sf0.01", "data_seed": $DataSeed}""",
    "face_sample" -> sample.map(f => Util.jsonString(f.name)).mkString("[", ",", "]"))

  def cleanup(): Unit = if (dataDir != null) Util.deleteTree(dataDir)
}

object QueryMix {
  final case class Face(name: String, family: String, refS: Double, fingerprint: String)
}
