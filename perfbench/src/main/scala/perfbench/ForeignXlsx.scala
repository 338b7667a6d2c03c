package perfbench

import java.io.{BufferedOutputStream, OutputStreamWriter, Writer}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.zip.{ZipEntry, ZipFile, ZipOutputStream}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Writes a workbook the way Excel lays it out, unlike `graft`'s own
  * writer: every string goes through a shared-strings table (`t="s"`
  * cells), dates are serial numbers under a date number format, cells
  * carry `r` references, and there is no `xl/graft/` row-group index. That
  * keeps the reader on its foreign-workbook path: shared-strings scan,
  * sequential inflate and the unindexed parallel sheet scanner. */
object ForeignXlsx {

  private val ExcelEpochDay = java.time.LocalDate.of(1899, 12, 30).toEpochDay

  /** `rows` in order into `out`; the header row holds the column names. */
  def write(schema: StructType, rows: Seq[Row], out: Path): Unit = {
    val fields = schema.fields
    val strings = new java.util.LinkedHashMap[String, Integer]()
    var stringRefs = 0L
    def sst(s: String): Int = {
      stringRefs += 1
      val i = strings.get(s)
      if (i != null) i.intValue()
      else { val n = strings.size; strings.put(s, n); n }
    }
    val zip = new ZipOutputStream(new BufferedOutputStream(Files.newOutputStream(out), 1 << 16),
      StandardCharsets.UTF_8)
    val w = new java.io.BufferedWriter(new OutputStreamWriter(zip, StandardCharsets.UTF_8), 1 << 16)
    def entry(name: String)(body: Writer => Unit): Unit = {
      zip.putNextEntry(new ZipEntry(name)); body(w); w.flush(); zip.closeEntry()
    }
    try {
      entry("[Content_Types].xml")(_.write(
        """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
          |<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types"><Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/><Default Extension="xml" ContentType="application/xml"/><Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/><Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/><Override PartName="/xl/styles.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.styles+xml"/><Override PartName="/xl/sharedStrings.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sharedStrings+xml"/></Types>""".stripMargin))
      entry("_rels/.rels")(_.write(
        """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
          |<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships"><Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/></Relationships>""".stripMargin))
      entry("xl/workbook.xml")(_.write(
        """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
          |<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"><sheets><sheet name="lineitem" sheetId="1" r:id="rId1"/></sheets></workbook>""".stripMargin))
      entry("xl/_rels/workbook.xml.rels")(_.write(
        """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
          |<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships"><Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/><Relationship Id="rId2" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/styles" Target="styles.xml"/><Relationship Id="rId3" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/sharedStrings" Target="sharedStrings.xml"/></Relationships>""".stripMargin))
      // style 1 = built-in number format 14 (m/d/yyyy), Excel's short date
      entry("xl/styles.xml")(_.write(
        """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
          |<styleSheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><fonts count="1"><font><sz val="11"/><name val="Calibri"/></font></fonts><fills count="1"><fill><patternFill patternType="none"/></fill></fills><borders count="1"><border/></borders><cellStyleXfs count="1"><xf numFmtId="0" fontId="0" fillId="0" borderId="0"/></cellStyleXfs><cellXfs count="2"><xf numFmtId="0" fontId="0" fillId="0" borderId="0" xfId="0"/><xf numFmtId="14" fontId="0" fillId="0" borderId="0" xfId="0" applyNumberFormat="1"/></cellXfs></styleSheet>""".stripMargin))
      val cols = fields.indices.map(colRef)
      entry("xl/worksheets/sheet1.xml") { w =>
        w.write("""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" + "\n")
        w.write("""<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"><sheetViews><sheetView workbookViewId="0"/></sheetViews><sheetFormatPr defaultRowHeight="15"/><sheetData>""")
        w.write(s"""<row r="1" spans="1:${fields.length}">""")
        fields.zipWithIndex.foreach { case (f, i) =>
          w.write(s"""<c r="${cols(i)}1" t="s"><v>${sst(f.name)}</v></c>""")
        }
        w.write("</row>")
        var r = 1
        def cell(i: Int, attrs: String, v: String): Unit = {
          w.write("<c r=\""); w.write(cols(i)); w.write(r.toString); w.write("\"")
          w.write(attrs); w.write("><v>"); w.write(v); w.write("</v></c>")
        }
        rows.foreach { row =>
          r += 1
          w.write("<row r=\""); w.write(r.toString); w.write("\" spans=\"1:")
          w.write(fields.length.toString); w.write("\">")
          var i = 0
          while (i < fields.length) {
            if (!row.isNullAt(i)) fields(i).dataType match {
              case StringType => cell(i, " t=\"s\"", sst(row.getString(i)).toString)
              case DateType =>
                cell(i, " s=\"1\"", (row.getDate(i).toLocalDate.toEpochDay - ExcelEpochDay).toString)
              case _: NumericType => cell(i, "", num(row.get(i).asInstanceOf[Number].doubleValue))
              case other => throw new IllegalArgumentException(s"unsupported column type $other")
            }
            i += 1
          }
          w.write("</row>")
        }
        w.write("</sheetData></worksheet>")
      }
      entry("xl/sharedStrings.xml") { w =>
        w.write("""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" + "\n")
        w.write(s"""<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" count="$stringRefs" uniqueCount="${strings.size}">""")
        strings.keySet.asScala.foreach(s => w.write(s"<si><t>${esc(s)}</t></si>"))
        w.write("</sst>")
      }
    } finally zip.close()
  }

  /** The fixture must keep the reader on the foreign path; a writer or
    * reader change must not move this workload onto the indexed one. */
  def checkForeign(p: Path): Option[String] = {
    val z = new ZipFile(p.toFile)
    try {
      val names = z.entries().asScala.map(_.getName).toSeq
      if (!names.contains("xl/sharedStrings.xml")) Some("no xl/sharedStrings.xml")
      else if (names.exists(_.startsWith("xl/graft/"))) Some("has an xl/graft/ index entry")
      else {
        val in = z.getInputStream(z.getEntry("xl/worksheets/sheet1.xml"))
        val head = try new String(in.readNBytes(1 << 16), StandardCharsets.UTF_8) finally in.close()
        if (!head.contains("t=\"s\"")) Some("no t=\"s\" cells") else None
      }
    } finally z.close()
  }

  private def num(d: Double): String =
    if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else java.math.BigDecimal.valueOf(d).toPlainString

  private def colRef(c: Int): String = {
    val sb = new StringBuilder
    var n = c + 1
    while (n > 0) { val m = (n - 1) % 26; sb.insert(0, ('A' + m).toChar); n = (n - 1) / 26 }
    sb.toString
  }

  private def esc(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
}
