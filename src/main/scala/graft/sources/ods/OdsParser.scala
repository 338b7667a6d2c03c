package graft.sources.ods

import java.io.InputStream
import java.time.LocalDate
import java.util.zip.ZipInputStream

import javax.xml.stream.{XMLInputFactory, XMLStreamConstants, XMLStreamReader}

import graft.sources.xlsx.XCell

/** OpenDocument spreadsheet (.ods) content parser — the second container
  * format of the spreadsheet family. Reads `content.xml` with StAX and
  * emits rows as the SAME [[XCell]] values the xlsx path uses, so schema
  * inference, NULL/coercion rules and the whole DSv2 stack are shared
  * verbatim ([[OdsFormat]] is the ods side of the one seam).
  *
  * ODS specifics handled here, per OASIS ODF 1.2 §9.1.3-9.1.4:
  *   - `table:number-columns-repeated` / `table:number-rows-repeated`
  *     run-length encodings expand to real cells/rows;
  *   - TRAILING fully-empty cells of a row and TRAILING fully-empty rows
  *     of a table are dropped (LibreOffice pads exports with filler runs
  *     up to the 1048576-row grid — expanding those would materialize the
  *     whole empty grid); interior empty rows/cells are preserved;
  *   - `office:value-type` float/percentage/currency → number,
  *     boolean → boolean, date → date (serial days like the xlsx path),
  *     string (or a bare `text:p`) → string; covered cells (merges) and
  *     valueless cells → empty.
  *
  * Throughput engineering stays concentrated in the flagship xlsx scanner
  * (byte-level, columnar, intra-file parallel); ods rides plain StAX — a
  * completeness-family source, one partition per file. */
object OdsParser {

  private val excelEpochDay: Long = LocalDate.of(1899, 12, 30).toEpochDay

  private val factory = {
    val f = XMLInputFactory.newInstance()
    f.setProperty(XMLInputFactory.IS_SUPPORTING_EXTERNAL_ENTITIES, false)
    f.setProperty(XMLInputFactory.SUPPORT_DTD, false)
    f.setProperty(XMLInputFactory.IS_COALESCING, true)
    f
  }

  /** Position a ZipInputStream at content.xml (ods keeps it top-level). */
  private def openContent(open: () => InputStream): ZipInputStream = {
    val zip = new ZipInputStream(open())
    var e = zip.getNextEntry
    while (e != null && e.getName != "content.xml") e = zip.getNextEntry
    if (e == null) {
      zip.close()
      throw new IllegalArgumentException("ods: no content.xml entry in container")
    }
    zip
  }

  /** Table names in document order. */
  def sheetNames(open: () => InputStream): Seq[String] = {
    val zip = openContent(open)
    val names = scala.collection.mutable.ArrayBuffer[String]()
    try {
      val r = factory.createXMLStreamReader(zip)
      try {
        while (r.hasNext) {
          if (r.next() == XMLStreamConstants.START_ELEMENT &&
              r.getLocalName == "table")
            names += Option(attr(r, "name")).getOrElse(s"Table${names.size + 1}")
        }
      } finally r.close()
    } finally zip.close()
    names.toSeq
  }

  private def attr(r: XMLStreamReader, local: String): String = {
    var i = 0
    while (i < r.getAttributeCount) {
      if (r.getAttributeLocalName(i) == local) return r.getAttributeValue(i)
      i += 1
    }
    null
  }

  /** Stream the rows of one table (by name, or the `sheetIndex`-th table
    * when `sheet` is None) as XCell arrays. `onRow(rowIdx, cells)` returns
    * false to stop early. Trailing empty cells/rows are trimmed; interior
    * repeats expand. */
  def foreachRow(open: () => InputStream, sheet: Option[String], sheetIndex: Int,
      onRow: (Long, Array[XCell]) => Boolean): Unit = {
    val zip = openContent(open)
    try {
      val r = factory.createXMLStreamReader(zip)
      try {
        var tableOrdinal = -1
        var inTarget = false
        var sawTarget = false
        var rowIdx = 0L
        var pendingEmptyRows = 0L // trailing-empty-run candidate, flushed lazily
        var stop = false

        // current row accumulation
        var cells: scala.collection.mutable.ArrayBuffer[XCell] = null
        var rowRepeat = 1L
        var trailingEmpty = 0 // run of empty cells at the current tail

        // current cell accumulation
        var cellRepeat = 1L
        var cellValue: XCell = XCell.XNone
        var inCell = false
        var inPara = false // only text:p content is cell text (not markup whitespace)
        var text: java.lang.StringBuilder = null

        def flushPendingEmpties(): Boolean = {
          while (pendingEmptyRows > 0 && !stop) {
            if (!onRow(rowIdx, Array.empty[XCell])) stop = true
            rowIdx += 1
            pendingEmptyRows -= 1
          }
          !stop
        }

        while (r.hasNext && !stop) {
          r.next() match {
            case XMLStreamConstants.START_ELEMENT => r.getLocalName match {
              case "table" =>
                tableOrdinal += 1
                inTarget = sheet match {
                  case Some(n) => Option(attr(r, "name")).contains(n)
                  case None    => tableOrdinal == sheetIndex
                }
                if (inTarget) sawTarget = true
              case "table-row" if inTarget =>
                cells = scala.collection.mutable.ArrayBuffer[XCell]()
                trailingEmpty = 0
                rowRepeat = math.max(1L,
                  Option(attr(r, "number-rows-repeated")).map(_.toLong).getOrElse(1L))
              case "table-cell" | "covered-table-cell" if inTarget && cells != null =>
                inCell = true
                cellRepeat = math.max(1L,
                  Option(attr(r, "number-columns-repeated")).map(_.toLong).getOrElse(1L))
                cellValue = Option(attr(r, "value-type")).getOrElse("") match {
                  case "float" | "percentage" | "currency" =>
                    Option(attr(r, "value"))
                      .map(v => XCell.XNumber(v.toDouble): XCell).getOrElse(XCell.XNone)
                  case "boolean" =>
                    Option(attr(r, "boolean-value"))
                      .map(v => XCell.XBool(v == "true"): XCell).getOrElse(XCell.XNone)
                  case "date" =>
                    Option(attr(r, "date-value")).map { v =>
                      val day = LocalDate.parse(v.take(10)).toEpochDay
                      XCell.XDate((day - excelEpochDay).toDouble): XCell
                    }.getOrElse(XCell.XNone)
                  case "string" =>
                    // ODF allows the value in an attribute instead of the
                    // text:p body; the body form falls through to XNone and
                    // is collected below
                    Option(attr(r, "string-value"))
                      .map(v => XCell.XString(v): XCell).getOrElse(XCell.XNone)
                  case _ => XCell.XNone // string cells read their text:p body
                }
                text = new java.lang.StringBuilder()
              case "p" if inCell =>
                inPara = true
                if (text.length() > 0) text.append('\n') // multi-paragraph cell
              case _ => ()
            }
            case XMLStreamConstants.CHARACTERS if inPara =>
              text.append(r.getText)
            case XMLStreamConstants.END_ELEMENT => r.getLocalName match {
              case "p" if inPara =>
                inPara = false
              case "table-cell" | "covered-table-cell" if inCell =>
                inCell = false
                inPara = false
                val v = cellValue match {
                  case XCell.XNone if text.length() > 0 =>
                    XCell.XString(text.toString)
                  case other => other
                }
                val isEmpty = v == XCell.XNone
                // an empty run might be trailing filler (width up to 16384):
                // append now, trim at row end; clamp absurd runs of nothing
                val n = if (isEmpty) math.min(cellRepeat, 16384L) else cellRepeat
                var i = 0L
                while (i < n) { cells += v; i += 1 }
                trailingEmpty = if (isEmpty) trailingEmpty + n.toInt else 0
              case "table-row" if inTarget && cells != null =>
                val row = cells.dropRight(trailingEmpty).toArray
                cells = null
                if (row.isEmpty) {
                  // candidate trailing filler: hold, emit only if content follows
                  pendingEmptyRows += rowRepeat
                } else {
                  if (flushPendingEmpties()) {
                    var k = 0L
                    while (k < rowRepeat && !stop) {
                      if (!onRow(rowIdx, row)) stop = true
                      rowIdx += 1
                      k += 1
                    }
                  }
                }
              case "table" if inTarget =>
                inTarget = false // pending trailing empties are dropped
                stop = true      // target table fully read
              case _ => ()
            }
            case _ => ()
          }
        }
        if (!sawTarget)
          throw new IllegalArgumentException(sheet match {
            case Some(n) => s"ods: no table named '$n'"
            case None    => s"ods: no table at index $sheetIndex"
          })
      } finally r.close()
    } finally zip.close()
  }
}
