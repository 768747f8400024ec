package graft.ingest

import java.util.zip.ZipFile
import javax.xml.stream.{XMLInputFactory, XMLStreamConstants, XMLStreamReader}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Excel (.xlsx) scan — first sheet only, like the reference
  * (reference backend/index.js:93-96: `workbook.SheetNames[0]`), empty
  * cells default to ""/null (`defval: ""`, index.js:96), all cells read as
  * strings (sheet_to_json semantics for a type-less load).
  *
  * No POI or spark-excel artifact exists in the offline environment, so
  * this is a minimal OOXML reader over JDK built-ins only (java.util.zip +
  * StAX): sharedStrings.xml + first worksheet's sheetData. Like the
  * reference, the workbook is fully materialized on the driver
  * (index.js:200-204) and then parallelized — Excel inputs are bounded by
  * the reference's own 50 MB upload limit, so driver materialization is the
  * honest scale story here; huge tabular data arrives as CSV/parquet, not
  * .xlsx. Legacy BIFF8 `.xls` (detected by extension or OLE2 magic)
  * routes to [[XlsReader]]; only pre-97 BIFF5/7 remains a typed
  * convert-guidance error.
  */
object ExcelReader {

  def read(spark: SparkSession, path: String, sheetRows: Int = Int.MaxValue): DataFrame = {
    // legacy BIFF workbooks (by extension or OLE2 magic — a .xls renamed
    // to .xlsx must not surface as a zip error) take the BIFF8 grid
    val rows =
      if (path.toLowerCase.endsWith(".xls") || isBiff(path)) XlsReader.readRows(path, sheetRows)
      else readRows(path, sheetRows)
    if (rows.isEmpty)
      throw new IllegalArgumentException(s"File appears empty: $path")
    // shared header normalization (duplicate/empty header cells) with the
    // delimited path — a raw header row like [id, id, name] would build
    // an ambiguous schema that breaks every later col("id"); empty
    // cells read as null
    val width = rows.head.length
    Readers.driverTable(spark, rows.head.toIndexedSeq, rows.tail.map { r =>
      (0 until width).map(i => if (i < r.length && r(i).nonEmpty) r(i) else null)
    })
  }

  /** True when the file starts with the OLE2/CFB magic (D0 CF 11 E0 A1
    * B1 1A E1) — a BIFF .xls renamed to .xlsx would otherwise surface as
    * an opaque "not a zip" error instead of the typed convert guidance.
    * The reference accepts .xls via xlsx.readFile (index.js:94, accept
    * list App.jsx:172); this reader is OOXML-only, so the failure must
    * be legible.
    */
  private[graft] def isBiff(path: String): Boolean = {
    val f = new java.io.File(path)
    if (!f.isFile || f.length < 8) return false
    val in = new java.io.FileInputStream(f)
    try {
      // readNBytes loops internally — a bare read() may legally return
      // short and misroute a real BIFF file to the zip path
      val b = in.readNBytes(8)
      b.length == 8 && java.util.Arrays.equals(b,
        Array(0xD0, 0xCF, 0x11, 0xE0, 0xA1, 0xB1, 0x1A, 0xE1).map(_.toByte))
    } finally in.close()
  }

  /** Raw grid: row-major cells as strings, padded to the header width. */
  private[graft] def readRows(path: String, maxRows: Int): Seq[Array[String]] = {
    val zip = new ZipFile(path)
    try {
      val shared = Option(zip.getEntry("xl/sharedStrings.xml"))
        .map(e => parseSharedStrings(newReader(zip, e)))
        .getOrElse(IndexedSeq.empty)
      val sheetName = firstSheetPath(zip)
      val entry = Option(zip.getEntry(sheetName)).getOrElse(
        throw new IllegalArgumentException(s"No worksheet in $path"))
      parseSheet(newReader(zip, entry), shared, maxRows)
    } finally zip.close()
  }

  private def newReader(zip: ZipFile, e: java.util.zip.ZipEntry): XMLStreamReader = {
    val f = XMLInputFactory.newInstance()
    f.setProperty(XMLInputFactory.IS_SUPPORTING_EXTERNAL_ENTITIES, false)
    f.setProperty(XMLInputFactory.SUPPORT_DTD, false)
    f.createXMLStreamReader(zip.getInputStream(e))
  }

  /** First sheet in workbook order via workbook.xml.rels; falls back to the
    * conventional xl/worksheets/sheet1.xml.
    */
  private def firstSheetPath(zip: ZipFile): String = {
    val fallback = "xl/worksheets/sheet1.xml"
    val wb = Option(zip.getEntry("xl/workbook.xml")).getOrElse(return fallback)
    val rels = Option(zip.getEntry("xl/_rels/workbook.xml.rels")).getOrElse(return fallback)
    var firstRid: String = null
    val r1 = newReader(zip, wb)
    try {
      while (firstRid == null && r1.hasNext) {
        if (r1.next() == XMLStreamConstants.START_ELEMENT && r1.getLocalName == "sheet")
          firstRid = attr(r1, "id")
      }
    } finally r1.close()
    if (firstRid == null) return fallback
    var target: String = null
    val r2 = newReader(zip, rels)
    try {
      while (target == null && r2.hasNext) {
        if (r2.next() == XMLStreamConstants.START_ELEMENT &&
          r2.getLocalName == "Relationship" && attr(r2, "Id") == firstRid)
          target = attr(r2, "Target")
      }
    } finally r2.close()
    if (target == null) fallback
    else if (target.startsWith("/")) target.drop(1)
    else "xl/" + target.stripPrefix("./")
  }

  private def attr(r: XMLStreamReader, local: String): String = {
    var i = 0
    while (i < r.getAttributeCount) {
      if (r.getAttributeLocalName(i) == local) return r.getAttributeValue(i)
      i += 1
    }
    null
  }

  /** Concatenates all text runs of an <si> (rich-text formatting splits
    * one value across <r><t> runs) but SKIPS phonetic <rPh> runs — they
    * hold furigana annotations, not cell content.
    */
  private def parseSharedStrings(r: XMLStreamReader): IndexedSeq[String] = {
    val out = ArrayBuffer.empty[String]
    val cur = new StringBuilder
    var inSi = false
    var inT = false
    var inRph = false
    try {
      while (r.hasNext) {
        r.next() match {
          case XMLStreamConstants.START_ELEMENT =>
            r.getLocalName match {
              case "si" => inSi = true; cur.clear()
              case "rPh" => inRph = true
              case "t" if inSi && !inRph => inT = true
              case _ =>
            }
          case XMLStreamConstants.CHARACTERS | XMLStreamConstants.CDATA if inT =>
            cur.append(r.getText)
          case XMLStreamConstants.END_ELEMENT =>
            r.getLocalName match {
              case "t" => inT = false
              case "rPh" => inRph = false
              case "si" => inSi = false; out += cur.toString
              case _ =>
            }
          case _ =>
        }
      }
    } finally r.close()
    out.toIndexedSeq
  }

  /** Column index from an A1-style cell ref ("BC23" → 54). */
  private[graft] def colIndex(ref: String): Int = {
    var i = 0
    var acc = 0
    while (i < ref.length && ref.charAt(i).isLetter) {
      acc = acc * 26 + (ref.charAt(i).toUpper - 'A' + 1)
      i += 1
    }
    acc - 1
  }

  private def parseSheet(
      r: XMLStreamReader, shared: IndexedSeq[String], maxRows: Int): Seq[Array[String]] = {
    val rows = ArrayBuffer.empty[ArrayBuffer[String]]
    var row: ArrayBuffer[String] = null
    var cellCol = -1
    var cellType = ""
    var inV = false
    var inIs = false
    var inRph = false
    val text = new StringBuilder
    def setCell(raw: String): Unit = {
      val v = cellType match {
        case "s" =>
          // malformed/empty <v/> under a lenient writer → empty cell,
          // not a NumberFormatException aborting the whole read
          raw.trim.toIntOption
            .filter(idx => idx >= 0 && idx < shared.length)
            .map(shared).getOrElse("")
        case "b" => if (raw.trim == "1") "true" else "false"
        // inline and formula-cached strings are STRINGS — "3.00" as a
        // product code must not be rewritten by the numeric trim
        case "inlineStr" | "str" => raw
        case _ => trimNumeric(raw)
      }
      val at = if (cellCol >= 0) cellCol else row.length
      while (row.length <= at) row += ""
      row(at) = v
    }
    try {
      while (r.hasNext && rows.length <= maxRows) {
        r.next() match {
          case XMLStreamConstants.START_ELEMENT =>
            r.getLocalName match {
              case "row" => row = ArrayBuffer.empty[String]
              case "c" if row != null =>
                cellCol = Option(attr(r, "r")).map(colIndex).getOrElse(-1)
                cellType = Option(attr(r, "t")).getOrElse("")
                text.clear()
              case "v" => inV = true; text.clear()
              case "is" => inIs = true; text.clear()
              case "rPh" => inRph = true
              // rich text splits one value over several <r><t> runs:
              // accumulate, emit once at </is>
              case "t" if inIs && !inRph => inV = true
              case _ =>
            }
          case XMLStreamConstants.CHARACTERS | XMLStreamConstants.CDATA if inV =>
            text.append(r.getText)
          case XMLStreamConstants.END_ELEMENT =>
            r.getLocalName match {
              case "v" if !inIs => inV = false; setCell(text.toString)
              case "t" if inIs => inV = false
              case "rPh" => inRph = false
              case "is" => inIs = false; setCell(text.toString)
              case "row" if row != null => rows += row; row = null
              case _ =>
            }
          case _ =>
        }
      }
    } finally r.close()
    val width = rows.headOption.map(_.length).getOrElse(0)
    // an empty first row can't define a grid — surface as empty (read()
    // raises the empty-file error) instead of collapsing rows to 1 cell
    if (width == 0) return IndexedSeq.empty
    val keep = if (maxRows >= Int.MaxValue - 1) rows else rows.take(maxRows + 1)
    keep.map { rr =>
      val a = new Array[String](width)
      var i = 0
      while (i < width) { a(i) = if (i < rr.length) rr(i) else ""; i += 1 }
      a
    }.toIndexedSeq
  }

  /** "3.0" → "3" like sheet_to_json's raw:false-ish rendering of integer
    * floats; other numerics kept as written.
    */
  private def trimNumeric(s: String): String = {
    val t = s.trim
    if (t.matches("-?\\d+\\.0+")) t.takeWhile(_ != '.') else t
  }
}
