package graft.ingest

import scala.collection.mutable.{ArrayBuffer, LongMap}

/** Minimal legacy-Excel (.xls, BIFF8) reader over JDK built-ins only —
  * the reference accepts `.xls` through xlsx.readFile
  * (reference backend/index.js:94; upload accept list
  * frontend/src/App.jsx:172), so a Spark-first replacement must read it
  * too. No POI exists offline; this implements just enough of the two
  * published formats involved:
  *
  *   - MS-CFB (OLE2 compound file): sector FAT + mini-FAT, directory
  *     tree, `Workbook` stream extraction;
  *   - MS-XLS (BIFF8): globals substream (SST shared strings with
  *     CONTINUE splits), first BOUNDSHEET's worksheet substream, cell
  *     records LABELSST / NUMBER / RK / MULRK / LABEL / BOOLERR /
  *     FORMULA (+ cached STRING result), rendered as strings.
  *
  * Semantics mirror [[ExcelReader]]: first sheet only, all cells as
  * strings, integer-valued floats trimmed ("3.0" → "3"), empty cells
  * null after header padding — [[ExcelReader.read]] routes `.xls`
  * files here for the grid and builds the table the same way for
  * both. Older BIFF5/7 workbooks (a `Book` stream)
  * and any parse failure surface the typed convert-to-.xlsx/CSV error
  * instead of a deep binary error.
  */
object XlsReader {

  /** Raw grid, padded to the header row's width (ExcelReader parity). */
  private[graft] def readRows(path: String, maxRows: Int): Seq[Array[String]] = {
    val grid =
      try {
        val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
        val wb = workbookStream(bytes)
        parseWorkbook(wb, maxRows)
      } catch {
        case e: UnsupportedOperationException => throw e
        case _: Exception =>
          throw new UnsupportedOperationException(
            "Unreadable legacy .xls (BIFF) workbook; convert to .xlsx or CSV")
      }
    val width = grid.headOption.map(_.length).getOrElse(0)
    if (width == 0) return IndexedSeq.empty
    grid.map { rr =>
      val a = new Array[String](width)
      var i = 0
      while (i < width) { a(i) = if (i < rr.length && rr(i) != null) rr(i) else ""; i += 1 }
      a
    }
  }

  // ------------------------------------------------------------- OLE2 / CFB

  private def u8(b: Array[Byte], o: Int): Int = b(o) & 0xff
  private def u16(b: Array[Byte], o: Int): Int = u8(b, o) | (u8(b, o + 1) << 8)
  private def i32(b: Array[Byte], o: Int): Int =
    u16(b, o) | (u16(b, o + 2) << 16)

  private val FREE = 0xFFFFFFFF // -1
  private val ENDOFCHAIN = 0xFFFFFFFE // -2

  /** Extract the `Workbook` stream from an OLE2 compound file. */
  private[graft] def workbookStream(b: Array[Byte]): Array[Byte] = {
    require(b.length >= 512, "not a compound file: too short")
    require(
      (b(0) & 0xff) == 0xD0 && (b(1) & 0xff) == 0xCF && (b(2) & 0xff) == 0x11 &&
        (b(3) & 0xff) == 0xE0, "not an OLE2 compound file")
    val sectorSize = 1 << u16(b, 30)
    val miniSize = 1 << u16(b, 32)
    val nFat = i32(b, 44)
    val firstDir = i32(b, 48)
    val miniCutoff = i32(b, 56)
    val firstMiniFat = i32(b, 60)
    val nMiniFat = i32(b, 64)
    val firstDifat = i32(b, 68)

    def sector(id: Int): Array[Byte] = {
      val off = 512 + id.toLong * sectorSize
      require(off + sectorSize <= b.length, s"sector $id out of bounds")
      java.util.Arrays.copyOfRange(b, off.toInt, off.toInt + sectorSize)
    }

    // FAT sector ids: 109 in the header DIFAT, more via DIFAT chain
    val fatSectorIds = ArrayBuffer.empty[Int]
    var i = 0
    while (i < 109) {
      val v = i32(b, 76 + i * 4)
      if (v != FREE && fatSectorIds.length < nFat) fatSectorIds += v
      i += 1
    }
    var difat = firstDifat
    var difatGuard = 0
    while (difat != ENDOFCHAIN && difat != FREE && difatGuard < 4096) {
      val s = sector(difat)
      var j = 0
      while (j < sectorSize / 4 - 1) {
        val v = i32(s, j * 4)
        if (v != FREE && fatSectorIds.length < nFat) fatSectorIds += v
        j += 1
      }
      difat = i32(s, sectorSize - 4)
      difatGuard += 1
    }
    val fat = fatSectorIds.toArray.flatMap { sid =>
      val s = sector(sid)
      (0 until sectorSize / 4).map(k => i32(s, k * 4))
    }

    def chain(start: Int, table: Array[Int]): IndexedSeq[Int] = {
      val out = ArrayBuffer.empty[Int]
      var cur = start
      while (cur != ENDOFCHAIN && cur != FREE && out.length <= table.length) {
        out += cur
        require(cur >= 0 && cur < table.length, s"chain id $cur out of FAT")
        cur = table(cur)
      }
      out.toIndexedSeq
    }

    def readChain(start: Int, size: Long): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      chain(start, fat).foreach(id => out.write(sector(id)))
      val a = out.toByteArray
      if (size < a.length) java.util.Arrays.copyOf(a, size.toInt) else a
    }

    // directory entries (128 bytes each) across the directory chain
    val dir = readChain(firstDir, Long.MaxValue)
    case class Entry(name: String, typ: Int, start: Int, size: Long)
    val entries = (0 until dir.length / 128).map { k =>
      val o = k * 128
      val nameLen = u16(dir, o + 64)
      val name = new String(dir, o, math.max(0, nameLen - 2), "UTF-16LE")
      Entry(name, u8(dir, o + 66), i32(dir, o + 116),
        i32(dir, o + 120).toLong & 0xFFFFFFFFL)
    }
    val root = entries.find(_.typ == 5).getOrElse(
      throw new IllegalArgumentException("no OLE2 root entry"))
    if (entries.exists(e => e.typ == 2 && e.name == "Book"))
      throw new UnsupportedOperationException(
        "BIFF5/BIFF7-era .xls (Excel 5.0/95) not supported; convert to .xlsx or CSV")
    val wb = entries.find(e => e.typ == 2 && e.name == "Workbook").getOrElse(
      throw new IllegalArgumentException("no Workbook stream in .xls"))

    if (wb.size >= miniCutoff) readChain(wb.start, wb.size)
    else {
      // mini stream: the root entry's chain holds the backing bytes,
      // addressed in miniSize units through the mini FAT
      val ministream = readChain(root.start, root.size)
      val miniFat = chain(firstMiniFat, fat).toArray.flatMap { sid =>
        val s = sector(sid)
        (0 until sectorSize / 4).map(k => i32(s, k * 4))
      }
      require(nMiniFat >= 0, "negative miniFAT count")
      val out = new java.io.ByteArrayOutputStream()
      chain(wb.start, miniFat).foreach { id =>
        val off = id * miniSize
        require(off + miniSize <= ministream.length, s"mini sector $id out of bounds")
        out.write(ministream, off, miniSize)
      }
      val a = out.toByteArray
      if (wb.size < a.length) java.util.Arrays.copyOf(a, wb.size.toInt) else a
    }
  }

  // ----------------------------------------------------------------- BIFF8

  /** Byte cursor over a sequence of record payloads (an SST plus its
    * CONTINUE records). Crossing a part boundary MID-CHARACTER-DATA
    * re-reads a fresh option-flags byte (MS-XLS 2.5.293); crossing it in
    * headers/skip data does not.
    */
  private final class Cursor(parts: IndexedSeq[Array[Byte]]) {
    private var p = 0
    private var o = 0
    private def ensure(): Unit = {
      while (p < parts.length && o >= parts(p).length) { p += 1; o = 0 }
      require(p < parts.length, "SST cursor past end")
    }
    def u8c(): Int = { ensure(); val v = parts(p)(o) & 0xff; o += 1; v }
    def u16c(): Int = u8c() | (u8c() << 8)
    def i32c(): Int = u16c() | (u16c() << 16)
    def skip(n: Int): Unit = { var k = 0; while (k < n) { u8c(); k += 1 } }
    private def atFreshPart: Boolean = { ensure(); o == 0 && p > 0 }

    /** XLUnicodeRichExtendedString. */
    def readString(): String = {
      val cch = u16c()
      val grbit = u8c()
      var high = (grbit & 1) != 0
      val rich = (grbit & 8) != 0
      val ext = (grbit & 4) != 0
      val cRun = if (rich) u16c() else 0
      val cbExt = if (ext) i32c() else 0
      val sb = new java.lang.StringBuilder(cch)
      var read = 0
      while (read < cch) {
        if (atFreshPart) high = (u8c() & 1) != 0 // continuation flags byte
        val ch = if (high) u16c() else u8c()
        sb.append(ch.toChar)
        read += 1
      }
      skip(cRun * 4 + cbExt)
      sb.toString
    }
  }

  /** Iterate BIFF records of one stream: (id, offsetOfData, len). */
  private def records(wb: Array[Byte], from: Int): Iterator[(Int, Int, Int)] =
    new Iterator[(Int, Int, Int)] {
      private var pos = from
      private var done = false
      def hasNext: Boolean = !done && pos + 4 <= wb.length && u16(wb, pos) != 0
      def next(): (Int, Int, Int) = {
        val id = u16(wb, pos)
        val len = u16(wb, pos + 2)
        val r = (id, pos + 4, len)
        pos += 4 + len
        if (id == 0x000A) done = true // EOF record ends the substream
        r
      }
    }

  /** RK-encoded number (MS-XLS 2.5.217). */
  private[graft] def decodeRk(rk: Int): Double = {
    val div100 = (rk & 1) != 0
    val isInt = (rk & 2) != 0
    val v =
      if (isInt) (rk >> 2).toDouble
      else java.lang.Double.longBitsToDouble((rk.toLong & 0xFFFFFFFCL) << 32)
    if (div100) v / 100 else v
  }

  /** Integer-valued floats render without the trailing ".0"; everything
    * else renders as PLAIN decimal (never scientific notation — a
    * 0.0001 cell must read "0.0001", not Double.toString's "1.0E-4") so
    * the surface matches ExcelReader's trimNumeric over sheet_to_json
    * text.
    */
  private def renderNumber(d: Double): String =
    if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else java.math.BigDecimal.valueOf(d).stripTrailingZeros.toPlainString

  private def parseWorkbook(wb: Array[Byte], maxRows: Int): IndexedSeq[Array[String]] = {
    require(wb.length >= 4 && u16(wb, 0) == 0x0809, "no BIFF BOF")
    require(u16(wb, 4) == 0x0600,
      "not BIFF8") // pre-97 workbooks rejected above via the Book stream

    // -------- globals substream: SST + first BOUNDSHEET offset
    val sstParts = ArrayBuffer.empty[Array[Byte]]
    var collectingSst = false
    var firstSheetPos = -1
    val it = records(wb, 0)
    while (it.hasNext) {
      val (id, off, len) = it.next()
      id match {
        case 0x00FC => // SST
          sstParts += java.util.Arrays.copyOfRange(wb, off, off + len)
          collectingSst = true
        case 0x003C if collectingSst => // CONTINUE extending the SST
          sstParts += java.util.Arrays.copyOfRange(wb, off, off + len)
        case 0x0085 => // BOUNDSHEET
          collectingSst = false
          if (firstSheetPos < 0) firstSheetPos = i32(wb, off)
        case _ =>
          collectingSst = false
      }
    }
    require(firstSheetPos >= 0 && firstSheetPos < wb.length, "no worksheet in .xls")

    val sst = ArrayBuffer.empty[String]
    if (sstParts.nonEmpty) {
      val cur = new Cursor(sstParts.toIndexedSeq)
      cur.i32c() // total refs
      val unique = cur.i32c()
      var k = 0
      while (k < unique) { sst += cur.readString(); k += 1 }
    }

    // -------- first worksheet substream: sparse cells → dense grid
    val cells = LongMap.empty[String] // (row << 16 | col) -> rendered value
    var maxRow = -1
    var maxCol = -1
    def put(row: Int, col: Int, v: String): Unit =
      if (row <= maxRows) { // header + maxRows data rows
        cells((row.toLong << 16) | col) = v
        if (row > maxRow) maxRow = row
        if (col > maxCol) maxCol = col
      }
    /** XLUnicodeString (un-extended): cch, flags, chars — LABEL/STRING. */
    def inlineString(off: Int): String = {
      val cch = u16(wb, off)
      val high = (u8(wb, off + 2) & 1) != 0
      val sb = new java.lang.StringBuilder(cch)
      var k = 0
      while (k < cch) {
        sb.append((if (high) u16(wb, off + 3 + k * 2) else u8(wb, off + 3 + k)).toChar)
        k += 1
      }
      sb.toString
    }
    var pendingFormulaCell = -1L // FORMULA with a string result: next STRING record carries it
    val sheetIt = records(wb, firstSheetPos)
    while (sheetIt.hasNext) {
      val (id, off, len) = sheetIt.next()
      id match {
        case 0x00FD => // LABELSST
          val idx = i32(wb, off + 6)
          put(u16(wb, off), u16(wb, off + 2),
            if (idx >= 0 && idx < sst.length) sst(idx) else "")
        case 0x0203 => // NUMBER (IEEE double)
          val bits = (i32(wb, off + 6).toLong & 0xFFFFFFFFL) |
            (i32(wb, off + 10).toLong << 32)
          put(u16(wb, off), u16(wb, off + 2),
            renderNumber(java.lang.Double.longBitsToDouble(bits)))
        case 0x027E => // RK
          put(u16(wb, off), u16(wb, off + 2), renderNumber(decodeRk(i32(wb, off + 6))))
        case 0x00BD => // MULRK: row, colFirst, (ixfe+rk)*, colLast
          val row = u16(wb, off)
          val colFirst = u16(wb, off + 2)
          val n = (len - 6) / 6
          var k = 0
          while (k < n) {
            put(row, colFirst + k, renderNumber(decodeRk(i32(wb, off + 4 + k * 6 + 2))))
            k += 1
          }
        case 0x0204 => // LABEL (inline string cell)
          put(u16(wb, off), u16(wb, off + 2), inlineString(off + 6))
        case 0x0205 => // BOOLERR
          val isErr = u8(wb, off + 7) != 0
          put(u16(wb, off), u16(wb, off + 2),
            if (isErr) "" else if (u8(wb, off + 6) == 1) "true" else "false")
        case 0x0006 => // FORMULA: cached result in bytes 6..13
          val row = u16(wb, off)
          val col = u16(wb, off + 2)
          if (u16(wb, off + 12) == 0xFFFF) u8(wb, off + 6) match {
            case 0 => pendingFormulaCell = (row.toLong << 16) | col // STRING follows
            case 1 => put(row, col, if (u8(wb, off + 8) == 1) "true" else "false")
            case _ => put(row, col, "") // error / empty result
          } else {
            val bits = (i32(wb, off + 6).toLong & 0xFFFFFFFFL) |
              (i32(wb, off + 10).toLong << 32)
            put(row, col, renderNumber(java.lang.Double.longBitsToDouble(bits)))
          }
        case 0x0207 => // STRING: cached string result of the last FORMULA
          if (pendingFormulaCell >= 0) {
            put((pendingFormulaCell >> 16).toInt, (pendingFormulaCell & 0xFFFF).toInt,
              inlineString(off))
            pendingFormulaCell = -1
          }
        case _ =>
      }
    }
    if (maxRow < 0) return IndexedSeq.empty
    // one output row per PRESENT sheet row (ExcelReader parity: the
    // OOXML path emits one row per <row> element, so a blank top row or
    // mid-sheet gap doesn't fabricate an all-empty header/data row)
    val presentRows = cells.keys.map(k => (k >> 16).toInt).toIndexedSeq.distinct.sorted
    presentRows.map { r =>
      val a = new Array[String](maxCol + 1)
      var c = 0
      while (c <= maxCol) { a(c) = cells.getOrElse((r.toLong << 16) | c, ""); c += 1 }
      a
    }
  }
}
