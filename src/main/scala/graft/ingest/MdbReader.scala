package graft.ingest

import java.io.ByteArrayOutputStream

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Minimal MS Access Jet4/ACE (`.mdb` Access 2000–2003, `.accdb`
  * Access 2007/2010+) reader over JDK built-ins only — closing the
  * reference's S3 Access path (backend/index.js:61-80), which is a
  * Windows-only ACE OLEDB bridge there. Jet4 is a published page-based
  * format (documented publicly in the mdbtools project's format
  * notes), and ACE keeps its page/catalog/TDEF/row layout — the deltas
  * are the header signature, version byte, and new column types. This
  * implements the subset the reference semantics need — read-only,
  * strings-only, FIRST user table (index.js:66-74 reads only the first
  * table of the schema enum):
  *
  *   - page 0 database header: `Standard Jet DB` magic + version byte
  *     0x01 (Jet4) or 0x00 (Jet3), or `Standard ACE DB` + 0x02–0x05
  *     (ACE `.accdb`, Access 2007 through 2016+);
  *   - system catalog: MSysObjects' table definition lives at page 2;
  *     its rows enumerate all objects — user tables have
  *     `Type & 0x7f == 1`, visible flags, and a name outside the
  *     `MSys*` namespace; the object's TDEF page is `Id & 0xffffff`;
  *   - table definition (TDEF) pages: column count, per-column
  *     descriptors (type, column number, fixed offset / variable index),
  *     UTF-16LE column names;
  *   - data pages: row-offset directory (delete/lookup flag bits), rows
  *     packed from the page end; Jet4 row = u16 column count, fixed
  *     column block, variable column block, then (from the row tail)
  *     null mask, u16 variable-column count, and a (count+1)-entry u16
  *     offset table whose last entry is end-of-data;
  *   - values rendered as strings: TEXT (UTF-16LE, with the 0xFFFE
  *     compressed-marker variant), BYTE/INT/LONG (little-endian ints),
  *     FLOAT/DOUBLE (integer-trimmed like [[XlsReader]]), BOOL (stored
  *     in the null-mask bit: set = true, never null), DATETIME (8-byte
  *     double, days since 1899-12-30, rendered `yyyy-MM-dd[ HH:mm:ss]`
  *     with the time omitted at midnight — Access display parity),
  *     MONEY (int64 scaled 10^4, trailing zeros trimmed), GUID
  *     (registry format, little-endian first three groups), MEMO —
  *     the inline variant plus both LVAL page forms (type 1: the value
  *     is a whole row on an `LVAL`-tagged page; type 2: rows chained by
  *     a leading 4-byte next-record pointer) — NUMERIC (17-byte
  *     fixed-point: sign byte, 0x80 = negative, + 16-byte big-endian
  *     magnitude scaled by the descriptor's scale byte), BINARY
  *     (lowercase hex, fixed or variable), and OLE (base64 of the raw
  *     object bytes, same LVAL storage as MEMO). Remaining Jet/ACE
  *     types (complex, attachment, replication ids) raise a typed
  *     unsupported-column error naming the column — never a silent
  *     null (a column of nulls where the reference's ADODB path shows
  *     values is a wrong answer, not a contract).
  *
  * Jet3 (Access 95/97, version byte 0x00) reads through the same walk
  * with its own format constants: 2 KB pages, row directory at 0x08,
  * 18-byte column descriptors, u8-length cp1252 names, and u8
  * var-offset machinery with the mod-256 jump table ([[jet3VarOffsets]]
  * documents the byte-placement convention — matched by the Jet3
  * fixture, but never validated against a real Access 97 file in this
  * offline environment, a caveat shared with the rest of the reader
  * and spelled out in README). Jet3 MEMO/OLE read through the same
  * LVAL walk as Jet4 (the 12-byte header, the inline/single-row/
  * chained flags, and the `LVAL` page tag are shared across
  * generations); only the page geometry differs, and memo text
  * decodes as cp1252 instead of UTF-16LE.
  *
  * RC4-"encoded" databases (Tools→Security "Encode Database") decode
  * transparently: a non-zero db key in the header's masked 0x3e field
  * triggers per-page RC4 with key `dbKey ^ pageNumber` (see
  * [[decodeIfEncrypted]]). Out of scope (typed error, never a wrong
  * answer): password-ENCRYPTED ACE databases (Office agile crypto, a
  * different scheme — catalog parse fails → typed error); this is
  * parity-adjacent rather than a parity gap — the reference's ADODB
  * path (backend/index.js:64) would equally need the user-supplied
  * password, which no caller of this surface provides. Multi-page
  * TDEFs are stitched via the offset-4 next-page chain (wide tables
  * spill descriptors + names routinely). Overflow (lookup) directory
  * entries hold a 4-byte record pointer, not row data; the scan skips
  * the pointer and picks the relocated row up when it reaches the
  * overflow page itself, which is a regular owner-tagged data page —
  * row totals stay correct, only physical order changes (spec'd with
  * an overflow fixture in MdbSpec). Data-page discovery is a full file
  * scan filtered on the owning TDEF page rather than the usage-bitmap
  * walk — a table scan either way, and robust to bitmap corruption.
  */
object MdbReader {

  private val PageSize = 4096
  private val Magic = "Standard Jet DB"
  private val AceMagic = "Standard ACE DB"

  /** Per-generation format constants (the mdbtools pattern: one reader,
    * two constant sets). Jet4/ACE: 4 KB pages, u16 row directories at
    * 0x0c, 25-byte column descriptors from 0x3f, UTF-16LE names with
    * u16 lengths. Jet3 (Access 95/97): 2 KB pages, row directory at
    * 0x08, 18-byte descriptors from 0x2b, cp1252 names with u8
    * lengths, and u8 var-column machinery with a mod-256 jump table in
    * place of Jet4's u16 offset table.
    */
  private final case class Fmt(
      pageSize: Int,
      dataRowCountOff: Int, // data page: u16 row count; directory follows
      tdefNumColsOff: Int, // TDEF: u16 column count
      tdefNumRealIdxOff: Int, // TDEF: i32 real-index count
      tdefColsStart: Int, // TDEF: first byte of the descriptor array
      colDescLen: Int,
      ridxEntryLen: Int, // bytes per real-index block to skip
      jet3: Boolean)

  private val Jet4Fmt = Fmt(4096, 0x0c, 0x2c, 0x32, 0x3f, 25, 12, jet3 = false)
  private val Jet3Fmt = Fmt(2048, 0x08, 0x19, 0x1f, 0x2b, 18, 8, jet3 = true)

  // Jet column type codes
  private val TBool = 0x01
  private val TByte = 0x02
  private val TInt = 0x03
  private val TLong = 0x04
  private val TMoney = 0x05
  private val TFloat = 0x06
  private val TDouble = 0x07
  private val TDateTime = 0x08
  private val TBinary = 0x09
  private val TText = 0x0a
  private val TOle = 0x0b
  private val TMemo = 0x0c
  private val TGuid = 0x0f
  private val TNumeric = 0x10

  /** `len` = declared fixed length (descriptor bytes 23–24); `prec`/
    * `scale` are NUMERIC's precision/scale (descriptor bytes 11/12 —
    * meaningless for other types).
    */
  private final case class Col(
      name: String, typ: Int, num: Int, offV: Int, offF: Int, fixed: Boolean,
      len: Int, prec: Int, scale: Int)

  /** First user table as a strings-only DataFrame (reference S3
    * semantics). `maxRows` is the preview limit (TOP n parity,
    * index.js:71-72).
    */
  def read(spark: SparkSession, path: String, maxRows: Int = Int.MaxValue): DataFrame = {
    val (names, rows) = readRows(path, maxRows)
    // values as read: an empty TEXT stays "" (MdbSpec pins it)
    Readers.driverTable(spark, names, rows)
  }

  /** (column names, rows) of the first user table; values null-or-string. */
  private[graft] def readRows(path: String, maxRows: Int): (Seq[String], Seq[Seq[String]]) = {
    val raw = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
    implicit val fmt: Fmt = checkHeader(raw)
    val bytes = decodeIfEncrypted(raw)
    try {
      val catalog = parseTable(bytes, 2)
      val catRows = tableRows(bytes, catalog, Int.MaxValue)
      def idx(n: String) = {
        val i = catalog.cols.indexWhere(_.name.equalsIgnoreCase(n))
        require(i >= 0, s"catalog column $n missing")
        i
      }
      val (iId, iName, iType, iFlags) = (idx("Id"), idx("Name"), idx("Type"), idx("Flags"))
      val firstUser = catRows.find { r =>
        val name = r(iName)
        val typ = Option(r(iType)).map(_.toLong).getOrElse(0L)
        val flags = Option(r(iFlags)).map(_.toLong).getOrElse(0L)
        name != null && !name.startsWith("MSys") &&
          (typ & 0x7f) == 1 && (flags & 0x80000002L) == 0
      }.getOrElse(throw new IllegalArgumentException(
        s"No user table found in Access database: $path"))
      val tdefPg = (firstUser(iId).toLong & 0xffffff).toInt
      val table = parseTable(bytes, tdefPg)
      (table.cols.map(_.name), tableRows(bytes, table, maxRows))
    } catch {
      case e @ (_: UnsupportedOperationException | _: IllegalArgumentException) => throw e
      case _: Exception =>
        throw new UnsupportedOperationException(
          "Unreadable Access database (corrupt, encrypted, or an " +
            "unsupported layout); export the table to CSV and use the " +
            "delimited reader")
    }
  }

  /** The header's db-key field (offset 0x3e) is stored XOR'd with this
    * constant (the mdbtools `file.c` masking), so an un-encoded
    * database's field reads back as key 0.
    */
  private val DbKeyMask = 0xe15e01b9

  /** Jet "Encode Database" support: a non-zero db key means every page
    * except page 0 is RC4-encrypted with the 4-byte little-endian key
    * `dbKey ^ pageNumber` — the scheme mdbtools implements from the
    * published Jet format notes. (This is the Tools→Security "encode"
    * option; a *database password* is a separate header field that
    * does NOT encrypt pages, so password-"protected" files read
    * normally.) A RAW field of 0 is also treated as un-encoded: real
    * files store `0 ^ mask` when un-encoded, but independent fixture
    * writers zero-fill the header, and `key == DbKeyMask` is a
    * 1-in-2^32 coincidence against a field that reads garbage
    * otherwise. Like the Jet3 byte conventions, the scheme is
    * validated round-trip against this repo's own encoder plus RFC
    * 6229-style RC4 test vectors, not a real Access-encoded file
    * (none exists in this offline environment — README caveat).
    */
  private def decodeIfEncrypted(bytes: Array[Byte])(implicit fmt: Fmt): Array[Byte] = {
    val masked = i32(bytes, 0x3e)
    val dbKey = masked ^ DbKeyMask
    if (masked == 0 || dbKey == 0) return bytes
    val out = bytes.clone()
    val nPages = bytes.length / fmt.pageSize
    var pg = 1
    while (pg < nPages) {
      val k = dbKey ^ pg
      val key = Array[Byte](k.toByte, (k >> 8).toByte, (k >> 16).toByte, (k >>> 24).toByte)
      rc4(key, out, pg * fmt.pageSize, fmt.pageSize)
      pg += 1
    }
    out
  }

  /** RC4 (KSA + PRGA) XOR'd over `buf[off, off+len)` in place. */
  private def rc4(key: Array[Byte], buf: Array[Byte], off: Int, len: Int): Unit = {
    val s = Array.tabulate(256)(identity)
    var i = 0
    var j = 0
    while (i < 256) {
      j = (j + s(i) + (key(i % key.length) & 0xff)) & 0xff
      val t = s(i); s(i) = s(j); s(j) = t
      i += 1
    }
    i = 0; j = 0
    var n = 0
    while (n < len) {
      i = (i + 1) & 0xff
      j = (j + s(i)) & 0xff
      val t = s(i); s(i) = s(j); s(j) = t
      buf(off + n) = (buf(off + n) ^ s((s(i) + s(j)) & 0xff)).toByte
      n += 1
    }
  }

  /** Keystream prefix for the RC4 conformance spec (RFC 6229 vectors):
    * RC4 is symmetric, so an implementation bug would self-cancel in
    * the fixture round-trip — conformance to the published vectors is
    * what pins TRUE RC4, the variant real Access files use.
    */
  private[ingest] def rc4Keystream(key: Array[Byte], n: Int): Array[Byte] = {
    val buf = new Array[Byte](n)
    rc4(key, buf, 0, n)
    buf
  }

  private def checkHeader(bytes: Array[Byte]): Fmt = {
    if (bytes.length < Jet3Fmt.pageSize)
      throw new IllegalArgumentException(
        "Not an Access database (missing Jet/ACE DB signature)")
    val magic = new String(bytes, 4, Magic.length, "US-ASCII")
    val ver = bytes(0x14) & 0xff
    (magic, ver) match {
      case (Magic, 0x00) => Jet3Fmt
      case (Magic, 0x01) => Jet4Fmt
      // ACE (.accdb, Access 2007–2019/365: version bytes 0x02–0x05):
      // same page size, catalog, TDEF and row layout as Jet4 — the
      // format deltas are the signature, the version byte, and new
      // column types (complex/attachment/extended-date), which surface
      // the typed unsupported-column error at decode. mdbtools likewise
      // routes every ACE version through its Jet4 path.
      case (AceMagic, v) if v >= 0x02 && v <= 0x05 => Jet4Fmt
      case (Magic, v) => throw new UnsupportedOperationException(
        f"Jet-signed Access database with unknown version 0x$v%02x " +
          "(corrupt header?); export to CSV and use the delimited reader")
      case (AceMagic, v) => throw new UnsupportedOperationException(
        f"ACE database version 0x$v%02x is not supported; " +
          "export to CSV and use the delimited reader")
      case _ => throw new IllegalArgumentException(
        "Not an Access database (missing Jet/ACE DB signature)")
    }
  }

  private final case class Table(tdefPg: Int, cols: Seq[Col])

  private def u8(b: Array[Byte], o: Int): Int = b(o) & 0xff
  private def u16(b: Array[Byte], o: Int): Int =
    (b(o) & 0xff) | (b(o + 1) & 0xff) << 8
  private def i32(b: Array[Byte], o: Int): Int =
    (b(o) & 0xff) | (b(o + 1) & 0xff) << 8 |
      (b(o + 2) & 0xff) << 16 | (b(o + 3) & 0xff) << 24
  private def i64(b: Array[Byte], o: Int): Long =
    (0 until 8).map(i => (b(o + i) & 0xffL) << (8 * i)).reduce(_ | _)

  /** TDEF pages chain through the next-page pointer at offset 4; the
    * logical definition stream is page one in full, then each
    * continuation page minus its 8-byte page header. Wide tables (~90+
    * columns) spill their descriptors and UTF-16 names across pages
    * routinely, so the stream is stitched here instead of refused.
    */
  private def tdefStream(bytes: Array[Byte], tdefPg: Int)(implicit fmt: Fmt): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    var pg = tdefPg
    var first = true
    var hops = 0
    val seen = scala.collection.mutable.Set.empty[Int]
    while (pg != 0 || first) {
      val base = pg * fmt.pageSize
      require(base > 0 && base + fmt.pageSize <= bytes.length,
        s"TDEF page $pg out of range")
      require(u8(bytes, base) == 0x02, s"page $pg is not a table definition")
      require(seen.add(pg), s"TDEF page chain loops at page $pg")
      require(hops < 1024, "TDEF page chain too long")
      if (first) out.write(bytes, base, fmt.pageSize)
      else out.write(bytes, base + 8, fmt.pageSize - 8)
      pg = i32(bytes, base + 4)
      first = false
      hops += 1
    }
    out.toByteArray
  }

  private def parseTable(bytes: Array[Byte], tdefPg: Int)(implicit fmt: Fmt): Table = {
    val td = tdefStream(bytes, tdefPg)
    val numRealIdx = i32(td, fmt.tdefNumRealIdxOff)
    val numCols = u16(td, fmt.tdefNumColsOff)
    var p = fmt.tdefColsStart + numRealIdx * fmt.ridxEntryLen
    val cols = (0 until numCols).map { _ =>
      val c =
        if (fmt.jet3) {
          // 18-byte Jet3 descriptor: type, u16 column number, u16 var
          // index, flags at 13, u16 fixed offset at 14, u16 length at 16
          val typ = u8(td, p)
          val num = u16(td, p + 1)
          val offV = u16(td, p + 3)
          val flags = u8(td, p + 13)
          val offF = u16(td, p + 14)
          val len = u16(td, p + 16)
          Col("", typ, num, offV, offF, (flags & 0x01) != 0, len, 0, 0)
        } else {
          val typ = u8(td, p)
          val num = u16(td, p + 5)
          val offV = u16(td, p + 7)
          val prec = u8(td, p + 11)
          val scale = u8(td, p + 12)
          val flags = u8(td, p + 15)
          val offF = u16(td, p + 21)
          val len = u16(td, p + 23)
          Col("", typ, num, offV, offF, (flags & 0x01) != 0, len, prec, scale)
        }
      p += fmt.colDescLen
      c
    }
    val named = cols.map { c =>
      if (fmt.jet3) { // u8 length + single-byte (cp1252) name
        val nameLen = u8(td, p)
        val name = new String(td, p + 1, nameLen, "windows-1252")
        p += 1 + nameLen
        c.copy(name = name)
      } else {
        val nameLen = u16(td, p)
        val name = new String(td, p + 2, nameLen, "UTF-16LE")
        p += 2 + nameLen
        c.copy(name = name)
      }
    }
    Table(tdefPg, named.sortBy(_.num))
  }

  /** Rows of `table` in (page order, row order), strings-only. */
  private def tableRows(bytes: Array[Byte], table: Table, maxRows: Int)(
      implicit fmt: Fmt): Seq[Seq[String]] = {
    val out = ArrayBuffer.empty[Seq[String]]
    val nPages = bytes.length / fmt.pageSize
    val dirOff = fmt.dataRowCountOff + 2
    var pg = 1
    while (pg < nPages && out.length < maxRows) {
      val base = pg * fmt.pageSize
      if (u8(bytes, base) == 0x01 && i32(bytes, base + 4) == table.tdefPg) {
        val nRows = u16(bytes, base + fmt.dataRowCountOff)
        var r = 0
        while (r < nRows && out.length < maxRows) {
          val raw = u16(bytes, base + dirOff + 2 * r)
          val deleted = (raw & 0x8000) != 0
          // overflow pointer entry: 4 bytes of record pointer, not row
          // data — the relocated row is read when its (owner-tagged)
          // overflow page comes up in this same scan
          val lookup = (raw & 0x4000) != 0
          val start = raw & 0x1fff
          if (!deleted && !lookup && start > 0 && start < fmt.pageSize) {
            val end = rowEnd(bytes, base, nRows, start)
            if (end > start) out += decodeRow(bytes, base, start, end, table.cols)
          }
          r += 1
        }
      }
      pg += 1
    }
    out.toSeq
  }

  /** End of the row starting at `start`: the smallest other directory
    * offset greater than it, else the page end. Rows pack from the page
    * end, but directory order need not match placement order after
    * deletes/updates in real files, so "previous directory entry" is
    * NOT a safe extent bound; deleted/lookup entries still delimit the
    * space below them and count as boundaries.
    */
  private def rowEnd(bytes: Array[Byte], base: Int, nRows: Int, start: Int)(
      implicit fmt: Fmt): Int = {
    var end = fmt.pageSize
    var i = 0
    while (i < nRows) {
      val o = u16(bytes, base + fmt.dataRowCountOff + 2 + 2 * i) & 0x1fff
      if (o > start && o < end) end = o
      i += 1
    }
    end
  }

  /** Jet3 var-column offsets are single bytes (mod 256) plus a jump
    * table: one byte per 256-byte block the row spans beyond the first
    * (`numJumps = (rowLen - 1) / 256`), each entry naming the first
    * var-column index whose absolute offset lies in the next block.
    * Documented convention (fixture-matched; see the class scaladoc's
    * third-party caveat): tail from the row end is [null mask]
    * [jump table] [u8 varCount] [off_0 .. off_n, off_0 nearest the
    * count] — Jet4's tail shape with u8 entries and the jump table in
    * place of u16 widths. Returns absolute offsets off(0..varCount).
    */
  private def jet3VarOffsets(row: Array[Byte], maskSz: Int): (Int, Array[Int]) = {
    val len = row.length
    val numJumps = (len - 1) / 256
    val cntAt = len - maskSz - numJumps - 1
    val varCount = u8(row, cntAt)
    val offs = new Array[Int](varCount + 1)
    var jumpsUsed = 0
    var i = 0
    while (i <= varCount) {
      while (jumpsUsed < numJumps &&
        i == u8(row, len - maskSz - 1 - jumpsUsed)) jumpsUsed += 1
      offs(i) = u8(row, cntAt - 1 - i) + (jumpsUsed << 8)
      i += 1
    }
    (varCount, offs)
  }

  private def decodeRow(
      bytes: Array[Byte], pageBase: Int, start: Int, end: Int,
      cols: Seq[Col])(implicit fmt: Fmt): Seq[String] = {
    val row = java.util.Arrays.copyOfRange(bytes, pageBase + start, pageBase + end)
    val numCols = if (fmt.jet3) u8(row, 0) else u16(row, 0)
    val maskSz = (numCols + 7) / 8
    def notNull(c: Int): Boolean =
      c < numCols && (u8(row, row.length - maskSz + c / 8) & (1 << (c % 8))) != 0
    val hasVar = cols.exists(!_.fixed)
    // tail (Jet4): ... [off_n .. off_1 off_0] [u16 varCount] [null mask]
    // tail (Jet3): ... [off_n .. off_0] [u8 varCount] [jumps] [null mask]
    val (varCount, jet3Offs) =
      if (!hasVar) (0, Array.empty[Int])
      else if (fmt.jet3) jet3VarOffsets(row, maskSz)
      else (u16(row, row.length - maskSz - 2), Array.empty[Int])
    def varOff(i: Int): Int =
      if (fmt.jet3) jet3Offs(i)
      else u16(row, row.length - maskSz - 2 - 2 * (i + 1))
    val fixedBase = if (fmt.jet3) 1 else 2
    cols.map { c =>
      if (c.typ == TBool) {
        // booleans live in the null mask itself: bit set = true
        if (notNull(c.num)) "1" else "0"
      } else if (!notNull(c.num)) {
        null
      } else if (c.fixed) {
        val o = fixedBase + c.offF
        c.typ match {
          case TByte => u8(row, o).toString
          case TInt => ((u16(row, o) << 16) >> 16).toString
          case TLong => i32(row, o).toString
          case TMoney => renderMoney(i64(row, o))
          case TFloat => renderFloat(java.lang.Float.intBitsToFloat(i32(row, o)))
          case TDouble => renderDouble(java.lang.Double.longBitsToDouble(i64(row, o)))
          case TDateTime => renderDateTime(java.lang.Double.longBitsToDouble(i64(row, o)))
          case TGuid => renderGuid(row, o)
          case TBinary => renderHex(row, o, o + c.len)
          case TNumeric if !fmt.jet3 => renderNumeric(row, o, c.scale)
          // fixed-length TEXT (legal, if rare): col.len bytes,
          // NUL-padded on the right
          case TText =>
            textSlice(row, o, o + c.len).reverse.dropWhile(_ == '\u0000').reverse
          case t => throw unsupportedType(c.name, t)
        }
      } else {
        if (c.offV >= varCount) null
        else c.typ match {
          case TText => textSlice(row, varOff(c.offV), varOff(c.offV + 1))
          case TMemo => decodeMemo(bytes, row, varOff(c.offV), varOff(c.offV + 1))
          case TBinary => renderHex(row, varOff(c.offV), varOff(c.offV + 1))
          case TOle => renderBase64(
            lvalBytes(bytes, row, varOff(c.offV), varOff(c.offV + 1)))
          case t => throw unsupportedType(c.name, t)
        }
      }
    }
  }

  private def unsupportedType(col: String, typ: Int) =
    new UnsupportedOperationException(
      f"Unsupported Jet4 column type 0x$typ%02x in column '$col' " +
        "(complex/attachment/replication types are out of scope); export " +
        "the table to CSV and use the delimited reader")

  /** TEXT slice by generation: Jet4 via [[decodeText]] (UTF-16LE +
    * compressed variant), Jet3 as single-byte cp1252 (Jet3 text IS the
    * ANSI code page — no wide or compressed forms exist there).
    */
  private def textSlice(b: Array[Byte], from: Int, to: Int)(implicit fmt: Fmt): String =
    if (fmt.jet3) new String(b, from, math.max(0, to - from), "windows-1252")
    else decodeText(b, from, to)

  /** Jet4 TEXT: UTF-16LE, or the 0xFF 0xFE "compressed" variant where
    * runs of 8-bit (latin-1) chars alternate with UTF-16LE runs, toggled
    * by 0x00 bytes (the published compression scheme for mostly-latin
    * text).
    */
  private def decodeText(row: Array[Byte], from: Int, to: Int): String = {
    if (to <= from) return ""
    val len = to - from
    if (len >= 2 && (row(from) & 0xff) == 0xff && (row(from + 1) & 0xff) == 0xfe) {
      val sb = new java.lang.StringBuilder
      var i = from + 2
      var compressed = true
      while (i < to) {
        if (compressed) {
          if (row(i) == 0x00) { compressed = false; i += 1 }
          else { sb.append((row(i) & 0xff).toChar); i += 1 }
        } else {
          if (i + 1 < to && row(i) == 0x00 && row(i + 1) == 0x00) { compressed = true; i += 2 }
          else if (i + 1 < to) { sb.append(u16(row, i).toChar); i += 2 }
          else i = to
        }
      }
      sb.toString
    } else new String(row, from, len, "UTF-16LE")
  }

  /** Integer-valued doubles trim to int form ("3.0" → "3") —
    * [[XlsReader]]/[[ExcelReader]] rendering parity.
    */
  private def renderDouble(d: Double): String =
    if (d.isWhole && math.abs(d) < 1e15) d.toLong.toString else d.toString

  private def renderFloat(f: Float): String =
    if (f.isWhole && math.abs(f) < 1e15) f.toLong.toString else f.toString

  /** MONEY is a 10^4-scaled int64; trailing zeros trim ("12.5000" →
    * "12.5", "10.0000" → "10") — same display-parity rule as
    * [[renderDouble]]. toPlainString keeps large values out of E
    * notation.
    */
  private def renderMoney(v: Long): String =
    java.math.BigDecimal.valueOf(v, 4).stripTrailingZeros.toPlainString

  private val JetDateEpoch = java.time.LocalDate.of(1899, 12, 30)
  private val DateTimeFmt =
    java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")

  /** DATETIME is a double of days since 1899-12-30 with the time of day
    * in the fraction; rendered to second precision, date-only at
    * midnight (Access display parity with [[renderDouble]] trimming).
    */
  private def renderDateTime(days: Double): String = {
    val whole = math.floor(days)
    val secs = math.round((days - whole) * 86400.0)
    val dt = JetDateEpoch.plusDays(whole.toLong).atStartOfDay.plusSeconds(secs)
    if (dt.toLocalTime == java.time.LocalTime.MIDNIGHT) dt.toLocalDate.toString
    else dt.format(DateTimeFmt)
  }

  /** GUID: 16 bytes in the Windows mixed-endian layout (first three
    * groups little-endian, last eight bytes as-is), rendered in the
    * braced registry format.
    */
  private def renderGuid(b: Array[Byte], o: Int): String = {
    def hex(from: Int, until: Int): String =
      (from until until).map(i => f"${b(i) & 0xff}%02x").mkString
    f"{${i32(b, o)}%08x-${u16(b, o + 4)}%04x-${u16(b, o + 6)}%04x-" +
      hex(o + 8, o + 10) + "-" + hex(o + 10, o + 16) + "}"
  }

  /** BINARY renders as lowercase hex — the unambiguous short form for a
    * fixed/variable raw-byte field (Access itself has no display form;
    * the reference's ADODB path surfaces a byte array).
    */
  private def renderHex(b: Array[Byte], from: Int, to: Int): String = {
    val sb = new java.lang.StringBuilder((to - from) * 2)
    var i = from
    while (i < to) { sb.append(f"${b(i) & 0xff}%02x"); i += 1 }
    sb.toString
  }

  /** OLE objects render as base64 of the raw bytes — lossless and
    * compact for multi-KB blobs where hex would double again.
    */
  private def renderBase64(b: Array[Byte]): String =
    java.util.Base64.getEncoder.encodeToString(b)

  /** NUMERIC/DECIMAL: 17 bytes — a sign byte (bit 0x80 set = negative,
    * per the mdbtools format notes) then a 16-byte big-endian unsigned
    * magnitude, scaled by the column descriptor's scale. Rendered like
    * MONEY: trailing zeros trimmed, plain (non-E) notation.
    */
  private def renderNumeric(b: Array[Byte], o: Int, scale: Int): String = {
    val neg = (b(o) & 0x80) != 0
    val mag = new java.math.BigInteger(1,
      java.util.Arrays.copyOfRange(b, o + 1, o + 17))
    val signed = if (neg) mag.negate() else mag
    new java.math.BigDecimal(signed, scale).stripTrailingZeros.toPlainString
  }

  /** MEMO: the [[lvalBytes]] payload decoded as TEXT — Jet4 via
    * [[decodeText]] (UTF-16LE / compressed), Jet3 as cp1252 (memo text
    * is stored in the ANSI code page there, like inline TEXT).
    */
  private def decodeMemo(bytes: Array[Byte], row: Array[Byte], from: Int, to: Int)(
      implicit fmt: Fmt): String = {
    val b = lvalBytes(bytes, row, from, to)
    if (fmt.jet3) new String(b, "windows-1252") else decodeText(b, 0, b.length)
  }

  /** Long-value payload shared by MEMO and OLE: u32 length-with-flags
    * (low 3 bytes = payload byte length; high byte: 0x80 inline, 0x40
    * single-LVAL-row, 0x00 chained), then a u32 record pointer
    * (row << 24 | page) into an `LVAL`-tagged page, then 4 unused
    * bytes. Returns the raw payload bytes — MEMO decodes them as TEXT,
    * OLE renders them as base64.
    */
  private def lvalBytes(bytes: Array[Byte], row: Array[Byte], from: Int, to: Int)(
      implicit fmt: Fmt): Array[Byte] = {
    require(to - from >= 12, "long-value field shorter than its 12-byte header")
    val lenFlags = i32(row, from)
    val flags = (lenFlags >>> 24) & 0xff
    val memoLen = lenFlags & 0xffffff
    if ((flags & 0x80) != 0) {
      java.util.Arrays.copyOfRange(row, from + 12, math.min(from + 12 + memoLen, to))
    } else if ((flags & 0x40) != 0) {
      val (s, e) = lvalSlice(bytes, i32(row, from + 4))
      java.util.Arrays.copyOfRange(bytes, s, e)
    } else {
      // chained: each LVAL row = u32 next record pointer + data bytes
      val buf = new ByteArrayOutputStream()
      var ptr = i32(row, from + 4)
      var hops = 0
      while (ptr != 0 && hops < (1 << 16)) {
        val (s, e) = lvalSlice(bytes, ptr)
        require(e - s >= 4, "chained LVAL row shorter than its next pointer")
        ptr = i32(bytes, s)
        buf.write(bytes, s + 4, e - s - 4)
        hops += 1
      }
      require(ptr == 0, "LVAL chain does not terminate")
      val all = buf.toByteArray
      require(all.length >= memoLen, "LVAL chain shorter than the declared memo length")
      java.util.Arrays.copyOf(all, memoLen)
    }
  }

  /** Absolute (start, end) of row `recPtr >>> 24` on LVAL page
    * `recPtr & 0xffffff` — the page must carry the `LVAL` tag where
    * data pages carry their owning TDEF pointer. The record-pointer
    * scheme and the `LVAL` tag are shared across generations; only the
    * page geometry (size, row-directory offset) is per-format.
    */
  private def lvalSlice(bytes: Array[Byte], recPtr: Int)(implicit fmt: Fmt): (Int, Int) = {
    val pg = recPtr & 0xffffff
    val rowIdx = (recPtr >>> 24) & 0xff
    val base = pg * fmt.pageSize
    require(base >= 0 && base + fmt.pageSize <= bytes.length, s"LVAL page $pg out of range")
    require(u8(bytes, base) == 0x01 &&
      new String(bytes, base + 4, 4, "US-ASCII") == "LVAL", s"page $pg is not an LVAL page")
    val nRows = u16(bytes, base + fmt.dataRowCountOff)
    require(rowIdx < nRows, s"LVAL row $rowIdx out of range on page $pg")
    val start = u16(bytes, base + fmt.dataRowCountOff + 2 + 2 * rowIdx) & 0x1fff
    require(start > 0 && start < fmt.pageSize, s"bad LVAL row offset on page $pg")
    (base + start, base + rowEnd(bytes, base, nRows, start))
  }
}
