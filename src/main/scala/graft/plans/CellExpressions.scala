package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, BooleanType, DataType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Byte-level kernels of the delimited scan (graft.ingest.Readers): the
  * reference's blank-line test, its naive split and its per-cell cleanup
  * (reference backend/index.js:111,115,216,221), each one Catalyst
  * expression whose generated code is a single static call. No regex runs
  * per line or per cell, and a wide projection stays a few bytes per
  * column, so HotSpot compiles it instead of interpreting a huge method.
  *
  * Exactness contract — byte-identical to the regex formulas the scan used
  * before (CleanseSpec keeps them as its oracle):
  *   - cell:  `^\s+|\s+$` → `^"|"$` → `^\||\|$` (each replaced by ""),
  *     then "" → null (index.js:115 `.trim().replace(/^"|"$/g,'')
  *     .replace(/^\||\|$/g,'')`, and the save path's `cells[idx] || null`,
  *     index.js:223);
  *   - blank: `^\s+|\s+$` leaves "";
  *   - split: `split(line, Pattern.quote(d), -1)` (trailing empties kept).
  * Java regex semantics carry over: `\s` is `[ \t\n\x0B\f\r]`, and `$`
  * also matches before a final line terminator (`\n`, `\r`, `\r\n`,
  * U+0085, U+2028, U+2029): a space before a final U+2028 is trimmed and
  * a quote or pipe there is stripped. Cells holding a terminator take a
  * copying path that models `$` exactly; all others are an index-only trim
  * returning a view. The regex path decoded to String and re-encoded,
  * turning malformed UTF-8 into U+FFFD; an invalid cell is re-encoded the
  * same way before the kernel runs. The split keeps raw bytes: a
  * single-byte ASCII delimiter never sits inside a malformed sequence, so
  * re-encoding each cell equals the old decode of the whole line.
  */
object CellExpressions {

  /** Per-cell trim → edge quote → edge pipe → empty to null. */
  def cleanCell(c: Column): Column = ExprColumn(CleanCell(ExprColumn.exprOf(c)))

  /** True when the line holds a byte outside Java's `\s`. */
  def notBlank(line: Column): Column = ExprColumn(NotBlank(ExprColumn.exprOf(line)))

  /** Literal split on one ASCII delimiter, trailing empty cells kept. */
  def splitOn(line: Column, delimiter: String): Column = {
    require(delimiter.length == 1 && delimiter.charAt(0) < 0x80,
      s"splitOn takes a single ASCII delimiter, got '$delimiter'")
    ExprColumn(SplitOnByte(ExprColumn.exprOf(line), delimiter.charAt(0).toByte))
  }

  /** Java regex `\s`: space, \t, \n, \x0B, \f, \r. */
  @inline private def isSpace(b: Byte): Boolean = b == ' ' || (b >= '\t' && b <= '\r')

  private[plans] def notBlank(s: UTF8String): Boolean = {
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val n = s.numBytes
    var i = 0
    while (i < n) {
      if (!isSpace(Platform.getByte(base, off + i))) return true
      i += 1
    }
    false
  }

  private[plans] def split(s: UTF8String, delimiter: Byte): ArrayData = {
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val n = s.numBytes
    var count = 1
    var i = 0
    while (i < n) {
      if (Platform.getByte(base, off + i) == delimiter) count += 1
      i += 1
    }
    val cells = new Array[Any](count)
    var k = 0
    var start = 0
    i = 0
    while (i < n) {
      if (Platform.getByte(base, off + i) == delimiter) {
        cells(k) = UTF8String.fromAddress(base, off + start, i - start)
        k += 1
        start = i + 1
      }
      i += 1
    }
    cells(k) = UTF8String.fromAddress(base, off + start, n - start)
    new GenericArrayData(cells)
  }

  private[plans] def clean(s: UTF8String): UTF8String = {
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val n = s.numBytes
    var nonAscii = false
    var eol = false
    var i = 0
    while (i < n) {
      val b = Platform.getByte(base, off + i)
      if (b < 0) nonAscii = true
      else if (b == '\n' || b == '\r') eol = true
      i += 1
    }
    if (nonAscii) {
      if (!s.isValid) return clean(UTF8String.fromString(s.toString))
      eol ||= hasWideTerminator(base, off, n)
    }
    if (eol) cleanAtTerminators(s)
    else {
      var from = 0
      var to = n
      while (from < to && isSpace(Platform.getByte(base, off + from))) from += 1
      while (to > from && isSpace(Platform.getByte(base, off + to - 1))) to -= 1
      if (from < to && Platform.getByte(base, off + from) == '"') from += 1
      if (to > from && Platform.getByte(base, off + to - 1) == '"') to -= 1
      if (from < to && Platform.getByte(base, off + from) == '|') from += 1
      if (to > from && Platform.getByte(base, off + to - 1) == '|') to -= 1
      if (from == to) null
      else if (from == 0 && to == n) s
      else UTF8String.fromAddress(base, off + from, to - from)
    }
  }

  /** Any U+0085 (C2 85), U+2028 (E2 80 A8) or U+2029 (E2 80 A9). */
  private def hasWideTerminator(base: AnyRef, off: Long, n: Int): Boolean = {
    var i = 0
    while (i + 1 < n) {
      val b = Platform.getByte(base, off + i)
      if (b == 0xC2.toByte && Platform.getByte(base, off + i + 1) == 0x85.toByte) return true
      if (b == 0xE2.toByte && i + 2 < n && Platform.getByte(base, off + i + 1) == 0x80.toByte) {
        val c = Platform.getByte(base, off + i + 2)
        if (c == 0xA8.toByte || c == 0xA9.toByte) return true
      }
      i += 1
    }
    false
  }

  /** The three regex steps on a working copy, with `$` matching at the
    * end and before a final line terminator, as Java's `$` does.
    */
  private def cleanAtTerminators(s: UTF8String): UTF8String = {
    val w = new Cell(new Array[Byte](s.numBytes))
    s.writeToMemory(w.bytes, Platform.BYTE_ARRAY_OFFSET)
    w.stripSpace()
    w.stripEdge('"')
    w.stripEdge('|')
    if (w.from == w.to) null else UTF8String.fromBytes(w.bytes, w.from, w.to - w.from)
  }

  /** A string being rewritten in place: the current value is
    * `bytes[from, to)`, always valid UTF-8.
    */
  private final class Cell(val bytes: Array[Byte]) {
    var from = 0
    var to: Int = bytes.length

    /** Byte length of the final line terminator of `bytes[start, to)`
      * (`\r\n`, `\n`, `\r`, U+0085, U+2028, U+2029), 0 if none: Java's
      * `$` matches at `to` and at `to` minus this length.
      */
    private def finalTerminator(start: Int): Int = {
      val n = to - start
      def last(k: Int): Byte = bytes(to - k)
      if (n >= 2 && last(2) == '\r' && last(1) == '\n') 2
      else if (n >= 1 && (last(1) == '\n' || last(1) == '\r')) 1
      else if (n >= 2 && last(2) == 0xC2.toByte && last(1) == 0x85.toByte) 2
      else if (n >= 3 && last(3) == 0xE2.toByte && last(2) == 0x80.toByte &&
        (last(1) == 0xA8.toByte || last(1) == 0xA9.toByte)) 3
      else 0
    }

    private def delete(p: Int, q: Int): Unit = {
      System.arraycopy(bytes, q, bytes, p, to - q)
      to -= q - p
    }

    /** `^\s+|\s+$` → "": the leading run, then the run ending at `$`. A
      * `\n`/`\r` terminator is itself `\s`, so that run reaches the end;
      * before a wide terminator it stops at the terminator.
      */
    def stripSpace(): Unit = {
      val start = from
      while (from < to && isSpace(bytes(from))) from += 1
      val t = finalTerminator(start)
      val end = if (t > 0 && !isSpace(bytes(to - 1))) to - t else to
      var p = end
      while (p > from && isSpace(bytes(p - 1))) p -= 1
      delete(p, end)
    }

    /** `^c|c$` → "": one leading `c`, then one `c` at `$`. */
    def stripEdge(c: Char): Unit = {
      val start = from
      if (from < to && bytes(from) == c) from += 1
      val p = to - finalTerminator(start) - 1
      if (p >= from && bytes(p) == c) delete(p, p + 1)
    }
  }
}

case class CleanCell(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType

  override def nullable: Boolean = true

  override def nullSafeEval(input: Any): Any =
    CellExpressions.clean(input.asInstanceOf[UTF8String])

  // not nullSafeCodeGen: a non-null cell can clean to null, which that
  // helper cannot express when the child is non-nullable
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val clz = CellExpressions.getClass.getName.stripSuffix("$") + "$.MODULE$"
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      UTF8String ${ev.value} = ${c.isNull} ? null : $clz.clean(${c.value});
      boolean ${ev.isNull} = ${ev.value} == null;""")
  }

  override protected def withNewChildInternal(newChild: Expression): CleanCell =
    copy(child = newChild)
}

case class NotBlank(child: Expression) extends UnaryExpression {

  override def dataType: DataType = BooleanType

  override def nullSafeEval(input: Any): Any =
    CellExpressions.notBlank(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val clz = CellExpressions.getClass.getName.stripSuffix("$") + "$.MODULE$"
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $clz.notBlank($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): NotBlank =
    copy(child = newChild)
}

case class SplitOnByte(child: Expression, delimiter: Byte) extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    CellExpressions.split(input.asInstanceOf[UTF8String], delimiter)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val clz = CellExpressions.getClass.getName.stripSuffix("$") + "$.MODULE$"
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $clz.split($c, (byte) $delimiter);")
  }

  override protected def withNewChildInternal(newChild: Expression): SplitOnByte =
    copy(child = newChild)
}
