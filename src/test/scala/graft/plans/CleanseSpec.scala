package graft.plans

import java.nio.file.Files
import java.util.regex.Pattern

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.SparkSpec
import graft.ingest.{Readers, Sniffer}

/** Differential tests of the delimited-scan kernels (CellExpressions)
  * against the regex formulas the scan used before them, which live on
  * only here, as the oracle. Every comparison is on bytes (`hex`), so a
  * kernel that emits malformed UTF-8 cannot pass by decoding to the same
  * replacement characters as the oracle.
  */
class CleanseSpec extends SparkSpec {
  import spark.implicits._

  // ------------------------------------------------------------- oracle

  private def trimAll(c: Column): Column = regexp_replace(c, "^\\s+|\\s+$", "")

  private def regexCell(c: Column): Column = {
    val stripped =
      regexp_replace(regexp_replace(trimAll(c), "^\"|\"$", ""), "^\\||\\|$", "")
    when(stripped === "", lit(null)).otherwise(stripped)
  }

  private def regexSplit(c: Column, d: String): Column = split(c, Pattern.quote(d), -1)

  // ------------------------------------------------------------ helpers

  /** Java `\s`, the NEL/LS/PS line terminators, `\r\n`, the three
    * delimiters and plain text. */
  private val alphabet = Seq(" ", "\t", "\n", "\u000b", "\f", "\r", "\"", "|", "a",
    "\u00e9", "\u00a0", "\u0085", "\u2028", "\u2029", "\r\n", ",")

  private def randomStrings(seed: Long, n: Int, maxTokens: Int): Seq[String] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(n)(Seq.fill(rnd.nextInt(maxTokens + 1))(
      alphabet(rnd.nextInt(alphabet.size))).mkString)
  }

  private def show(s: String): String =
    if (s == null) "null"
    else s.flatMap(c => if (c >= 0x20 && c < 0x7f) c.toString else f"\\u${c.toInt}%04x")

  /** Rows of a string column `s` whose kernel and oracle outputs differ
    * (null-safe, on bytes), as printable examples. */
  private def mismatches(df: DataFrame, kernel: Column, oracle: Column): Seq[String] =
    df.select(col("s"), kernel.as("k"), oracle.as("o"))
      .filter(!(hex(col("k").cast("string")) <=> hex(col("o").cast("string"))))
      .limit(5).collect().toSeq
      .map(r => s"${show(r.getString(0))} -> kernel ${r.get(1)} oracle ${r.get(2)}")

  /** Strings through an RDD (not a LocalRelation, which the optimizer
    * would fold interpreted), so the kernels run in generated code. */
  private def frame(strings: Seq[String]): DataFrame =
    spark.sparkContext.parallelize(strings, 4).toDF("s")

  // -------------------------------------------------------------- tests

  test("cell, blank and split kernels equal the regex formulas on 200k seeded strings") {
    val strings = randomStrings(seed = 20261017L, n = 200000, maxTokens = 10)
    val df = frame(strings).cache()
    try {
      val s = col("s")
      val cellDiff = mismatches(df, CellExpressions.cleanCell(s), regexCell(s))
      assert(cellDiff.isEmpty, s"cell: ${cellDiff.mkString("; ")}")
      val blankDiff = mismatches(df, CellExpressions.notBlank(s), trimAll(s) =!= "")
      assert(blankDiff.isEmpty, s"blank: ${blankDiff.mkString("; ")}")
      Seq("\t", "|", ",").foreach { d =>
        val diff = df.select(col("s"))
          .filter(!(transform(CellExpressions.splitOn(s, d), hex(_)) <=>
            transform(regexSplit(s, d), hex(_))))
          .limit(5).collect().map(r => show(r.getString(0)))
        assert(diff.isEmpty, s"split on ${show(d)}: ${diff.mkString("; ")}")
      }
      // the interpreted path (nullSafeEval) against the same oracle
      val oracle = df.select(regexCell(s)).collect().map(_.getString(0))
      val evalDiff = strings.indices.filter { i =>
        val k = CleanCell(Literal(strings(i))).eval()
        Option(k).map(_.toString).orNull != oracle(i)
      }
      assert(evalDiff.isEmpty,
        s"eval: ${evalDiff.take(5).map(i => show(strings(i))).mkString("; ")}")
    } finally df.unpersist()
  }

  test("named cells: edge quotes and pipes, blanks, final line terminator, Latin-1 byte") {
    val cases: Seq[(Array[Byte], Option[Array[Byte]])] = Seq(
      "\"" -> None,
      "|" -> None,
      "\"|\"" -> None,
      "|\"x\"|" -> Some("\"x\""),
      "" -> None,
      " \t\u000b\f\r\n" -> None,
      // Java `$` also matches before a final U+2028: the space before it
      // is trimmed and a quote there is stripped
      "a \u2028" -> Some("a\u2028"),
      "\"a\"\u2028" -> Some("a\u2028"),
      "a \u0085" -> Some("a\u0085"),
      // after the quotes go, `$` before the final \n reaches the pipe
      "\"a|\n\"" -> Some("a\n"),
      "a|\r\n" -> Some("a")
    ).map { case (in, out) => (in.getBytes("UTF-8"), out.map(_.getBytes("UTF-8"))) } ++ Seq(
      // a Latin-1 upload: the regex path decoded 0xE9 to U+FFFD
      (Array(0xE9, 0x61).map(_.toByte), Some(Array(0xEF, 0xBF, 0xBD, 0x61).map(_.toByte))),
      (Array(0x20, 0xE9, 0x20).map(_.toByte), Some(Array(0xEF, 0xBF, 0xBD).map(_.toByte))))
    cases.foreach { case (in, expected) =>
      val got = Option(CellExpressions.clean(UTF8String.fromBytes(in))).map(_.getBytes.toSeq)
      assert(got == expected.map(_.toSeq), s"clean(${in.map(b => f"$b%02X").mkString(" ")})")
    }
    // the same cells through generated code, against the oracle, plus
    // the other malformed shapes (overlong, surrogate, past U+10FFFF, lone
    // continuation, truncated): the binary → string cast keeps raw bytes
    val malformed = Seq(Seq(0xC0, 0xAF), Seq(0xED, 0xA0, 0x80), Seq(0xF4, 0x90, 0x80, 0x80),
      Seq(0x22, 0x80, 0x22), Seq(0x7C, 0xE2, 0x80), Seq(0xF0, 0x9F, 0x98, 0x20, 0x61))
      .map(_.map(_.toByte).toArray)
    val raw = cases.map(_._1) ++ malformed
    val df = spark.sparkContext.parallelize(raw, 2).toDF("b")
      .select(col("b").cast("string").as("s"))
    assert(df.select(hex(col("s"))).as[String].collect().toSeq ==
      raw.map(_.map(b => f"$b%02X").mkString), "cast altered the raw bytes")
    val diff = mismatches(df, CellExpressions.cleanCell(col("s")), regexCell(col("s")))
    assert(diff.isEmpty, diff.mkString("; "))
    assert(CellExpressions.notBlank(UTF8String.fromString("\u2028")))
    assert(!CellExpressions.notBlank(UTF8String.fromString("")))
    assert(!CellExpressions.notBlank(UTF8String.fromString(" \t\u000b\f\r\n")))
  }

  test("delimited read over raw-byte files equals the regex reader") {
    // single-line rows (the text source splits on \n, \r and \r\n), with
    // invalid UTF-8 — a lone 0xE9 and a truncated E2 80 — next to the
    // delimiters: per-cell re-encoding must equal the old whole-line decode
    val bytes = alphabet.filterNot(t => t.contains('\n') || t.contains('\r'))
      .map(_.getBytes("UTF-8")) ++ Seq(Array(0xE9.toByte), Array(0xE2, 0x80).map(_.toByte))
    val rnd = new scala.util.Random(7L)
    Seq("\t", "|", ",").foreach { d =>
      val out = new java.io.ByteArrayOutputStream()
      out.write(s"id${d}name$d$d\"x\"${d}last\n".getBytes("UTF-8"))
      (1 to 3000).foreach { _ =>
        (1 to rnd.nextInt(8)).foreach(_ => out.write(bytes(rnd.nextInt(bytes.size))))
        out.write('\n')
      }
      val f = Files.createTempFile("graft_cleanse", ".txt")
      Files.write(f, out.toByteArray)
      val path = f.toString
      val got = Readers.delimited(spark, path)

      // the reader as it stood with the regex formulas
      val first = Sniffer.firstLine(spark, path).get
      val delimiter = Sniffer.sniffDelimiter(first)
      val (keep, schema) = Readers.headerSchema(first, delimiter)
      val line = col("value")
      val cells = regexSplit(line, delimiter)
      val expected = spark.read.text(path)
        .filter(trimAll(line) =!= "")
        .filter(!line.contains("---"))
        .filter(line =!= lit(first))
        .select(schema.fieldNames.zipWithIndex.collect {
          case (n, i) if keep.contains(n) => regexCell(get(cells, lit(i))).as(n)
        }.toIndexedSeq: _*)

      assert(got.columns.toSeq == expected.columns.toSeq)
      def bytesOf(df: DataFrame) =
        df.select(df.columns.map(c => hex(col(s"`$c`"))).toIndexedSeq: _*).collect().toSeq
      val (g, e) = (bytesOf(got), bytesOf(expected))
      assert(g.size == e.size && g.size > 2000)
      val firstDiff = g.zip(e).find { case (a, b) => a != b }
      assert(firstDiff.isEmpty, s"delimiter ${show(d)}: kernel vs regex row $firstDiff")
    }
  }
}
