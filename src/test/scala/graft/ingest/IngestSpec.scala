package graft.ingest

import java.nio.file.Files

import graft.SparkSpec

/** Fixtures A1–A4, A6 (FIXTURES.md): reference parse semantics. */
class IngestSpec extends SparkSpec {

  private def tmp(name: String, content: String): String = {
    val f = Files.createTempFile("graft_spec", name)
    Files.writeString(f, content)
    f.toString
  }

  test("leading blank line: header still detected, no header-echo data row") {
    // the second input's blank line is a tab and a space: Spark `trim`
    // keeps the tab, so it must be skipped by the reader's own predicate
    Seq("   \na,b\n1,2\n3,4\n", "\t \na,b\n1,2\n3,4\n").foreach { text =>
      val p = tmp(".csv", text)
      val df = Readers.delimited(spark, p)
      assert(df.columns.toSeq == Seq("a", "b"))
      val rows = df.orderBy("a").collect().map(r => (r.getString(0), r.getString(1)))
      assert(rows.toSeq == Seq(("1", "2"), ("3", "4"))) // no ("a","b") echo
    }
  }

  test("xlsx duplicate and empty headers deduped like the delimited path") {
    val f = Files.createTempFile("graft_dup", ".xlsx")
    ExcelFixture.writeXlsx(f.toString, Seq(
      Seq("id", "id", "", "name"),
      Seq("1", "x", "junk", "ann"),
      Seq("2", "y", "junk", "bob")))
    val df = ExcelReader.read(spark, f.toString)
    assert(df.columns.toSeq == Seq("id", "id_1", "name")) // empty col dropped
    assert(df.count() == 2)
  }

  test("legacy .xls reads through the BIFF8 path via the dispatching reader") {
    val f = Files.createTempFile("graft_legacy", ".xls")
    BiffFixture.writeXls(f.toString, Seq(
      Seq("id", "name"), Seq("1", "ann"), Seq("2", "bob")))
    val df = Readers.read(spark, f.toString)
    assert(df.columns.toSeq == Seq("id", "name"))
    assert(df.orderBy("id").collect().map(r => (r.getString(0), r.getString(1))).toSeq ==
      Seq(("1", "ann"), ("2", "bob")))
  }

  test("BIFF workbook renamed to .xlsx still reads (OLE2 magic routing)") {
    val renamed = Files.createTempFile("graft_renamed", ".xlsx")
    BiffFixture.writeXls(renamed.toString, Seq(Seq("a"), Seq("x")))
    val df = ExcelReader.read(spark, renamed.toString)
    assert(df.columns.toSeq == Seq("a") && df.collect()(0).getString(0) == "x")
  }

  test("corrupt/unreadable .xls surfaces the typed convert-guidance error") {
    val bad = Files.createTempFile("graft_bad", ".xls")
    Files.write(bad, Array(0xD0, 0xCF, 0x11, 0xE0, 0xA1, 0xB1, 0x1A, 0xE1,
      0, 0, 0, 0).map(_.toByte))
    val e = intercept[UnsupportedOperationException] {
      Readers.read(spark, bad.toString)
    }
    assert(e.getMessage.contains("convert to .xlsx or CSV"))
  }

  test("BIFF8 numerics: RK ints, RK x100, doubles, MULRK render as strings") {
    // decodeRk unit truth: int, int/100, float, float/100
    assert(XlsReader.decodeRk((25 << 2) | 2) == 25.0)
    assert(XlsReader.decodeRk((2550 << 2) | 3) == 25.5)
    val fbits = java.lang.Double.doubleToLongBits(2.5)
    assert(XlsReader.decodeRk(((fbits >>> 32) & 0xFFFFFFFCL).toInt) == 2.5)
    val f = Files.createTempFile("graft_nums", ".xls")
    BiffFixture.writeXls(f.toString, Seq(
      Seq("n", "d", "neg", "big", "tiny", "wide"),
      // tiny/wide: plain-decimal rendering, never scientific notation
      Seq("42", "2.5", "-7", "123456789012", "0.0001", "12345678.5")))
    val r = ExcelReader.read(spark, f.toString).collect()(0)
    assert((r.getString(0), r.getString(1), r.getString(2), r.getString(3),
      r.getString(4), r.getString(5)) ==
      ("42", "2.5", "-7", "123456789012", "0.0001", "12345678.5"))
  }

  test("BIFF8 SST CONTINUE split mid-string reads back whole (incl. unicode)") {
    val f = Files.createTempFile("graft_cont", ".xls")
    BiffFixture.writeXls(f.toString, Seq(
      Seq("héader_with_a_long_name", "b"),
      Seq("ünïcode välue", "plain")), splitSst = true)
    val df = ExcelReader.read(spark, f.toString)
    assert(df.columns.toSeq == Seq("héader_with_a_long_name", "b"))
    val r = df.collect()(0)
    assert(r.getString(0) == "ünïcode välue" && r.getString(1) == "plain")
  }

  test("BIFF8 large workbook uses the regular FAT path (>=4096-byte stream)") {
    val f = Files.createTempFile("graft_big", ".xls")
    val rows = Seq(Seq("k", "v")) ++ (1 to 400).map(i => Seq(i.toString, s"value_$i"))
    BiffFixture.writeXls(f.toString, rows)
    val df = ExcelReader.read(spark, f.toString)
    assert(df.count() == 400)
    assert(df.filter(org.apache.spark.sql.functions.col("k") === "400")
      .collect()(0).getString(1) == "value_400")
  }

  test("xlsx inline strings keep numeric-looking text verbatim") {
    val f = Files.createTempFile("graft_inline", ".xlsx")
    ExcelFixture.writeXlsx(f.toString, Seq(
      Seq("code", "qty"),
      Seq("3.00", "2.0")))
    val r = ExcelReader.read(spark, f.toString).collect()(0)
    // both cells are inlineStr in the fixture: neither is numeric-trimmed
    assert(r.getString(0) == "3.00" && r.getString(1) == "2.0")
  }

  test("sniffer priority: tab > pipe > comma, first line only") {
    assert(Sniffer.sniffDelimiter("a\tb|c,d") == "\t")
    assert(Sniffer.sniffDelimiter("a|b,c") == "|")
    assert(Sniffer.sniffDelimiter("a,b") == ",")
    assert(Sniffer.sniffDelimiter("plain") == ",")
  }

  test("A1 csv: naive split, quote strip, missing cell -> null") {
    val p = tmp(".csv",
      "id,customer,amount,order_ts\n" +
        "1,\"Acme, Inc.\",150.25,2026-01-05 10:00:00\n" +
        "2,Globex,99.00,2026-01-06 11:30:00\n" +
        "3,\"Initech\",\n")
    val df = Readers.delimited(spark, p)
    assert(df.columns.toSeq == Seq("id", "customer", "amount", "order_ts"))
    val rows = df.orderBy("id").collect()
    assert(rows.length == 3)
    // NAIVE split: "Acme, Inc." splits; cell 2 becomes `Acme`, rest shifts
    assert(rows(0).getString(1) == "Acme")
    assert(rows(0).getString(2) == "Inc.\"".replace("\"", "")) // quote-stripped
    assert(rows(1).getString(1) == "Globex")
    assert(rows(1).getString(2) == "99.00")
    assert(rows(2).getString(1) == "Initech")
    assert(rows(2).isNullAt(2)) // empty -> null
    assert(rows(2).isNullAt(3)) // missing -> null
  }

  test("A2 tsv: tab wins even when cells contain commas") {
    val p = tmp(".tsv", "metric\tvalue\nlat,ency\t12.5\n")
    val df = Readers.delimited(spark, p)
    assert(df.columns.toSeq == Seq("metric", "value"))
    val r = df.collect()(0)
    assert(r.getString(0) == "lat,ency" && r.getString(1) == "12.5")
  }

  test("A3 markdown pipe table: separator + blank rows dropped, pipes stripped") {
    val p = tmp(".md",
      "| sku | warehouse | qty |\n" +
        "| --- | --- | --- |\n" +
        "| A-1 | east | 40 |\n" +
        "\n" +
        "| C-3 | east | 5 |\n")
    val df = Readers.delimited(spark, p)
    assert(df.columns.toSeq == Seq("sku", "warehouse", "qty"))
    val rows = df.orderBy("sku").collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("A-1", "C-3"))
    assert(rows(0).getString(2) == "40")
  }

  test("rows containing --- anywhere are dropped (reference line-level check)") {
    val p = tmp(".csv", "a,b\nx,keep\ny,drop---this\n")
    val df = Readers.delimited(spark, p)
    assert(df.collect().map(_.getString(0)).toSeq == Seq("x"))
  }

  test("duplicate headers get positional suffixes") {
    val p = tmp(".csv", "a,a,b\n1,2,3\n")
    val df = Readers.delimited(spark, p)
    assert(df.columns.toSeq == Seq("a", "a_1", "b"))
  }

  test("preview limits to n rows and early-exits") {
    val body = (1 to 1000).map(i => s"$i,x$i").mkString("\n")
    val p = tmp(".csv", "id,v\n" + body)
    val r = Preview.preview(spark, p, n = 10)
    assert(r.headers == Seq("id", "v"))
    assert(r.rows.length == 10)
    assert(r.df.count() == 1000) // df is the FULL frame, not the preview
  }

  test("delimiter-only lines yield all-null rows (raw-line blank skip only)") {
    // reference skips BLANK lines; ',,' is not blank → row of nulls
    val p = tmp(".csv", "a,b,c\n1,2,3\n,,\n4,5,6\n")
    val rows = Readers.delimited(spark, p).collect()
    assert(rows.length == 3)
    assert(rows.count(r => (0 to 2).forall(r.isNullAt)) == 1)
  }

  test("--- in an overflow token still drops the whole raw line") {
    val p = tmp(".csv", "a,b\n1,2\n3,4,---\n5,6\n")
    val rows = Readers.delimited(spark, p)
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(rows.toSeq == Seq(("1", "2"), ("5", "6")))
  }

  test("tab-padded cells are fully trimmed like JS .trim()") {
    val p = tmp(".csv", "a,b\n\tx ,\t\n")
    val r = Readers.delimited(spark, p).collect()(0)
    assert(r.getString(0) == "x")
    assert(r.isNullAt(1)) // whitespace-only cell → null
  }

  test("A4 xlsx: first sheet only, empty cells null, types as strings") {
    val f = Files.createTempFile("graft_spec", ".xlsx").toString
    ExcelFixture.writeXlsx(f, Seq(
      Seq("Name", "Age", "Email"),
      Seq("Ann", "34", "ann@x.io"),
      Seq("Bob", "41", ""),
      Seq("Cyd", "28", "cyd@x.io")), junkSecondSheet = true)
    val df = ExcelReader.read(spark, f)
    assert(df.columns.toSeq == Seq("Name", "Age", "Email"))
    val rows = df.orderBy("Name").collect()
    assert(rows.length == 3)
    assert(rows(1).getString(0) == "Bob")
    assert(rows(1).isNullAt(2)) // empty cell
  }

  test("xlsx preview caps rows like sheetRows") {
    val f = Files.createTempFile("graft_spec", ".xlsx").toString
    ExcelFixture.writeXlsx(f,
      Seq(Seq("h")) ++ (1 to 50).map(i => Seq(i.toString)))
    val df = ExcelReader.read(spark, f, sheetRows = 10)
    assert(df.count() == 10)
  }

  test("A1-style column index math") {
    assert(ExcelReader.colIndex("A1") == 0)
    assert(ExcelReader.colIndex("Z9") == 25)
    assert(ExcelReader.colIndex("AA3") == 26)
    assert(ExcelReader.colIndex("BC23") == 54)
  }

  test("property: random tables round-trip through render->ingest (SURVEY §5.2)") {
    val rnd = new scala.util.Random(42)
    val alphabet = "abcdefghijklmnopqrstuvwxyz0123456789_ "
    def randCell(): String = {
      val s = (1 to (1 + rnd.nextInt(12)))
        .map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString.trim
      if (s.isEmpty) "x" else s
    }
    (1 to 10).foreach { trial =>
      val nCols = 1 + rnd.nextInt(5)
      val nRows = 1 + rnd.nextInt(30)
      val headers = (1 to nCols).map(i => s"col_$i")
      val delim = Seq(",", "\t", "|")(rnd.nextInt(3))
      val rows = (1 to nRows).map(_ => (1 to nCols).map(_ => randCell()))
      val body = (headers +: rows).map(_.mkString(delim)).mkString("\n")
      val p = tmp(s".csv", body + "\n")
      val df = Readers.delimited(spark, p)
      assert(df.columns.toSeq == headers, s"trial $trial headers")
      val got = df.collect().map(_.toSeq.map(v => Option(v).getOrElse("")))
        .map(_.mkString("")).sorted
      val want = rows.map(_.map(c => if (c.isEmpty) "" else c)
        .mkString("")).sorted
      assert(got.toSeq == want.toSeq, s"trial $trial rows (delim=${delim.hashCode})")
    }
  }

  test("missing staged file yields the reference's expired-file error (U3)") {
    val e = intercept[IllegalArgumentException] {
      Readers.read(spark, "/tmp/graft_definitely_missing_12345.csv")
    }
    assert(e.getMessage.contains("expired"))
  }

  test("directory of same-format csv files ingests as one distributed scan") {
    val dir = Files.createTempDirectory("graft_multi")
    Files.writeString(dir.resolve("part-0.csv"), "k,v\n1,a\n2,b\n")
    Files.writeString(dir.resolve("part-1.csv"), "k,v\n3,c\n4,d\n")
    val df = Readers.delimited(spark, dir.toString)
    assert(df.columns.toSeq == Seq("k", "v"))
    // header=true skips the first line of EVERY file
    assert(df.collect().map(_.getString(0)).sorted.toSeq == Seq("1", "2", "3", "4"))
  }

  test("rich-text inline strings concatenate runs; phonetic runs excluded") {
    import java.util.zip.{ZipEntry, ZipOutputStream}
    val f = Files.createTempFile("graft_rich", ".xlsx").toString
    val sheet =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>
<row r="1"><c r="A1" t="inlineStr"><is><t>h</t></is></c></row>
<row r="2"><c r="A2" t="inlineStr"><is><r><t>Hello </t></r><r><t>World</t></r><rPh sb="0" eb="2"><t>IGNORED</t></rPh></is></c></row>
</sheetData></worksheet>"""
    val zos = new ZipOutputStream(new java.io.FileOutputStream(f))
    def put(n: String, c: String): Unit = {
      zos.putNextEntry(new ZipEntry(n))
      zos.write(c.getBytes("UTF-8")); zos.closeEntry()
    }
    put("xl/worksheets/sheet1.xml", sheet) // no workbook.xml: fallback path
    zos.close()
    val rows = ExcelReader.readRows(f, Int.MaxValue)
    assert(rows.length == 2)
    assert(rows(1)(0) == "Hello World")
  }

  test("dispatching reader routes .jsonl and .parquet by extension") {
    val j = Files.createTempFile("graft_disp", ".jsonl")
    Files.writeString(j, "{\"id\": 7, \"tag\": \"x\"}\n")
    val dj = Readers.read(spark, j.toString)
    assert(dj.collect()(0).getLong(dj.columns.indexOf("id")) == 7L)
    val pdir = Files.createTempDirectory("graft_disp_pq").toString + "/t.parquet"
    spark.range(5).toDF("v").write.parquet(pdir)
    assert(Readers.read(spark, pdir).count() == 5)
  }

  test("missing access file gets the expired-file error like every local path") {
    // .accdb/.mdb route to MdbReader now (round-trip coverage in
    // MdbSpec), so Access no longer bypasses the U3 existence check
    val e = intercept[IllegalArgumentException](
      Readers.read(spark, "/tmp/nope.accdb"))
    assert(e.getMessage.contains("File not found or expired"))
  }
}
