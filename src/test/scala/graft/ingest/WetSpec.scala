package graft.ingest

import java.nio.file.Files

import graft.SparkSpec

/** WET/WARC crawl source: fixture-written archives (multi-member gzip
  * and plain), framing edge cases, dispatch, and the reader's strict
  * error surface.
  */
class WetSpec extends SparkSpec {

  private def rows3 = Seq(
    ("https://example.com/a", "2024-01-01T00:00:00Z", "Alpha page text.\nSecond line."),
    ("https://example.com/b", "2024-01-02T00:00:00Z", "Beta — unicode: éü中文."),
    ("https://example.com/c", "2024-01-03T00:00:00Z", ""))

  test("gzipped multi-member WET roundtrips url/date/text; warcinfo skipped") {
    val dir = Files.createTempDirectory("graft_wet").toString
    val p = s"$dir/part-00000.warc.wet.gz"
    WetFixture.writeWet(p, rows3, gzipPerRecord = true)
    val df = WetReader.read(spark, p)
    val got = df.orderBy("url")
      .collect().map(r => (r.getAs[String]("url"), r.getAs[String]("warc_date"),
        r.getAs[String]("text"), r.getAs[Long]("content_length")))
    assert(got.length == 3) // the warcinfo record does NOT surface
    assert(got.toSeq == rows3.map(t => (t._1, t._2, t._3,
      t._3.getBytes("UTF-8").length.toLong)))
    assert(df.columns.toSeq == Seq("file", "warc_type", "url", "warc_date",
      "record_id", "content_length", "text"))
  }

  test("plain .wet parses identically to .wet.gz; keepAll surfaces warcinfo") {
    val dir = Files.createTempDirectory("graft_wet_plain").toString
    val pGz = s"$dir/a.warc.wet.gz"
    val pPlain = s"$dir/a.wet"
    WetFixture.writeWet(pGz, rows3, gzipPerRecord = true)
    WetFixture.writeWet(pPlain, rows3, gzipPerRecord = false)
    val a = WetReader.read(spark, pGz).drop("file").orderBy("url").collect().toSeq
    val b = WetReader.read(spark, pPlain).drop("file").orderBy("url").collect().toSeq
    assert(a == b)
    val all = WetReader.read(spark, pPlain, keepAll = true)
      .select("warc_type").collect().map(_.getString(0)).sorted.toSeq
    assert(all == Seq("conversion", "conversion", "conversion", "warcinfo"))
  }

  test("payload bytes are length-framed: CRLFs and header-looking text survive") {
    // a payload containing blank lines and a line that LOOKS like a WARC
    // header must not desync the record splitter — framing is by
    // Content-Length, never by content sniffing
    val tricky = "WARC/1.0\r\nContent-Length: 999\r\n\r\nnot a real record\n\n\nend"
    val dir = Files.createTempDirectory("graft_wet_tricky").toString
    val p = s"$dir/t.wet"
    WetFixture.writeWet(p, Seq(
      ("https://x.com/1", "2024-02-01T00:00:00Z", tricky),
      ("https://x.com/2", "2024-02-02T00:00:00Z", "plain")), gzipPerRecord = false)
    val got = WetReader.read(spark, p).orderBy("url")
      .collect().map(_.getAs[String]("text")).toSeq
    assert(got == Seq(tricky, "plain"))
  }

  test("header continuation lines fold into the previous field") {
    // obs-fold: a value continued on the next line with leading
    // whitespace (ISO 28500 allows it; long URIs wrap in the wild)
    val dir = Files.createTempDirectory("graft_wet_fold").toString
    val p = s"$dir/f.wet"
    val rec = "WARC/1.0\r\nWARC-Type: conversion\r\nWARC-Target-URI: https://long.example.com/a\r\n very/deep/path\r\nContent-Length: 2\r\n\r\nhi\r\n\r\n"
    Files.write(java.nio.file.Paths.get(p), rec.getBytes("UTF-8"))
    val got = WetReader.read(spark, p).collect()
    assert(got.length == 1)
    assert(got(0).getAs[String]("url") == "https://long.example.com/a very/deep/path")
    assert(got(0).getAs[String]("text") == "hi")
  }

  test("WARC-Type value matches case-insensitively (a 'Conversion' writer surfaces)") {
    val dir = Files.createTempDirectory("graft_wet_case").toString
    val p = s"$dir/c.wet"
    val rec = "WARC/1.0\r\nWARC-Type: Conversion\r\nWARC-Target-URI: https://case.example.com/\r\nContent-Length: 2\r\n\r\nhi\r\n\r\n"
    Files.write(java.nio.file.Paths.get(p), rec.getBytes("UTF-8"))
    val got = WetReader.read(spark, p).collect()
    assert(got.length == 1)
    assert(got(0).getAs[String]("url") == "https://case.example.com/")
  }

  test("truncated payload and non-WARC bytes raise typed parse errors") {
    def parse(s: String) = WetReader.parseWarc(s.getBytes("UTF-8"))
    val ex1 = intercept[Exception] {
      parse("WARC/1.0\r\nWARC-Type: conversion\r\nContent-Length: 50\r\n\r\nshort")
    }
    assert(ex1.getMessage.contains("truncated"))
    val ex2 = intercept[IllegalArgumentException] {
      parse("totally not a warc\r\n")
    }
    assert(ex2.getMessage.contains("Not a WARC stream"))
    val ex3 = intercept[IllegalArgumentException] {
      parse("WARC/1.0\r\nWARC-Type: conversion\r\n\r\n")
    }
    assert(ex3.getMessage.contains("Content-Length"))
  }

  test("extension dispatch routes crawl archives through the WET reader") {
    assert(Sniffer.formatOf("/x/seg-0.warc.wet.gz") == Sniffer.Wet)
    assert(Sniffer.formatOf("/x/a.WET") == Sniffer.Wet)
    assert(Sniffer.formatOf("/x/a.warc") == Sniffer.Wet)
    assert(Sniffer.formatOf("/x/a.csv.gz") != Sniffer.Wet)
    val dir = Files.createTempDirectory("graft_wet_dispatch").toString
    val p = s"$dir/d.warc.wet.gz"
    WetFixture.writeWet(p, rows3.take(1))
    val viaDispatch = Readers.read(spark, p)
      .select("url", "text").collect().toSeq
    assert(viaDispatch.map(r => (r.getString(0), r.getString(1))) ==
      Seq((rows3.head._1, rows3.head._3)))
  }

  test("extension dispatch reads a raw .warc/.warc.gz as its HTTP responses") {
    val dir = Files.createTempDirectory("graft_warc_dispatch").toString
    val pages = (0 until 2).map { i =>
      (s"https://raw.test/$i", "2024-04-01T00:00:00Z",
        WetFixture.wrapHtml(s"Raw page $i."), WetFixture.HttpShape())
    }
    Seq("r.warc.gz" -> true, "r.warc" -> false).foreach { case (name, gz) =>
      val p = s"$dir/$name"
      WetFixture.writeWarc(p, pages, gzipPerRecord = gz, withRequests = true)
      val expected = WarcHttp.readResponses(spark, p).orderBy("url").collect().toSeq
      assert(expected.length == pages.length)
      assert(Readers.read(spark, p).orderBy("url").collect().toSeq == expected, name)
    }
  }

  test("a directory of WET segments reads as one frame, one task per file") {
    val dir = Files.createTempDirectory("graft_wet_dir").toString
    (0 until 3).foreach { i =>
      WetFixture.writeWet(s"$dir/seg-$i.warc.wet.gz",
        Seq((s"https://seg.com/$i", "2024-03-01T00:00:00Z", s"segment $i")))
    }
    val df = WetReader.read(spark, dir, globFilter = Some("*.wet.gz"))
    assert(df.count() == 3)
    assert(df.select("url").collect().map(_.getString(0)).sorted.toSeq ==
      (0 until 3).map(i => s"https://seg.com/$i"))
  }

  test("parseWarcStream yields the records parseWarc does, byte-identically") {
    val dir = Files.createTempDirectory("graft_wet_equiv").toString
    val p = s"$dir/e.wet"
    WetFixture.writeWet(p, rows3, gzipPerRecord = false)
    val bytes = Files.readAllBytes(java.nio.file.Paths.get(p))
    val old = WetReader.parseWarc(bytes)
    val streamed = WetReader.parseWarcStream(
      new java.io.ByteArrayInputStream(bytes)).toSeq
    assert(streamed.size == old.size)
    streamed.zip(old).foreach { case (a, b) =>
      assert(a.warcType == b.warcType)
      assert(a.headers == b.headers)
      assert(a.payload.sameElements(b.payload))
    }
    // and the strict error surface matches
    val trunc = "WARC/1.0\r\nWARC-Type: conversion\r\nContent-Length: 50\r\n\r\nshort"
    val ex = intercept[Exception] {
      WetReader.parseWarcStream(new java.io.ByteArrayInputStream(
        trunc.getBytes("UTF-8"))).toSeq
    }
    assert(ex.getMessage.contains("truncated"))
  }

  test("streaming parse handles a multi-member segment past the 2 GiB raw limit") {
    // the round-15 scale ceiling: WHOLE-FILE inflate needs one byte
    // array of the decompressed size — a real ~1 GB .warc.gz segment
    // is 3-5 GB raw, past Int.MaxValue. The record-at-a-time path must
    // stream it with O(largest record) memory. 580 x 4 MiB = ~2.27 GiB
    // raw (> Int.MaxValue) in per-record gzip members; the file itself
    // stays ~3 MB because the payloads compress away.
    val dir = Files.createTempDirectory("graft_wet_big").toString
    val p = s"$dir/big.warc.gz"
    val payload = new Array[Byte](4 << 20)
    java.util.Arrays.fill(payload, 'a'.toByte)
    val nRecs = 580
    val fo = new java.io.BufferedOutputStream(
      new java.io.FileOutputStream(p), 1 << 16)
    try {
      (0 until nRecs).foreach { i =>
        val head = (s"WARC/1.0\r\nWARC-Type: conversion\r\n" +
          s"WARC-Target-URI: https://big.test/$i\r\n" +
          s"Content-Length: ${payload.length}\r\n\r\n").getBytes("UTF-8")
        val gz = new java.util.zip.GZIPOutputStream(fo, 1 << 16) {
          `def`.setLevel(java.util.zip.Deflater.BEST_SPEED)
        }
        gz.write(head)
        gz.write(payload)
        gz.write("\r\n\r\n".getBytes("UTF-8"))
        gz.finish() // member boundary; do NOT close the shared stream
      }
    } finally fo.close()
    assert(nRecs.toLong * payload.length > Int.MaxValue.toLong,
      "construction must exceed the single-array limit")
    val hconf = spark.sparkContext.hadoopConfiguration
    var n = 0
    var bytes = 0L
    val it = WetReader.parseWarcStream(WetReader.openDecoded(p, hconf))
    it.foreach { r =>
      n += 1
      bytes += r.payload.length
      assert(r.warcType == "conversion")
    }
    assert(n == nRecs)
    assert(bytes == nRecs.toLong * payload.length)
  }
}
