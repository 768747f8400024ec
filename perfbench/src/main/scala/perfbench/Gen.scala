package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.Random

import graft.ingest.{ExcelFixture, MdbFixture, WetFixture}

/** Seeded input generators. Every byte written and every truth value
  * recorded is a function of the seed alone, so a seed names one exact
  * set of inputs (`GenSpec` pins byte-identity across generations).
  *
  * The truth is computed from the clean values the generator draws,
  * never by running the engine: a mismatch between truth and published
  * output is an engine fault.
  */
object Gen {

  /** A sub-stream of `seed` for one purpose, independent of the others. */
  def rng(seed: Long, salt: Long): Random =
    new Random(seed * 0x9E3779B97F4A7C15L ^ (salt + 0x632BE59BD9B4E019L))

  // ---------------------------------------------------------------- tables

  /** One column of a TPC-H-shaped table: declared type and a value draw. */
  private final case class ColSpec(name: String, sqlType: String, draw: Random => String)

  private val Money = "DECIMAL(15,2)"

  private def money(r: Random, lo: Long, hi: Long): String = {
    val cents = lo * 100 + (r.nextDouble() * (hi - lo) * 100).toLong
    java.math.BigDecimal.valueOf(cents, 2).toPlainString
  }

  private def date(r: Random): String =
    java.time.LocalDate.of(1992, 1, 1).plusDays(r.nextInt(2405).toLong).toString

  /** Comment text: lowercase words only, so it can never carry a delimiter,
    * a quote, an edge pipe or a `---` run (the reader drops such lines).
    */
  private def comment(r: Random): String =
    Seq.fill(3 + r.nextInt(6))(Words.word(r)).mkString(" ")

  private def pick(r: Random, xs: String*): String = xs(r.nextInt(xs.length))

  private val Tables: Map[String, Seq[ColSpec]] = Map(
    "lineitem" -> Seq(
      ColSpec("l_orderkey", "BIGINT", r => (1 + r.nextInt(600000)).toString),
      ColSpec("l_partkey", "BIGINT", r => (1 + r.nextInt(20000)).toString),
      ColSpec("l_suppkey", "BIGINT", r => (1 + r.nextInt(1000)).toString),
      ColSpec("l_linenumber", "BIGINT", r => (1 + r.nextInt(7)).toString),
      ColSpec("l_quantity", Money, r => s"${1 + r.nextInt(50)}.00"),
      ColSpec("l_extendedprice", Money, r => money(r, 900, 105000)),
      ColSpec("l_discount", Money, r => f"0.${r.nextInt(11)}%02d"),
      ColSpec("l_tax", Money, r => f"0.${r.nextInt(9)}%02d"),
      ColSpec("l_returnflag", "TEXT", r => pick(r, "R", "A", "N")),
      ColSpec("l_linestatus", "TEXT", r => pick(r, "O", "F")),
      ColSpec("l_shipdate", "DATE", date),
      ColSpec("l_commitdate", "DATE", date),
      ColSpec("l_receiptdate", "DATE", date),
      ColSpec("l_shipinstruct", "TEXT",
        r => pick(r, "DELIVER IN PERSON", "COLLECT COD", "NONE", "TAKE BACK RETURN")),
      ColSpec("l_shipmode", "TEXT",
        r => pick(r, "AIR", "REG AIR", "RAIL", "SHIP", "TRUCK", "MAIL", "FOB")),
      ColSpec("l_comment", "TEXT", comment)),
    "orders" -> Seq(
      ColSpec("o_orderkey", "BIGINT", r => (1 + r.nextInt(6000000)).toString),
      ColSpec("o_custkey", "BIGINT", r => (1 + r.nextInt(15000)).toString),
      ColSpec("o_orderstatus", "TEXT", r => pick(r, "O", "F", "P")),
      ColSpec("o_totalprice", Money, r => money(r, 850, 560000)),
      ColSpec("o_orderdate", "DATE", date),
      ColSpec("o_orderpriority", "TEXT",
        r => pick(r, "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")),
      ColSpec("o_clerk", "TEXT", r => f"Clerk#${1 + r.nextInt(1000)}%09d"),
      ColSpec("o_shippriority", "BIGINT", _ => "0"),
      ColSpec("o_comment", "TEXT", comment)),
    "customer" -> Seq(
      ColSpec("c_custkey", "BIGINT", r => (1 + r.nextInt(15000)).toString),
      ColSpec("c_name", "TEXT", r => f"Customer#${1 + r.nextInt(15000)}%09d"),
      ColSpec("c_address", "TEXT", r => Seq.fill(2)(Words.word(r)).mkString(" ")),
      ColSpec("c_nationkey", "BIGINT", r => r.nextInt(25).toString),
      ColSpec("c_phone", "TEXT",
        r => f"${10 + r.nextInt(25)}-${100 + r.nextInt(900)}-${100 + r.nextInt(900)}-${1000 + r.nextInt(9000)}"),
      ColSpec("c_acctbal", Money, r => money(r, -999, 9999)),
      ColSpec("c_mktsegment", "TEXT",
        r => pick(r, "AUTOMOBILE", "BUILDING", "FURNITURE", "MACHINERY", "HOUSEHOLD")),
      ColSpec("c_comment", "TEXT", comment)))

  /** Truth for one uploaded file.
    * @param headers  every header of the file, in order
    * @param preview  the first 10 data rows as the reader must return
    *                 them (all columns, cleansed strings, null = None)
    * @param decimalSum exact sum of `decimalCol` over the rows that carry it
    */
  final case class FileTruth(
      file: String,
      table: String,
      format: String,
      rows: Long,
      headers: Seq[String],
      selected: Seq[String],
      types: Map[String, String],
      decimalCol: String,
      decimalSum: java.math.BigDecimal,
      preview: Seq[Seq[Option[String]]])

  /** Shape of one upload set: `delimited` text files on a log-spaced grid
    * of row counts over [minRows, maxRows], then `binary` .xlsx and .mdb
    * files each on a grid over [minBinaryRows, maxBinaryRows]. The shape
    * (sizes, tables, formats) is the same for every seed, so seeds differ
    * in content, mess and column choice but not in how much work a pass is.
    */
  final case class UploadShape(
      delimited: Int, minRows: Int, maxRows: Int,
      binary: Int, minBinaryRows: Int, maxBinaryRows: Int)

  private def logGrid(lo: Int, hi: Int, i: Int, n: Int): Int =
    math.round(lo * math.pow(hi.toDouble / lo, (i + 0.5) / n)).toInt

  /** Write the upload set for `seed` under `dir`; returns the files' truth,
    * sorted by row count.
    */
  def uploadFiles(seed: Long, dir: File, shape: UploadShape): Seq[FileTruth] = {
    dir.mkdirs()
    val tableNames = Tables.keys.toSeq.sorted
    val delimited = (0 until shape.delimited).map { i =>
      (Seq("csv", "tsv", "pipe")((i + i / 3) % 3), logGrid(shape.minRows, shape.maxRows, i, shape.delimited))
    }
    val binary = (0 until shape.binary).flatMap { i =>
      Seq("xlsx", "mdb").map(_ -> logGrid(shape.minBinaryRows, shape.maxBinaryRows, i, shape.binary))
    }
    (delimited ++ binary).zipWithIndex.map { case ((format, n), i) =>
      writeFile(rng(seed, 1000 + i), dir, i, tableNames(i % tableNames.length), format, n)
    }.sortBy(_.rows)
  }

  private def writeFile(
      r: Random, dir: File, index: Int, table: String, format: String, n: Int): FileTruth = {
    val spec = Tables(table)
    val headers = spec.map(_.name)
    val rows: IndexedSeq[IndexedSeq[String]] =
      IndexedSeq.fill(n)(spec.map(_.draw(r)).toIndexedSeq)
    // a short row loses its trailing cells: the reader pads them as null
    val widths: IndexedSeq[Int] =
      if (format == "xlsx" || format == "mdb") IndexedSeq.fill(n)(spec.length)
      else IndexedSeq.fill(n)(
        if (r.nextInt(100) == 0) spec.length - 1 - r.nextInt(3) else spec.length)
    val ext = format match {
      case "csv" => "csv"; case "tsv" => "tsv"; case "pipe" => "txt"
      case "xlsx" => "xlsx"; case "mdb" => "mdb"
    }
    val name = f"upload_$index%03d_$table.$ext"
    val path = new File(dir, name).getPath
    format match {
      case "xlsx" =>
        ExcelFixture.writeXlsx(path, headers +: rows, junkSecondSheet = true)
        fixZipTimes(path)
      case "mdb" =>
        MdbFixture.writeMdb(path, table, headers.map(_ -> MdbFixture.CText),
          rows.map(_.map(Option(_))))
      case _ =>
        val delim = format match { case "csv" => ","; case "tsv" => "\t"; case _ => "|" }
        writeDelimited(r, path, delim, headers, rows, widths)
    }
    // selection: the key, the money column, a date when the table has one,
    // one text column, plus a seeded pick of the rest
    val byType = spec.groupBy(_.sqlType)
    val required = Seq(
      byType("BIGINT").head,
      byType(Money)(r.nextInt(byType(Money).length))) ++
      byType.get("DATE").map(ds => ds(r.nextInt(ds.length))).toSeq ++
      Seq(byType("TEXT")(r.nextInt(byType("TEXT").length)))
    val rest = spec.filterNot(required.contains)
    val extra = r.shuffle(rest).take(rest.length / 3)
    val chosen = spec.filter(c => required.contains(c) || extra.contains(c))
    val decimalCol = required(1).name
    val di = headers.indexOf(decimalCol)
    val sum = rows.indices.foldLeft(java.math.BigDecimal.ZERO.setScale(2)) { (acc, i) =>
      if (di < widths(i)) acc.add(new java.math.BigDecimal(rows(i)(di))) else acc
    }
    FileTruth(name, table, format, n.toLong, headers, chosen.map(_.name),
      chosen.map(c => c.name -> c.sqlType).toMap, decimalCol, sum,
      rows.take(10).indices.map(i =>
        headers.indices.map(c => if (c < widths(i)) Some(rows(i)(c)) else None)))
  }

  /** Rewrite a zip with fixed entry times: zip writers stamp the clock,
    * and the same seed must give the same bytes.
    */
  private def fixZipTimes(path: String): Unit = {
    val zf = new java.util.zip.ZipFile(path)
    val entries = try {
      zf.entries().asScala.toList.map(e => e.getName -> zf.getInputStream(e).readAllBytes())
    } finally zf.close()
    val zos = new java.util.zip.ZipOutputStream(new java.io.FileOutputStream(path))
    try entries.foreach { case (name, bytes) =>
      val e = new java.util.zip.ZipEntry(name)
      e.setTimeLocal(java.time.LocalDateTime.of(2024, 1, 1, 0, 0))
      zos.putNextEntry(e)
      zos.write(bytes)
      zos.closeEntry()
    } finally zos.close()
  }

  /** Render rows with the reference's mess: blank and `---` lines between
    * rows, edge-quoted and space-padded cells, short rows. The reader's
    * cleanse undoes all of it, so the clean values stay the truth.
    */
  private def writeDelimited(
      r: Random, path: String, delim: String, headers: Seq[String],
      rows: IndexedSeq[IndexedSeq[String]], widths: IndexedSeq[Int]): Unit = {
    val sb = new java.lang.StringBuilder(rows.length * 96)
    sb.append(headers.mkString(delim)).append('\n')
    rows.indices.foreach { i =>
      r.nextInt(200) match {
        case 0 => sb.append('\n')
        case 1 => sb.append("   \n")
        case 2 => sb.append(Seq.fill(headers.length)("---").mkString(delim)).append('\n')
        case _ =>
      }
      var c = 0
      while (c < widths(i)) {
        if (c > 0) sb.append(delim)
        val v = rows(i)(c)
        r.nextInt(40) match {
          case 0 => sb.append('"').append(v).append('"')
          case 1 => sb.append("  ").append(v).append(' ')
          case _ => sb.append(v)
        }
        c += 1
      }
      sb.append('\n')
    }
    Files.write(new File(path).toPath, sb.toString.getBytes(StandardCharsets.UTF_8))
  }

  // ----------------------------------------------------------------- pages

  /** Synthetic page text. Vocabulary: pseudo-words built from syllables
    * (fixed across seeds), drawn with a Zipf-like weight, plus Gopher's
    * stop words, so good pages pass C4 and Gopher and two unrelated pages
    * share few 5-character shingles.
    */
  object Words {
    private val Stops = Array("the", "be", "to", "of", "and", "that", "have", "with")
    private val Vocab: Array[String] = {
      val r = new Random(20240601L)
      val on = Array("b", "c", "d", "f", "g", "h", "k", "l", "m", "n", "p", "r", "s", "t",
        "v", "w", "z", "br", "cl", "dr", "st", "tr", "pl", "gr", "sh", "ch")
      val nu = Array("a", "e", "i", "o", "u", "ai", "ea", "ou", "io")
      val co = Array("", "", "n", "r", "s", "l", "m", "t", "nd", "st", "rk")
      val seen = scala.collection.mutable.LinkedHashSet.empty[String]
      seen ++= Stops
      while (seen.size < Stops.length + 20000) {
        val syl = 1 + r.nextInt(3)
        seen += (0 until syl).map(_ =>
          on(r.nextInt(on.length)) + nu(r.nextInt(nu.length)) + co(r.nextInt(co.length))).mkString
      }
      seen.drop(Stops.length).toArray
    }
    private val Cum: Array[Double] = {
      val c = new Array[Double](Vocab.length)
      var acc = 0.0
      var i = 0
      while (i < c.length) { acc += math.pow(i + 40.0, -0.9); c(i) = acc; i += 1 }
      c
    }

    def word(r: Random): String = {
      val x = r.nextDouble() * Cum(Cum.length - 1)
      val i = java.util.Arrays.binarySearch(Cum, x)
      Vocab(math.min(if (i >= 0) i else -i - 1, Vocab.length - 1))
    }

    private def line(r: Random, n: Int): String =
      (0 until n).map(_ =>
        if (r.nextInt(10) == 0) Stops(r.nextInt(Stops.length)) else word(r)).mkString(" ") + "."

    /** A page that passes C4 and the full Gopher filter. One in three
      * carries a navigation line without terminal punctuation, which C4
      * removes while keeping the page.
      */
    def goodPage(r: Random): String = {
      val lines = ArrayBuffer(
        s"${word(r)} the ${word(r)} and ${word(r)} of ${word(r)} ${word(r)}.")
      (0 until 9 + r.nextInt(6)).foreach(_ => lines += line(r, 14 + r.nextInt(9)))
      if (r.nextInt(3) == 0)
        lines.insert(1 + r.nextInt(lines.length), Seq.fill(4)(word(r)).mkString(" "))
      lines.mkString("\n")
    }

    /** Fails C4: a template brace anywhere on the page. */
    def c4FailPage(r: Random): String =
      goodPage(r) + "\ntemplate artifact { left behind here."

    /** Passes C4 (five short sentences) but fails Gopher (< 50 words). */
    def gopherFailPage(r: Random): String =
      (0 until 6).map(_ => s"the ${word(r)} and ${word(r)}.").mkString("\n")

    /** One word of `page` replaced: a near copy (Jaccard about 0.97). */
    def nearCopy(r: Random, page: String): String = {
      val ws = page.split(" ", -1)
      val i = 1 + r.nextInt(ws.length - 2)
      val tail = if (ws(i).endsWith(".")) "." else if (ws(i).contains("\n")) null else ""
      if (tail == null) nearCopy(r, page)
      else {
        var w = word(r)
        while (w + tail == ws(i)) w = word(r)
        ws(i) = w + tail
        ws.mkString(" ")
      }
    }
  }

  final case class Page(id: Long, text: String)

  def url(id: Long): String = s"https://site${id % 97}.example.org/page/$id"
  val UrlIdPattern = "/page/(\\d+)$"

  def writeSegment(path: File, pages: Seq[Page]): Unit =
    WetFixture.writeWet(path.getPath,
      pages.map(p => (url(p.id), "2024-06-01T00:00:00Z", p.text)))

  /** Batch crawl input: `nPages` pages over `nSegments` .warc.wet.gz files.
    * Planted: 10% exact copies and 10% near copies of good pages, 5% pages
    * failing C4 and 5% failing Gopher. Copies carry larger ids than their
    * originals, so the survivors are exactly the good originals.
    */
  final case class CrawlTruth(pages: Long, exactCopies: Long, nearCopies: Long,
      c4Fail: Long, gopherFail: Long, survivors: Long)

  def crawlBatch(seed: Long, dir: File, nPages: Int, nSegments: Int): CrawlTruth = {
    dir.mkdirs()
    val r = rng(seed, 2)
    val nExact = nPages / 10
    val nNear = nPages / 10
    val nC4 = nPages / 20
    val nGopher = nPages / 20
    val nGood = nPages - nExact - nNear - nC4 - nGopher
    val good = (0 until nGood).map(i => Page(i, Words.goodPage(r)))
    var next = nGood.toLong
    def fresh(text: String): Page = { next += 1; Page(next - 1, text) }
    val bad = (0 until nC4).map(_ => fresh(Words.c4FailPage(r))) ++
      (0 until nGopher).map(_ => fresh(Words.gopherFailPage(r)))
    val exact = (0 until nExact).map(_ => fresh(good(r.nextInt(nGood)).text))
    val near = (0 until nNear).map(_ => fresh(Words.nearCopy(r, good(r.nextInt(nGood)).text)))
    val all = r.shuffle(good ++ bad ++ exact ++ near)
    val per = math.ceil(all.length.toDouble / nSegments).toInt
    all.grouped(per).zipWithIndex.foreach { case (seg, i) =>
      writeSegment(new File(dir, f"segment-$i%03d.warc.wet.gz"), seg)
    }
    CrawlTruth(nPages, nExact, nNear, nC4, nGopher, nGood)
  }

  /** Stream corpus: `n` good pages, ids 0 until n. */
  def streamCorpus(seed: Long, n: Int): IndexedSeq[Page] = {
    val r = rng(seed, 3)
    (0 until n).map(i => Page(i, Words.goodPage(r)))
  }

  final case class SegmentTruth(pages: Int, admitted: Int)

  /** Stream segment `index` of `n` pages against `corpus`: fresh good
    * pages (admitted) plus planted rejects for every admission stage —
    * C4 and Gopher failures (curation), exact and near copies of corpus
    * pages (the persisted store) and of earlier fresh pages in the same
    * segment (keep-first within the batch).
    */
  def streamSegment(seed: Long, index: Int, n: Int, corpus: IndexedSeq[Page]): (Seq[Page], SegmentTruth) = {
    val r = rng(seed, 10000L + index)
    val base = 1000000L * (index + 2) // the warm-up segment has index -1
    val nReject = n / 4
    val nFresh = n - nReject
    val fresh = (0 until nFresh).map(i => Page(base + i, Words.goodPage(r)))
    def corpusPage() = corpus(r.nextInt(corpus.length)).text
    def freshPage() = fresh(r.nextInt(nFresh)).text
    val rejects = (0 until nReject).map { k =>
      val text = k % 6 match {
        case 0 => Words.c4FailPage(r)
        case 1 => Words.gopherFailPage(r)
        case 2 => corpusPage()
        case 3 => Words.nearCopy(r, corpusPage())
        case 4 => freshPage()
        case _ => Words.nearCopy(r, freshPage())
      }
      Page(base + nFresh + k, text)
    }
    (r.shuffle(fresh ++ rejects), SegmentTruth(n, nFresh))
  }

  // ----------------------------------------------------------------- truth

  private def js(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""

  def truthJson(files: Seq[FileTruth]): String =
    files.map { f =>
      val preview = f.preview.map(_.map(_.fold("null")(js)).mkString("[", ",", "]")).mkString("[", ",", "]")
      s"""{"file":${js(f.file)},"table":${js(f.table)},"format":${js(f.format)},"rows":${f.rows},""" +
        s""""selected":${f.selected.map(js).mkString("[", ",", "]")},"decimal_col":${js(f.decimalCol)},""" +
        s""""decimal_sum":${js(f.decimalSum.toPlainString)},"preview":$preview}"""
    }.mkString("[\n", ",\n", "\n]\n")

  def writeText(file: File, text: String): Unit =
    Files.write(file.toPath, text.getBytes(StandardCharsets.UTF_8))
}
