package graft.ingest

import java.io.ByteArrayOutputStream

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Raw WARC `response`-record ingestion — the step BEFORE the WET
  * conversion: C4, RefinedWeb, and CCNet variants that do their own
  * text extraction start from full `.warc.gz` archives, where each
  * `response` record's payload is a captured HTTP/1.1 message (status
  * line + headers + blank line + entity body), not extracted text.
  * This reader splits the HTTP envelope off ([[parseHttp]]), undoes
  * the two transfer shapes crawlers capture verbatim — chunked
  * transfer-encoding and gzip/deflate content-encoding — and decodes
  * the body under the header-declared charset, yielding the raw HTML
  * ready for [[graft.functions.TextFunctions.stripHtml]] /
  * `stripHtmlLines` and the curation chain. Extends the reference's
  * extension-dispatched ingestion (reference backend/index.js:88-97)
  * the same way [[WetReader]] did; record framing and the scale shape
  * (one task per non-splittable `.warc.gz` segment, a narrow flatMap,
  * driver never touches bytes) are [[WetReader]]'s, reused verbatim.
  *
  * Robustness posture (lenient like the WARC header parser): the WARC
  * Content-Length framing is the byte truth — an HTTP Content-Length
  * header that disagrees (truncated captures are routine in crawls) is
  * IGNORED in favor of the actual payload extent; a malformed chunked
  * body falls back to the raw remaining bytes rather than dropping the
  * record; an undecodable gzip body yields the raw bytes. A payload
  * with no HTTP status line at all (some archives store bare bodies)
  * surfaces with status 0 and the whole payload as body.
  */
object WarcHttp {

  /** One split HTTP message: status code, lowercased headers, decoded
    * entity-body bytes (after de-chunking / content-decoding).
    */
  private[graft] final case class HttpMessage(
      status: Int,
      headers: Map[String, String],
      body: Array[Byte])

  /** De-chunk a `Transfer-Encoding: chunked` body: hex size line
    * (chunk extensions after ';' ignored), that many bytes, CRLF,
    * repeat; 0-size chunk ends the stream (trailer headers ignored).
    * Malformed framing falls back to the bytes from the failure point
    * on, appended to what already decoded — truncated captures keep
    * their prefix.
    */
  private[graft] def dechunk(b: Array[Byte]): Array[Byte] = {
    val out = new ByteArrayOutputStream(b.length)
    var pos = 0
    var ok = true
    while (ok && pos < b.length) {
      var e = pos
      while (e < b.length && b(e) != '\n') e += 1
      val lineStop = if (e > pos && b(e - 1) == '\r') e - 1 else e
      val line = new String(b, pos, lineStop - pos, "US-ASCII").trim
      val sizeStr = line.takeWhile(c => c != ';').trim
      val size =
        try java.lang.Long.parseLong(sizeStr, 16)
        catch { case _: NumberFormatException => -1L }
      if (size < 0 || e >= b.length) {
        // malformed size line: keep the remaining bytes verbatim
        out.write(b, pos, b.length - pos)
        ok = false
      } else if (size == 0) {
        ok = false // terminal chunk; trailers ignored
      } else {
        val start = e + 1
        val avail = b.length - start
        val take = math.min(size, avail.toLong).toInt
        out.write(b, start, take)
        // skip chunk bytes + trailing CRLF
        pos = start + take
        if (pos < b.length && b(pos) == '\r') pos += 1
        if (pos < b.length && b(pos) == '\n') pos += 1
        if (take < size) ok = false // truncated capture: prefix kept
      }
    }
    out.toByteArray
  }

  /** Inflate a `Content-Encoding: deflate` body (zlib-wrapped per the
    * HTTP spec; raw-deflate senders exist in the wild, retried bare).
    * Stall guard: `inflate()` returning 0 while neither finished nor
    * input-starved means the stream demands a preset dictionary (zlib
    * FDICT bit — header like 0x78 0x20) or is otherwise stuck; without
    * the guard that untrusted shape spins the Spark task forever. It
    * throws instead, falling through to the raw-deflate retry and then
    * the raw-bytes fallback — a crawl body never kills (or hangs) the
    * scan.
    */
  private def inflateDeflate(b: Array[Byte]): Array[Byte] = {
    def run(raw: Boolean): Array[Byte] = {
      val inf = new java.util.zip.Inflater(raw)
      try {
        inf.setInput(b)
        val out = new ByteArrayOutputStream(b.length * 3 + 64)
        val buf = new Array[Byte](1 << 14)
        while (!inf.finished() && !inf.needsInput()) {
          val n = inf.inflate(buf)
          if (n > 0) out.write(buf, 0, n)
          else if (!inf.finished() && !inf.needsInput())
            throw new java.util.zip.DataFormatException(
              if (inf.needsDictionary()) "deflate stream requires a preset dictionary"
              else "deflate stream made no progress")
        }
        out.toByteArray
      } finally inf.end()
    }
    try run(raw = false)
    catch { case _: Exception =>
      try run(raw = true) catch { case _: Exception => b }
    }
  }

  /** Split one response payload into (status, headers, decoded body).
    * Header names lowercase; values obs-folded like the WARC block.
    */
  private[graft] def parseHttp(payload: Array[Byte]): HttpMessage = {
    def lineAt(from: Int): (String, Int) = {
      var e = from
      while (e < payload.length && payload(e) != '\n') e += 1
      val stop = if (e > from && payload(e - 1) == '\r') e - 1 else e
      (new String(payload, from, stop - from, "ISO-8859-1"),
        math.min(e + 1, payload.length))
    }
    val (statusLine, afterStatus) = lineAt(0)
    if (!statusLine.regionMatches(true, 0, "HTTP/", 0, 5))
      return HttpMessage(0, Map.empty, payload)
    val parts = statusLine.split("\\s+", 3)
    // length cap: an all-digit token past Int range ("HTTP/1.1
    // 99999999999 OK") must fall back to 0, not throw — one garbage
    // record never fails the scan (status codes are 3 digits; 9 keeps
    // any in-range int parseable)
    val status =
      if (parts.length >= 2 && parts(1).nonEmpty && parts(1).length <= 9 &&
        parts(1).forall(_.isDigit))
        parts(1).toInt
      else 0
    val headers = scala.collection.mutable.LinkedHashMap.empty[String, String]
    var p = afterStatus
    var lastKey: String = null
    var done = false
    while (!done && p < payload.length) {
      val lineStart = p
      val (line, next) = lineAt(p)
      p = next
      if (line.isEmpty) done = true
      else if ((line.head == ' ' || line.head == '\t') && lastKey != null)
        headers(lastKey) = headers(lastKey) + " " + line.trim
      else {
        val i = line.indexOf(':')
        if (i < 0) {
          // colon-less line: the header/body separator is missing or
          // this is already body text — treat the body as starting AT
          // this line (not after it: consuming it would silently drop
          // the first body line of a capture missing its blank line)
          p = lineStart
          done = true
        } else {
          val k = line.substring(0, i).trim.toLowerCase(java.util.Locale.ROOT)
          headers(k) = line.substring(i + 1).trim
          lastKey = k
        }
      }
    }
    val raw = java.util.Arrays.copyOfRange(payload, p, payload.length)
    val chunked = headers.get("transfer-encoding")
      .exists(_.toLowerCase(java.util.Locale.ROOT).contains("chunked"))
    val unchunked = if (chunked) dechunk(raw) else raw
    val body = headers.get("content-encoding")
      .map(_.toLowerCase(java.util.Locale.ROOT).trim) match {
      case Some("gzip") | Some("x-gzip") =>
        try WetReader.inflate(unchunked) catch { case _: Exception => unchunked }
      case Some("deflate") => inflateDeflate(unchunked)
      case _ => unchunked
    }
    HttpMessage(status, headers.toMap, body)
  }

  /** Charset from a Content-Type header value, defaulting UTF-8;
    * unknown charsets fall back to UTF-8 (decode is replacement-lenient
    * either way — a crawl body never kills the scan).
    */
  private[graft] def charsetOf(contentType: Option[String]): java.nio.charset.Charset = {
    val name = contentType
      .flatMap { ct =>
        "(?i)charset=\"?([A-Za-z0-9_\\-]+)\"?".r.findFirstMatchIn(ct).map(_.group(1))
      }
      .getOrElse("UTF-8")
    try java.nio.charset.Charset.forName(name)
    catch { case _: Exception => java.nio.charset.StandardCharsets.UTF_8 }
  }

  private[graft] def decode(b: Array[Byte], cs: java.nio.charset.Charset): String = {
    val dec = cs.newDecoder()
      .onMalformedInput(java.nio.charset.CodingErrorAction.REPLACE)
      .onUnmappableCharacter(java.nio.charset.CodingErrorAction.REPLACE)
    dec.decode(java.nio.ByteBuffer.wrap(b)).toString
  }

  val schema: StructType = StructType(Seq(
    StructField("file", StringType, nullable = false),
    StructField("url", StringType, nullable = true),
    StructField("warc_date", StringType, nullable = true),
    StructField("record_id", StringType, nullable = true),
    StructField("http_status", IntegerType, nullable = false),
    StructField("http_content_type", StringType, nullable = true),
    StructField("body", StringType, nullable = true)))

  private def rowOf(file: String, r: WetReader.WarcRecord): Row = {
    val msg = parseHttp(r.payload)
    val ct = msg.headers.get("content-type")
    Row(
      file,
      r.headers.get("warc-target-uri").orNull,
      r.headers.get("warc-date").orNull,
      r.headers.get("warc-record-id").orNull,
      msg.status,
      ct.orNull,
      decode(msg.body, charsetOf(ct)))
  }

  /** Distributed raw-WARC response scan: one row per `response` record
    * with the HTTP envelope split off and the body transfer/content
    * decoding undone. The same scan as [[WetReader.read]]
    * ([[WetReader.scan]]): one task per (gzip non-splittable) file,
    * narrow flatMap, zero shuffle, record-at-a-time parse with peak
    * task memory O(largest record). `request`/`metadata`/`warcinfo`
    * records are skipped — read them via `WetReader.read(keepAll =
    * true)` if needed.
    */
  def readResponses(
      spark: SparkSession,
      path: String,
      globFilter: Option[String] = None): DataFrame =
    ofListing(Readers.binaryFiles(spark, path, globFilter))

  /** [[readResponses]] over an existing binaryFile listing (batch or
    * streaming).
    */
  private[graft] def ofListing(files: DataFrame): DataFrame =
    WetReader.scan(files, Some("response"), schema, rowOf)
}
