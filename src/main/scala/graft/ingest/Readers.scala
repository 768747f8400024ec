package graft.ingest

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.ops.Cleanse
import graft.plans.CellExpressions

/** Distributed delimited-text scan with the reference's exact parse
  * semantics (reference backend/index.js:98-119 preview, 206-232 full):
  *
  *   - delimiter sniffed from the first line only (tab > pipe > comma)
  *   - NAIVE split: quotes do NOT protect embedded delimiters — a cell
  *     `"Acme, Inc."` under comma splits into two cells, each then
  *     quote-stripped. (FIXTURES.md A1 mandates matching this.)
  *   - per-cell trim + edge-quote + edge-pipe strip; empty → null
  *   - blank lines and `---` (Markdown separator) lines dropped
  *   - short rows padded with null; extra cells beyond the header dropped
  *   - all columns land as strings (the reference inserts strings and lets
  *     the database cast; our casts happen later in Save)
  *
  * Spark-first design: the scan is the TEXT source with an in-plan naive
  * split + per-cell cleanup, all codegen'd byte-level expressions
  * ([[graft.plans.CellExpressions]] — no regex per line or cell; see the
  * [[delimited]] scaladoc for why line-level semantics rule out the csv
  * parser). The only driver-side work is reading ONE line for the sniff —
  * scan, cleanse, projection, and cast all distribute, so the path is
  * identical at 100 TB (each executor parses its own file splits).
  */
object Readers {

  /** Header names parsed + cleansed from the sniffed first line.
    * Empty-named positions (e.g. the edge cells of a `| a | b |` Markdown
    * header) get internal placeholder names and are dropped from the
    * result; duplicate names get a positional suffix (the reference's JS
    * row-object silently collapses duplicates — index.js:117 — which a
    * DataFrame cannot; documented deviation).
    */
  private[graft] def headerSchema(firstLine: String, delimiter: String): (Seq[String], StructType) = {
    val raw = firstLine.split(java.util.regex.Pattern.quote(delimiter), -1)
      .map(Cleanse.headerCell)
    dedupeNames(raw.toIndexedSeq)
  }

  /** Shared header normalization for ALL tabular sources (delimited,
    * Excel): empty-named positions get internal placeholder names and
    * are dropped from the kept list; duplicates get a positional suffix
    * (a DataFrame cannot hold ambiguous/empty names — the reference's JS
    * row-object silently collapses duplicates, index.js:117; documented
    * deviation). Returns (kept visible names, full positional schema).
    */
  private[graft] def dedupeNames(raw: Seq[String]): (Seq[String], StructType) = {
    val used = scala.collection.mutable.Set.empty[String]
    val names = raw.zipWithIndex.map { case (h, i) =>
      if (h.isEmpty) s"_graft_skip_$i"
      else {
        // probe for a free suffix: plain `name_n` can collide with a
        // LATER literal header of that name (e.g. "a,a,a_1")
        var candidate = h
        var n = 1
        while (used(candidate) ||
          (candidate != h && raw.drop(i + 1).contains(candidate))) {
          candidate = s"${h}_$n"
          n += 1
        }
        used += candidate
        candidate
      }
    }
    val keep = names.filterNot(_.startsWith("_graft_skip_"))
    (keep.toIndexedSeq, StructType(names.map(StructField(_, StringType, nullable = true)).toIndexedSeq))
  }

  /** The shared tail of the driver-parsed readers (Excel, legacy .xls,
    * Access): normalize `header` with [[dedupeNames]], parallelize
    * `rows` — one value per header position, as the reader wants it
    * kept — and project the visible columns.
    */
  private[graft] def driverTable(
      spark: SparkSession, header: Seq[String], rows: Seq[Seq[String]]): DataFrame = {
    val (keep, schema) = dedupeNames(header)
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(Row.fromSeq).toIndexedSeq), schema)
      .select(keep.map(Cleanse.colRef): _*)
  }

  /** Delimited scan (S1): csv/tsv/pipe/markdown -> all-string DataFrame.
    *
    * Implemented over the TEXT source with an in-plan naive split rather
    * than the csv reader, because the reference's semantics are
    * LINE-level and the csv parser only exposes post-split cells:
    *
    *   - blank-line skip tests the RAW line (index.js:212) -- a
    *     delimiter-only line like ",," is NOT blank and must yield an
    *     all-null row, which a post-split all-cells-empty test cannot
    *     distinguish from a genuinely blank line;
    *   - the `---` separator skip tests the RAW line (index.js:114,219)
    *     -- a `---` in an overflow token beyond the header width would
    *     be invisible after a csv parser truncates to the schema;
    *   - the header is the sniffed first non-blank line; any raw line
    *     equal to it is dropped (per-file header skip for uniform
    *     multi-file dirs; a DATA row byte-identical to the header line
    *     is also dropped -- documented deviation, vanishingly rare).
    *
    * Everything stays distributed + codegen'd: the blank test, split,
    * `get` and cell cleanup are plan expressions; only the one-line sniff
    * runs on the driver.
    */
  def delimited(spark: SparkSession, path: String): DataFrame = {
    val first = Sniffer.firstLine(spark, path).getOrElse(
      throw new IllegalArgumentException(s"File appears empty: $path"))
    val delimiter = Sniffer.sniffDelimiter(first)
    val (keep, schema) = headerSchema(first, delimiter)
    val line = col("value")
    val rows = spark.read.text(path)
      .filter(CellExpressions.notBlank(line)) // raw blank-line skip
      .filter(!line.contains("---")) // raw separator-line skip
      .filter(line =!= lit(first)) // header line (every file)
    val cells = CellExpressions.splitOn(line, delimiter)
    val columns = schema.fieldNames.zipWithIndex.collect {
      case (n, i) if keep.contains(n) =>
        // get is null when the row is short -- pad parity
        CellExpressions.cleanCell(get(cells, lit(i))).as(n)
    }
    rows.select(columns.toIndexedSeq: _*)
  }

  /** JSON-lines scan (extension beyond the reference, which pushes .json
    * through the delimited-text path — index.js:97; that faithful route
    * still works via [[delimited]]). Schema inferred (one extra pass) or
    * supplied for the single-pass scale path.
    */
  def jsonl(
      spark: SparkSession,
      path: String,
      schema: Option[StructType] = None): DataFrame = {
    val r = spark.read.option("mode", "PERMISSIVE")
    schema.fold(r)(r.schema).json(path)
  }

  /** Binary-file scan for multimodal ingestion: each file becomes a row
    * (path, modificationTime, length, content) — the standard way media
    * blobs enter the pipeline; feeds graft.operators.Multimodal directly.
    * Partition sizing: one task per file; tune
    * spark.sql.files.maxPartitionBytes for many-small-file dirs.
    */
  def binaryFiles(
      spark: SparkSession,
      path: String,
      globFilter: Option[String] = None): DataFrame = {
    val r = spark.read.format("binaryFile")
    globFilter.fold(r)(g => r.option("pathGlobFilter", g)).load(path)
  }

  /** Format-dispatched read, mirroring the reference's extension dispatch
    * (index.js:88-97): Access/Excel by extension, delimited otherwise.
    */
  def read(spark: SparkSession, path: String): DataFrame = {
    // U3 parity: the reference 404s "File not found or expired" when the
    // staged upload is gone (index.js:143-144) — surface the same typed
    // condition instead of a deep scan error. Local-path check only;
    // remote URIs defer to the source's own existence handling.
    // Plain local paths only: globs and scheme'd URIs defer to the
    // source's own resolution (a glob like /data/*.csv must not be
    // File.exists-checked).
    val plainLocal = !path.contains("://") &&
      !path.exists(c => c == '*' || c == '?' || c == '[' || c == '{')
    val fmt = Sniffer.formatOf(path)
    if (plainLocal && !new java.io.File(path).exists())
      throw new IllegalArgumentException(s"File not found or expired: $path")
    fmt match {
      case Sniffer.Delimited => delimited(spark, path)
      case Sniffer.Excel => ExcelReader.read(spark, path)
      case Sniffer.Jsonl => jsonl(spark, path)
      case Sniffer.Parquet => spark.read.parquet(path)
      case Sniffer.Wet =>
        // the archive family shares one format; a raw WARC's pages are
        // its `response` records, a WET's its `conversion` records
        val lower = path.toLowerCase
        if (lower.endsWith(".warc") || lower.endsWith(".warc.gz"))
          WarcHttp.readResponses(spark, path)
        else WetReader.read(spark, path)
      case Sniffer.Access =>
        // S3: native Jet4/ACE reader (first user table, strings-only —
        // reference semantics, index.js:66-74). Jet3/encrypted/unknown
        // versions surface typed errors from the reader itself.
        MdbReader.read(spark, path)
    }
  }
}
