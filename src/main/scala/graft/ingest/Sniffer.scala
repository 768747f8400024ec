package graft.ingest

import org.apache.spark.sql.SparkSession

/** Format/delimiter detection for delimited-text ingestion.
  *
  * Mirrors the reference's first-line-only sniff (reference
  * backend/index.js:107-109, 213-215): tab wins over pipe wins over comma,
  * decided from the FIRST line alone. Runs as a driver-side one-line read —
  * a constant-cost pre-pass regardless of file size (the scan itself stays
  * distributed), so this holds at 100 TB: we read one line, not the file.
  */
object Sniffer {

  /** Delimiter priority, identical to index.js:107-109. */
  def sniffDelimiter(firstLine: String): String =
    if (firstLine.contains("\t")) "\t"
    else if (firstLine.contains("|")) "|"
    else ","

  /** Read just the first non-blank line of a (possibly multi-file) path.
    * `spark.read.text(...).head` under a limit early-exits: Spark stops
    * after one row, it does not materialize the file. Blank means what
    * the reader's blank-line skip means ([[graft.ops.Cleanse.trimAll]]):
    * Spark `trim` strips spaces only, so a tab-only line would otherwise
    * be taken for the header.
    */
  def firstLine(spark: SparkSession, path: String): Option[String] = {
    import org.apache.spark.sql.functions.col
    spark.read.text(path)
      .filter(graft.ops.Cleanse.trimAll(col("value")) =!= "")
      .limit(1)
      .collect()
      .headOption
      .map(_.getString(0))
  }

  // note: anything that is not Excel/Access is treated as delimited text,
  // matching the reference's dispatch (index.js:88-97) — there is
  // deliberately NO text accept-list gate here
  private val ExcelExts = Set("xlsx", "xls")
  private val AccessExts = Set("accdb", "mdb")
  private val JsonlExts = Set("jsonl", "ndjson")
  private val ParquetExts = Set("parquet")

  sealed trait Format
  case object Delimited extends Format
  case object Excel extends Format
  case object Access extends Format
  case object Jsonl extends Format
  case object Parquet extends Format
  case object Wet extends Format

  /** Extension dispatch, same accept list as the reference UI
    * (App.jsx:172) and backend dispatch (index.js:88-97): Access and Excel
    * by extension, everything else treated as delimited text — except
    * the two unambiguous extension additions (.jsonl/.ndjson, .parquet),
    * which the delimited parser would otherwise shred into garbage
    * columns (documented deviation; the reference predates both in its
    * accept list).
    */
  def formatOf(path: String): Format = {
    val lower = path.toLowerCase
    // crawl archives carry compound extensions (.wet.gz) — match on the
    // suffix, not the last dot segment
    if (lower.endsWith(".wet") || lower.endsWith(".wet.gz") ||
      lower.endsWith(".warc") || lower.endsWith(".warc.gz")) return Wet
    val ext = path.reverse.takeWhile(_ != '.').reverse.toLowerCase
    if (AccessExts(ext)) Access
    else if (ExcelExts(ext)) Excel
    else if (JsonlExts(ext)) Jsonl
    else if (ParquetExts(ext)) Parquet
    else Delimited
  }
}
