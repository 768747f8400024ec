package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Cell/row normalization exactly as the reference applies it
  * (reference backend/index.js:111,115,216,221 for cells; 212, 219 for
  * rows): per cell `trim` → strip one leading/trailing `"` → strip one
  * leading/trailing `|`; rows that are entirely blank are dropped; rows
  * whose raw line contains `---` (Markdown separator) are dropped.
  *
  * Everything here is `org.apache.spark.sql.functions` column expressions —
  * codegen'd, no UDFs — so cleansing rides inside WholeStageCodegen on the
  * scan and costs one pass regardless of scale.
  */
object Cleanse {

  /** Column reference that tolerates arbitrary header strings: `col(name)`
    * parses dots as struct access (a CSV header "price.usd" would fail
    * analysis), so every reference to an ingested header goes through a
    * backtick-quoted attribute (inner backticks doubled per SQL escaping).
    */
  def colRef(name: String): Column = col(s"`${name.replace("`", "``")}`")

  /** Null-safe broadcast join of a per-group stats frame back onto the
    * data (the shared shape of Outliers.iqr / Impute.byGroup): rows
    * whose group keys are null match their own null-group stats row
    * instead of being dropped by equi-join semantics. Returns
    * `data.* ++ stats-minus-keys`, left-join (rows with no stats row
    * keep nulls).
    */
  def joinGroupStats(
      data: org.apache.spark.sql.DataFrame,
      stats: org.apache.spark.sql.DataFrame,
      groupCols: Seq[String]): org.apache.spark.sql.DataFrame = {
    val d = data.alias("d")
    val b = org.apache.spark.sql.functions.broadcast(stats.alias("b"))
    def esc(n: String) = n.replace("`", "``")
    val cond = groupCols.map(n =>
      col(s"d.`${esc(n)}`") <=> col(s"b.`${esc(n)}`")).reduce(_ && _)
    val carried = stats.columns.filterNot(groupCols.contains)
      .map(n => col(s"b.`${esc(n)}`"))
    d.join(b, cond, "left").select(col("d.*") +: carried.toIndexedSeq: _*)
  }

  /** Operator-owned cache for an exact-percentile input, re-laid to the
    * session's full parallelism BEFORE caching (round 21): these inputs
    * arrive at source-scan partitioning (lineitem's single parquet file
    * scans as 3 splits at sf0.1), and the cached layout is what every
    * percentile buffer-build and reinstating join then runs at — the
    * partial-aggregation stage was measured serializing on 3 tasks. The
    * repartition shuffle is BOUNDED by construction: every caller
    * refuses exact inputs past `maxExactRows` (the guard below), so the
    * 100 TB path (approx sketches) never reaches this cache and the
    * shuffle never exceeds what one percentile buffer was already
    * licensed to hold. Round-robin is exact-safe — percentiles sort,
    * so partition assignment cannot move a result.
    */
  private[ops] def ownedWide(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    graft.ops.Caches.owned(
      df.repartition(df.sparkSession.sparkContext.defaultParallelism))

  /** Guard for the exact (full-buffer) grouped-percentile path: exact
    * `percentile` accumulates every group value in ONE aggregation
    * buffer, so a hot group at corpus scale is an executor OOM, not a
    * slow query. Callers refuse inputs past `maxExactRows` unless the
    * caller explicitly opted in — the same philosophy as
    * `Similarity.allPairsSimilar`'s probe. The probe is eager but
    * BOUNDED: `limit(cap+1).count()` stops scanning once the cap is
    * disproven, so an expensive derived input pays at most cap+1 rows
    * of recompute, never a full pass.
    */
  private[ops] def guardExactPercentile(
      df: org.apache.spark.sql.DataFrame,
      maxExactRows: Long,
      op: String): Unit = {
    val probeCap = math.min(maxExactRows, Int.MaxValue - 2L).toInt + 1
    val n = df.limit(probeCap).count()
    require(n <= maxExactRows,
      s"$op(approx = false) buffers every group value in a single aggregation " +
        s"buffer and the input exceeds $maxExactRows rows (maxExactRows). " +
        "Pass approx = true for the bounded-memory sketch path (tolerance-gated), " +
        "or raise maxExactRows explicitly if exact quantiles at this size are intended.")
  }

  /** Full-whitespace trim: JS `.trim()` (the reference's, index.js:115)
    * and Java's `String.trim` strip tabs/newlines too, while Spark's
    * `trim` strips only the space character — a `"\tfoo"` cell must
    * become `"foo"` on both paths.
    */
  def trimAll(c: Column): Column = regexp_replace(c, "^\\s+|\\s+$", "")

  /** trim → strip edge quotes → strip edge pipes (reference order,
    * index.js:115: `.trim().replace(/^"|"$/g,'').replace(/^\||\|$/g,'')`),
    * then empty-string → null (save-path semantics, `cells[idx] || null`,
    * index.js:223).
    */
  def cell(c: Column): Column = {
    val stripped =
      regexp_replace(regexp_replace(trimAll(c), "^\"|\"$", ""), "^\\||\\|$", "")
    when(stripped === "", lit(null)).otherwise(stripped)
  }

  /** Same normalization for a header string, driver-side (headers are
    * parsed on the driver from the sniffed first line).
    */
  def headerCell(h: String): String =
    h.trim
      .replaceAll("^\"|\"$", "")
      .replaceAll("^\\||\\|$", "")

  /** Apply [[cell]] to every column of an all-string DataFrame. */
  def cells(df: DataFrame): DataFrame =
    df.select(df.columns.map(c => cell(colRef(c)).as(c)).toIndexedSeq: _*)
}
