package graft.sink

import java.net.URI

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{Cleanse, SmartId}
import graft.types.TypeMapper

/** EP2 — the reference's `POST /save` load pipeline
  * (reference backend/index.js:136-247): sanitize the table name, guard
  * against an existing table (409 via `to_regclass`, index.js:154-160),
  * project to the user-selected columns (index.js:223), declare types
  * (index.js:167-171 via mapToPostgresType), inject a synthetic id when
  * none selected (index.js:174-184), and load atomically (BEGIN/COMMIT,
  * index.js:164,234).
  *
  * Scale design:
  *   - projection + casts are plan-level (`select`/`cast`) → distributed,
  *     codegen'd, column-pruned at the source.
  *   - atomicity: the reference's single-connection transaction does not
  *     distribute; we write to a staging directory then atomically rename
  *     into place (SURVEY.md §2.9 K4 option b) — all-or-nothing with a
  *     distributed write. A JDBC target gets the staging-TABLE + rename
  *     analogue.
  *   - the existence guard is a metadata probe, not a scan.
  */
object Save {

  /** Identifier sanitization, same regex as the reference (index.js:146). */
  def sanitizeTableName(name: String): String =
    name.replaceAll("[^a-zA-Z0-9_]", "").toLowerCase

  /** Projection + declared-type cast + Smart-ID: the logical load plan.
    *
    * The reference inserts strings and lets PostgreSQL cast server-side
    * (index.js:249-273); our cast runs in-plan as `try_cast`, so a
    * non-coercible cell becomes null instead of aborting the whole load
    * mid-write (Spark 4 runs ANSI-on, where a plain `cast` throws) —
    * documented deviation from PG's transaction-abort (SURVEY.md §7.5(4)).
    * Empty cells are already null from the cleanse (CleanCell),
    * matching PG's `'' :: numeric` rejection turned into null-tolerance.
    */
  def prepare(
      df: DataFrame,
      selectedColumns: Seq[String],
      columnTypes: Map[String, String]): DataFrame = {
    val available = df.columns.toSet
    val cols = selectedColumns.filter(available) // reference skips unknown headers (index.js:223)
    require(cols.nonEmpty, "no selected column exists in the input")
    val typed = cols.map { c =>
      val dt = TypeMapper.toDataType(columnTypes.getOrElse(c, "TEXT"))
      Cleanse.colRef(c).try_cast(dt).as(c)
    }
    SmartId.withSmartId(df.select(typed: _*))
  }

  /** Full save to a parquet directory under `warehouseDir`, atomic via
    * staging + rename; fails if the table already exists (the reference's
    * 409 conflict, index.js:158-160).
    */
  def save(
      spark: SparkSession,
      df: DataFrame,
      warehouseDir: String,
      tableName: String,
      selectedColumns: Seq[String],
      columnTypes: Map[String, String] = Map.empty): String = {
    val safe = sanitizeTableName(tableName)
    require(safe.nonEmpty, "table name sanitizes to empty")
    val fs = FileSystem.get(new URI(warehouseDir), spark.sparkContext.hadoopConfiguration)
    val target = new Path(warehouseDir, safe)
    if (fs.exists(target))
      throw new IllegalStateException(s"Table '$safe' already exists") // 409 parity
    // "." prefix: sanitizeTableName can never produce a dotted name, so
    // staging dirs live in a namespace no published table can occupy
    // (an "_"-prefixed staging name could collide with a legal table
    // literally named _staging_x and silently delete it)
    val staging = new Path(warehouseDir, s".graft_staging_$safe")
    if (fs.exists(staging)) fs.delete(staging, true)
    val out = prepare(df, selectedColumns, columnTypes)
    out.write.mode("overwrite").parquet(staging.toString)
    if (!fs.rename(staging, target)) {
      fs.delete(staging, true)
      throw new IllegalStateException(s"Atomic publish of '$safe' failed")
    }
    target.toString
  }

  /** End-to-end ingest: path → read → cleanse (already inside the reader)
    * → project/cast/smart-id → atomic parquet publish. The Spark analogue
    * of the whole `POST /save` handler.
    */
  def ingest(
      spark: SparkSession,
      inputPath: String,
      warehouseDir: String,
      tableName: String,
      selectedColumns: Seq[String],
      columnTypes: Map[String, String] = Map.empty,
      deleteStaged: Boolean = false): String = {
    val df = graft.ingest.Readers.read(spark, inputPath)
    val out = save(spark, df, warehouseDir, tableName, selectedColumns, columnTypes)
    if (deleteStaged) { // K5 parity: unlink staged upload on success (index.js:236)
      val fs = FileSystem.get(new URI(inputPath), spark.sparkContext.hadoopConfiguration)
      fs.delete(new Path(inputPath), false)
    }
    out
  }

  /** Partitioned lakehouse write — the 100 TB layout knobs: directory
    * partitioning for partition pruning, `maxRecordsPerFile` to bound
    * task/file sizes (multimodal rows with fat binary columns need small
    * record counts per file).
    */
  def savePartitioned(
      df: DataFrame,
      path: String,
      partitionCols: Seq[String],
      maxRecordsPerFile: Long = 0L): Unit = {
    val w = df.write.mode("error")
    val w2 = if (maxRecordsPerFile > 0)
      w.option("maxRecordsPerFile", maxRecordsPerFile) else w
    w2.partitionBy(partitionCols: _*).parquet(path)
  }

  /** Bucketed managed table — pre-shuffled layout so repeated joins/aggs
    * on the bucket key skip their Exchange entirely (both sides bucketed
    * on the same key/count → shuffle-free sort-merge join).
    */
  def saveBucketed(
      df: DataFrame,
      tableName: String,
      bucketCol: String,
      nBuckets: Int,
      sortCol: Option[String] = None): Unit = {
    val w = df.write.mode("error")
      .format("parquet")
      .bucketBy(nBuckets, bucketCol)
    sortCol.fold(w)(c => w.sortBy(c)).saveAsTable(sanitizeTableName(tableName))
  }

  /** Small-file compaction: rewrite a parquet directory into
    * ~ceil(bytes / targetFileBytes) files via a staged double-rename
    * swap. The many-small-files problem is THE steady-state failure mode
    * of incremental loads at scale (every micro-batch/upsert appends a
    * few files; a year later the table has millions and listing + task
    * scheduling dominate every scan). Returns the actual new file count
    * (coalesce can only shrink, so a grow request caps at the scan's
    * partition count).
    *
    * NOT reader-atomic: between the two renames the path briefly does
    * not exist, so a concurrent scan can fail-and-retry. A table that
    * needs fully atomic swaps under live readers should publish through
    * [[Snapshots]] (immutable versions + pointer flip) and compact by
    * publishing a compacted next version.
    */
  def compact(
      spark: SparkSession,
      path: String,
      targetFileBytes: Long = 128L * 1024 * 1024): Int = {
    val fs = FileSystem.get(new URI(path), spark.sparkContext.hadoopConfiguration)
    val target = new Path(path)
    require(fs.exists(target), s"no table at $path")
    val bytes = fs.getContentSummary(target).getLength
    val nFiles = math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)
    val df = spark.read.parquet(path)
    val staging = new Path(target.getParent, s".graft_compact_${target.getName}")
    if (fs.exists(staging)) fs.delete(staging, true)
    df.coalesce(nFiles).write.parquet(staging.toString)
    val backup = new Path(target.getParent, s".graft_precompact_${target.getName}")
    if (fs.exists(backup)) fs.delete(backup, true)
    if (!fs.rename(target, backup))
      throw new IllegalStateException(s"compact: cannot stage out $path")
    if (!fs.rename(staging, target)) {
      fs.rename(backup, target) // restore
      throw new IllegalStateException(s"compact: swap failed for $path")
    }
    fs.delete(backup, true)
    fs.listStatus(target).count(_.getPath.getName.endsWith(".parquet"))
  }

  /** JDBC sink with the reference's physical choices: 1000-row batches
    * (index.js:188,226) through PreparedStatement batching. Verified
    * against embedded Derby (on the Spark classpath) — see
    * [[saveJdbcTransactional]] for the K4 staging-table analogue.
    */
  def saveJdbc(
      df: DataFrame,
      url: String,
      table: String,
      props: java.util.Properties,
      batchSize: Int = 1000): Unit =
    df.write
      .mode("error") // ErrorIfExists — K1 guard at the writer
      .option("batchsize", batchSize)
      .jdbc(url, sanitizeTableName(table), props)

  /** K4 for a JDBC target: the staging-TABLE + single-DDL-rename
    * analogue of the reference's BEGIN/COMMIT load (index.js:164-241).
    * The distributed write lands in `graft_stg_<t>` (multi-task, not
    * atomic); the publish is one `RENAME TABLE` statement — readers see
    * the target appear complete or not at all, matching [[save]]'s
    * staging-directory rename. K1 guard: target existence checked up
    * front (409 parity) and again by the rename itself.
    */
  def saveJdbcTransactional(
      df: DataFrame,
      url: String,
      table: String,
      props: java.util.Properties,
      batchSize: Int = 1000): Unit = {
    val safe = sanitizeTableName(table)
    require(safe.nonEmpty, "table name sanitizes to empty")
    val staging = s"graft_stg_$safe"
    if (jdbcTableExists(url, props, safe))
      throw new IllegalStateException(s"Table '$safe' already exists") // 409 parity
    dropJdbcTableIfExists(url, props, staging) // crashed prior load
    df.write
      .mode("overwrite")
      .option("batchsize", batchSize)
      .jdbc(url, staging, props)
    // dialect-aware publish: RENAME TABLE is Derby/MySQL syntax; the
    // PostgreSQL family (and SQLite/H2) spells it ALTER TABLE RENAME TO
    val renameSql =
      if (url.startsWith("jdbc:derby") || url.startsWith("jdbc:mysql") ||
        url.startsWith("jdbc:mariadb"))
        s"RENAME TABLE $staging TO $safe"
      else s"ALTER TABLE $staging RENAME TO $safe"
    withJdbc(url, props)(_.createStatement().execute(renameSql))
  }

  private def withJdbc[T](url: String, props: java.util.Properties)(
      f: java.sql.Connection => T): T = {
    val conn = java.sql.DriverManager.getConnection(url, props)
    try f(conn) finally conn.close()
  }

  /** Metadata probe (no scan), case-insensitive like the reference's
    * to_regclass check.
    */
  def jdbcTableExists(
      url: String, props: java.util.Properties, table: String): Boolean =
    withJdbc(url, props) { conn =>
      val rs = conn.getMetaData.getTables(null, null, null, Array("TABLE"))
      try {
        var found = false
        while (!found && rs.next())
          found = rs.getString("TABLE_NAME").equalsIgnoreCase(table)
        found
      } finally rs.close()
    }

  def dropJdbcTableIfExists(
      url: String, props: java.util.Properties, table: String): Unit =
    if (jdbcTableExists(url, props, table))
      withJdbc(url, props)(_.createStatement().execute(s"DROP TABLE $table"))
}
