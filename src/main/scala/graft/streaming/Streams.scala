package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

import graft.ingest.{WarcHttp, WetReader}

/** Structured Streaming surface over the events table: windowed
  * aggregation with watermarks, and custom sessionization state via
  * flatMapGroupsWithState — the streaming extension plan (SURVEY.md
  * §7.2(7)).
  *
  * Scale design: the file source streams one input split per trigger
  * batch; state (windows, sessions) is keyed and partitioned by Spark's
  * state store — per-key memory, RocksDB-backed when configured. The
  * watermark bounds state: windows/sessions older than (max event time −
  * watermark) are evicted.
  */
object Streams {

  /** The events schema as produced by Tables.events (post nano→micro). */
  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** File-source stream of event rows (parquet dir with the batch
    * schema). For tests, a memory/rate source with the same schema works
    * identically downstream. Schema-adaptive the same way Tables.events
    * is: a file stream needs an explicit schema, so probe the physical
    * `ts` layout with a batch footer read, then stream with the matching
    * schema and normalize to `TimestampType` in-plan (int64-nanos →
    * integer-divide; TIMESTAMP_NTZ → lossless cast under the UTC session
    * tz; TIMESTAMP → pass through).
    */
  def readEvents(spark: SparkSession, path: String): DataFrame = {
    val physicalTs =
      try spark.read.parquet(path).schema("ts").dataType
      catch {
        // TIMESTAMP(NANOS) file: schema inference rejects it outright —
        // the stream must read it as long (legacy conf).
        case e: org.apache.spark.sql.AnalysisException
            if e.getCondition != null &&
              e.getCondition.startsWith("PARQUET_TYPE_ILLEGAL") =>
          LongType
        // Empty source directory — the NORMAL state when a stream starts
        // before its producer writes anything. No footer to probe, so
        // assume the current-generation layout (TimestampType; covers
        // both the NTZ and UTC micros cases byte-identically once the
        // session tz is UTC) rather than refusing to start.
        case e: org.apache.spark.sql.AnalysisException
            if e.getCondition != null &&
              e.getCondition.startsWith("UNABLE_TO_INFER_SCHEMA") =>
          TimestampType
      }
    val streamSchema = StructType(eventSchema.map {
      case f if f.name == "ts" => f.copy(dataType = physicalTs)
      case f => f
    })
    // The legacy nanos conf must hold for the STREAM's lifetime (every
    // micro-batch re-converts the parquet schema under it), but a
    // session-global set would silently turn any CONCURRENT batch read
    // of a nanos-annotated parquet in the same session into LongType.
    // So nanos streams run on a DEDICATED newSession(): same
    // SparkContext, isolated SQL conf. The returned frame (and
    // anything started off it — memory sinks register in ITS catalog)
    // belongs to that session; EventsLayoutSpec pins both the
    // isolation and the end-to-end conversion.
    val sess = if (physicalTs == LongType) {
      val iso = spark.newSession()
      // runtime-set confs don't propagate to a new session (only
      // builder-time SparkConf entries do) — carry the two that change
      // query semantics/shape
      iso.conf.set("spark.sql.session.timeZone",
        spark.conf.get("spark.sql.session.timeZone"))
      iso.conf.set("spark.sql.shuffle.partitions",
        spark.conf.get("spark.sql.shuffle.partitions"))
      iso.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      iso
    } else spark
    val raw = sess.readStream.schema(streamSchema).parquet(path)
    val ts = physicalTs match {
      case LongType         => timestamp_micros(expr("ts div 1000"))
      case TimestampNTZType => col("ts").cast(TimestampType)
      case TimestampType    => col("ts")
      case other =>
        throw new IllegalStateException(
          s"events.ts: unsupported physical type $other " +
            "(expected int64 nanos, TIMESTAMP_NTZ, or TIMESTAMP)")
    }
    raw.withColumn("ts", ts)
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
  }

  /** Streaming WET source: watch `dir` for newly landed crawl segments
    * (`.wet` / `.wet.gz`, the Common Crawl delivery unit) and emit one
    * row per conversion record — [[graft.ingest.WetReader.schema]],
    * produced by the batch reader's own scan
    * ([[graft.ingest.WetReader.scan]]: streaming ≡ batch by
    * construction, task memory O(largest record)). The unit of both
    * discovery and parallelism is the FILE (gzip is not splittable),
    * exactly the production shape: a crawler drops finished segments
    * into the directory and each micro-batch picks up whole new files.
    * Compose with [[curateIncrementalBatches]] / [[ingestToBins]] for
    * the full crawl → curated-training-bins pipeline.
    */
  def readWetStream(
      spark: SparkSession,
      dir: String,
      glob: String = "*.wet.gz",
      maxFilesPerTrigger: Option[Int] = None): DataFrame =
    WetReader.ofListing(segmentPaths(spark, dir, glob, maxFilesPerTrigger))

  /** Streaming twin of [[graft.ingest.WarcHttp.readResponses]]: new
    * raw `.warc.gz` segments appearing under `dir` become one row per
    * HTTP `response` record per micro-batch — the crawl-native arrival
    * shape one step BEFORE [[readWetStream]] (no WET extraction run).
    * The batch scan itself ([[graft.ingest.WetReader.scan]]):
    * record-at-a-time off disk, envelope split, de-chunk,
    * content-decode, charset decode. Composes into the
    * curation/admission chains via
    * [[graft.functions.TextFunctions.stripHtmlLines]] on `body`.
    */
  def readWarcStream(
      spark: SparkSession,
      dir: String,
      glob: String = "*.warc.gz",
      maxFilesPerTrigger: Option[Int] = None): DataFrame =
    WarcHttp.ofListing(segmentPaths(spark, dir, glob, maxFilesPerTrigger))

  /** Streaming binaryFile listing of the segments landing under `dir`
    * (the source's own schema — a file stream needs one up front). The
    * scan reads only `path`, so the source never loads `content`.
    */
  private def segmentPaths(
      spark: SparkSession,
      dir: String,
      glob: String,
      maxFilesPerTrigger: Option[Int]): DataFrame = {
    val r = spark.readStream.format("binaryFile")
      .option("pathGlobFilter", glob)
      .schema(org.apache.spark.sql.execution.datasources.binaryfile.BinaryFileFormat.schema)
    maxFilesPerTrigger.fold(r)(n => r.option("maxFilesPerTrigger", n)).load(dir)
  }

  /** Tumbling-window aggregation with a watermark: per (window, type)
    * counts and value sums. Append-mode compatible (closed windows only).
    */
  def hourlyCounts(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("value")).as("total_value"))
      .select(
        col("window.start").as("hour"),
        col("event_type"), col("n"), col("total_value"))

  /** Sliding-window per-user activity rate. */
  def slidingUserActivity(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "30 minutes", "10 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("window.start").as("w_start"), col("user_id"), col("n_events"))

  /** Streaming exact dedup: drop events whose key was already seen,
    * with state bounded by the watermark (the streaming twin of
    * Dedup.exact — `dropDuplicatesWithinWatermark` evicts key state once
    * the watermark passes, so it holds at unbounded stream length where
    * a plain dropDuplicates would accumulate state forever).
    */
  def dedupStream(
      events: DataFrame,
      keyCols: Seq[String],
      watermark: String = "1 hour",
      tsCol: String = "ts"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Stream-stream interval join: match each event of `left` to events
    * of `right` from the same user within `[t - window, t]` — both
    * sides watermarked so join state is evicted (unbounded otherwise).
    * The canonical funnel/attribution join shape on two live streams.
    */
  def intervalJoin(
      left: DataFrame,
      right: DataFrame,
      key: String,
      window: String,
      watermark: String = "1 hour",
      tsCol: String = "ts"): DataFrame = {
    val l = left.withWatermark(tsCol, watermark)
    val r = right.withWatermark(tsCol, watermark)
    // side-bound, quoted column refs (dataset.col) instead of a raw SQL
    // string: names with spaces/dots survive, and same-named columns on
    // both sides resolve unambiguously
    def q(n: String) = s"`${n.replace("`", "``")}`"
    val cond = l.col(q(key)) === r.col(q(key)) &&
      r.col(q(tsCol)).between(
        l.col(q(tsCol)) - expr(s"INTERVAL $window"), l.col(q(tsCol)))
    l.join(r, cond)
  }

  /** Stream-static enrichment: join the event stream against a static
    * (broadcastable) dimension — the standard streaming-lookup shape; the
    * static side re-plans per micro-batch, no state store involved.
    */
  def enrich(
      events: DataFrame,
      dim: DataFrame,
      eventKey: String,
      dimKey: String): DataFrame = {
    // side-bound refs: bare col(name) is AMBIGUOUS when both sides carry
    // the key under the same name (the standard lookup-join shape)
    def q(n: String) = s"`${n.replace("`", "``")}`"
    events.join(
      org.apache.spark.sql.functions.broadcast(dim),
      events.col(q(eventKey)) === dim.col(q(dimKey)),
      "left")
  }

  final case class Event(
      event_id: Long, ts: Timestamp, user_id: Long,
      event_type: String, value: Double, props: String)

  final case class SessionState(
      start: Long, lastTs: Long, nEvents: Long, totalValue: Double)

  final case class Session(
      user_id: Long, session_start: Timestamp, session_end: Timestamp,
      n_events: Long, total_value: Double)

  /** Custom stateful sessionization: a session closes after `gapMs` of
    * user inactivity. Idle sessions are closed by the chosen timeout:
    * ProcessingTimeTimeout arms a wall-clock timer per batch;
    * EventTimeTimeout arms a timestamp at lastTs + gap (requires a
    * watermark on `events` upstream — Spark enforces this at analysis).
    * flatMapGroupsWithState = the arbitrary-state path the built-in
    * session_window can't always express (e.g., value-dependent gaps).
    */
  def sessionize(
      events: Dataset[Event],
      gapMs: Long = 30 * 60 * 1000L,
      timeout: GroupStateTimeout = GroupStateTimeout.ProcessingTimeTimeout): Dataset[Session] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append, timeout) {
        (userId: Long, rows: Iterator[Event], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(Session(
              userId, new Timestamp(s.start), new Timestamp(s.lastTs),
              s.nEvents, s.totalValue))
          } else {
            val sorted = rows.toSeq.sortBy(_.ts.getTime)
            var closed = List.empty[Session]
            var cur = state.getOption
            sorted.foreach { e =>
              val t = e.ts.getTime
              cur match {
                // within gap of the session's SPAN (cross-batch late rows
                // can precede it — an unsigned `t - lastTs <= gap` would
                // merge arbitrarily old events and never extend start)
                case Some(s) if t >= s.start - gapMs && t - s.lastTs <= gapMs =>
                  cur = Some(s.copy(
                    start = math.min(s.start, t),
                    lastTs = math.max(s.lastTs, t),
                    nEvents = s.nEvents + 1,
                    totalValue = s.totalValue + e.value))
                case Some(s) if t > s.lastTs + gapMs =>
                  closed ::= Session(
                    userId, new Timestamp(s.start), new Timestamp(s.lastTs),
                    s.nEvents, s.totalValue)
                  cur = Some(SessionState(t, t, 1, e.value))
                case Some(_) =>
                  // stale late event, > gap BEFORE the open session: its
                  // session is already closed — emit as its own
                  // immediately-closed single-event session
                  closed ::= Session(
                    userId, new Timestamp(t), new Timestamp(t), 1, e.value)
                case None =>
                  cur = Some(SessionState(t, t, 1, e.value))
              }
            }
            cur.foreach { s =>
              state.update(s)
              if (timeout == GroupStateTimeout.ProcessingTimeTimeout)
                state.setTimeoutDuration(gapMs)
              else if (timeout == GroupStateTimeout.EventTimeTimeout)
                // clamp past the watermark: late rows are NOT dropped by
                // flatMapGroupsWithState, and a timeout timestamp at or
                // before the current watermark throws and kills the query
                state.setTimeoutTimestamp(
                  math.max(s.lastTs + gapMs, state.getCurrentWatermarkMs + 1))
            }
            closed.reverseIterator
          }
      }
  }

  /** Built-in session windows (`session_window`): merges events closer
    * than `gap` into one window per key — the compose-built-ins
    * alternative to [[sessionize]] when the gap is static. Works
    * identically over a batch frame or a watermarked stream (Spark's
    * native session-window state store handles merging in streaming).
    * Window end = last event + gap (exclusive), per session-window
    * semantics.
    */
  def sessionWindowAgg(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    events
      .groupBy(session_window(col("ts"), gap).as("sw"), col("user_id"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(12, 2))).cast("double").as("total_value"))
      .select(
        col("user_id"),
        col("sw.start").as("session_start"),
        col("sw.end").as("session_end"),
        col("n_events"), col("total_value"))
  // no trailing sort: streaming append mode rejects orderBy — batch
  // callers that need a total order (the oracle gate) sort at the call
  // site

  /** Batch analogue of sessionization (gaps-and-islands) — the
    * SQL-checkable twin of [[sessionize]] used by the oracle gate: a new
    * session starts where the gap from the previous event exceeds
    * `gapMinutes`; session id = running count of session starts.
    */
  def sessionizeBatch(events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    events
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          unix_micros(col("ts")) - unix_micros(col("prev_ts")) > gapMinutes * 60000000L, 1)
          .otherwise(0))
      .withColumn("session_id", sum(col("new_session")).over(byUser))
      .groupBy(col("user_id"), col("session_id"))
      .agg(
        min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"),
        count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(12, 2))).cast("double").as("total_value"))
      .orderBy(col("user_id"), col("session_id"))
  }

  /** Stateless per-micro-batch deployment of a batch operator: every
    * micro-batch of `docs` goes through `op`, and the result reaches
    * `onBatch` with its batch id — e.g.
    * `perBatch(docs)(Corpus.scoreWithLmNModel(_, model, "text", "doc_id"))(sink)`.
    *
    * This is the right shape for per-document work (LM / DSIR /
    * classifier scoring, language ID, CCNet bucketing, decontamination):
    * a document is contained in one input row, so it needs no
    * cross-batch state, where a streaming groupBy(id) would grow the
    * state store by every id ever seen. The handler IS the batch
    * operator, so streaming ≡ batch per micro-batch by construction
    * (StreamsSpec pins it per operator); an operator that ranks within
    * its input — CCNet's per-language terciles — ranks within the
    * micro-batch. Static model or benchmark frames the operator joins
    * re-plan per micro-batch like any stream-static join: persist them
    * (or load them once from a snapshot) before long runs. `op =
    * identity` is the plain foreachBatch sink, for sinks Spark has no
    * connector for (idempotent upserts, JDBC merges,
    * [[graft.sink.Snapshots.publishBatch]]).
    */
  def perBatch(docs: DataFrame)(op: DataFrame => DataFrame)(
      onBatch: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    run(docs, onBatch)((batch, _) => Staged(op(batch)))

  /** One micro-batch after one stage: `admitted` goes on to the next
    * stage (or to `onBatch`) without its `carried` columns; each
    * `(ledgerDir, rows)` pair is derived from `admitted` and appended
    * under the batch id once `onBatch` has returned.
    */
  final case class Staged(
      admitted: DataFrame,
      ledgers: Seq[(String, DataFrame)] = Nil,
      carried: Seq[String] = Nil)

  /** One step of a micro-batch: (rows, batch id) → staged result. The
    * constructors below build the engine's stages (admission, quota,
    * packing, decontamination, the curation head); any function of
    * this shape composes with them in [[run]].
    */
  type Stage = (DataFrame, Long) => Staged

  /** The streaming runner every deployment here is one call of — e.g.
    * `run(docs, sink)(nearAdmission(sigs, "text", "doc_id", dir),
    * domainQuota("dom", "ord", "toks", budgets, quotaDir))`. Per batch,
    * inside [[graft.ops.Caches.scoped]] (so every cache the stages and
    * their operators register is released with the batch): run `stages`
    * in order, each on the previous one's admitted rows; persist a
    * stage's frame when its ledgers will read it again, and always the
    * last one; hand the last to `onBatch`; then write every ledger.
    * Ledger rows therefore record exactly the rows the sink saw, read
    * from the persisted frame instead of re-running a probe. The writes
    * go last stage first: a parquet write re-caches every cached frame
    * whose plan reads the written directory, and a stage's frame reads
    * the ledgers of its own and earlier stages, so in this order no
    * ledger's source is invalidated before it is read. Writes happen
    * only after the sink returns, and each overwrites its own
    * `batch_id=N` partition, so an at-least-once replay — which
    * [[readLedger]] keeps out of its own prior set — reproduces its
    * decisions and leaves exactly-once ledgers (the
    * [[graft.sink.Snapshots]] replay posture).
    *
    * `onCounts`, when given, receives per batch the input row count
    * followed by each stage's admitted count — the admission funnel a
    * production crawl monitors (a collapsing curation rate or an
    * exploding near-dup rate is how filter drift and crawler loops
    * surface). The counts are taken after `onBatch` returns and before
    * the ledger writes: persisted stage frames count from the cache,
    * the input and unpersisted frames are recomputed. None pays nothing.
    */
  def run(
      docs: DataFrame,
      onBatch: (DataFrame, Long) => Unit,
      onCounts: Option[(Seq[Long], Long) => Unit] = None)(
      stages: Stage*): DataStreamWriter[Row] =
    docs.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      graft.ops.Caches.scoped {
        val ledgers = Seq.newBuilder[(String, DataFrame)]
        val frames = Seq.newBuilder[DataFrame] += batch
        val out = stages.zipWithIndex.foldLeft(batch) { case (in, (stage, i)) =>
          val s = stage(in, batchId)
          ledgers ++= s.ledgers
          val kept =
            if (s.ledgers.nonEmpty || i == stages.size - 1) graft.ops.Caches.owned(s.admitted)
            else s.admitted
          frames += kept
          kept.drop(s.carried: _*)
        }
        onBatch(out, batchId)
        onCounts.foreach(_(frames.result().map(_.count()), batchId))
        ledgers.result().reverseIterator.foreach { case (dir, rows) =>
          commitLedger(dir, rows, batchId)
        }
      }
    }

  /** The admission rule every probe stage ends in: the `batch` rows
    * whose `idCol` is non-null and in none of the `dropped` id sets (one
    * id column each) — one anti-join against their union. Rows sharing
    * an id are admitted or dropped together; a null id is never
    * admitted (no probe can drop it and no ledger can record it by id).
    */
  private def admitExcept(batch: DataFrame, idCol: String, dropped: DataFrame*): DataFrame =
    batch.filter(graft.ops.Cleanse.colRef(idCol).isNotNull)
      .join(dropped.map(_.toDF("_g_drop")).reduce(_ unionByName _),
        graft.ops.Cleanse.colRef(idCol) === col("_g_drop"), "left_anti")

  /** Exact-dedup admission of a document stream against a STATIC corpus
    * AND against everything the stream itself has already admitted —
    * the production crawl-ingest shape
    * ([[graft.operators.Corpus.incrementalDedup]] per micro-batch, plus
    * a durable content-hash ledger for cross-batch dedup): batch rows
    * minus corpus-hash matches minus ledger matches, keep-first by id
    * within the batch (deterministic under repartitioning).
    * `corpusHashes` is the [[dedupCorpusHashes]] frame.
    *
    * Why not streaming `dropDuplicates`: the state store would hold
    * every content hash ever seen with no watermark to expire them
    * (content dedup has no event-time bound), growing without limit
    * inside the streaming engine. The ledger here is a plain parquet
    * directory of md5 hashes partitioned by micro-batch id — SMALL
    * (32 bytes per admitted doc), shared-storage-friendly, and
    * restart-safe under the [[run]] replay rule.
    *
    * Scale: each micro-batch pays one anti-join against the static
    * corpus hashes and one against the ledger — both keyed equi-joins
    * on 16-byte hashes. At crawl scale the ledger is orders of
    * magnitude smaller than the corpus it summarizes.
    */
  def exactAdmission(
      corpusHashes: DataFrame, textCol: String, idCol: String, ledgerDir: String): Stage =
    (batch, batchId) => {
      val seen = readLedger(batch.sparkSession, ledgerDir,
        ledgerSchema(ContentH -> StringType), batchId).select(col(ContentH))
      // null text hashes as empty text: md5(null) is null, and null
      // keys pass EVERY anti-join (EqualTo never matches them) — a
      // null-text doc would be re-admitted in every batch forever
      val fresh = batch
        .withColumn(ContentH, md5(coalesce(graft.ops.Cleanse.colRef(textCol), lit(""))))
        // first-by-id among same-content rows WITHIN the batch — a
        // deterministic keep-first, not dropDuplicates' arbitrary one
        .withColumn("_graft_rk", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col(ContentH))
            .orderBy(graft.ops.Cleanse.colRef(idCol))))
        .filter(col("_graft_rk") === 1).drop("_graft_rk")
        .join(corpusHashes, Seq(ContentH), "left_anti")
        .join(seen, Seq(ContentH), "left_anti")
      Staged(fresh, Seq(ledgerDir -> fresh.select(col(ContentH))), Seq(ContentH))
    }

  /** Distinct content-hash projection of a static corpus — the
    * persistable unit for [[exactAdmission]] (16 bytes per distinct
    * content; unpersisted, every micro-batch re-hashes the whole
    * corpus).
    */
  def dedupCorpusHashes(corpus: DataFrame, textCol: String): DataFrame =
    corpus.select(
      md5(coalesce(graft.ops.Cleanse.colRef(textCol), lit(""))).as(ContentH))
      .distinct()

  private val ContentH = "_graft_content_h"

  /** A ledger schema: `fields` plus the `batch_id` partition column. */
  private def ledgerSchema(fields: (String, DataType)*): StructType =
    StructType((fields :+ ("batch_id" -> LongType)).map { case (n, t) => StructField(n, t) })

  /** Read a batch ledger directory, or an empty frame when it does not
    * exist yet. Hadoop FS probe, NOT java.io.File: the ledger lives
    * wherever the checkpoint does (s3a/hdfs in production) and a
    * local-File exists() is always false there — the ledger would be
    * written but never read, silently disabling cross-batch dedup.
    * Replay safety: rows the CURRENT batch wrote before a crash must
    * not suppress their own re-processing, so `batch_id == batchId`
    * rows are filtered out (the explicit schema also lets an EMPTY
    * ledger dir read as zero rows instead of failing inference).
    */
  private def readLedger(
      spark: SparkSession,
      ledgerDir: String,
      schema: StructType,
      batchId: Long): DataFrame = {
    val ledgerPath = new org.apache.hadoop.fs.Path(ledgerDir)
    val ledgerExists = ledgerPath
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .exists(ledgerPath)
    if (ledgerExists)
      spark.read.schema(schema).parquet(ledgerDir)
        .filter(col("batch_id") =!= batchId)
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row],
      StructType(schema.filterNot(_.name == "batch_id")))
  }

  /** Driver-side running-total cache for the QUOTA ledger (ledgerDir →
    * (last batch id folded in, per-domain admitted-token sums)): the
    * ledger is a handful of rows per batch, but re-reading it as
    * parquet every micro-batch pays a fixed file-listing + read-job
    * latency (part of the measured ~4.5 s/batch [[ingestToBins]] tail —
    * docs/SCALE.md). The cache is an OPTIMIZATION ONLY: it is updated
    * after the ledger write succeeds, a replayed batch (batchId ≤
    * cached last id) falls back to the parquet read that filters its
    * own partition out, and a fresh JVM starts empty — so every path
    * reproduces the exact parquet-derived base. foreachBatch handlers
    * run single-threaded per query; the map is concurrent only for
    * multi-query sessions with distinct ledger dirs.
    */
  private val quotaCache =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, Map[String, Long])]()

  /** Append one ledger's rows under `batchId`. A quota ledger — its dir
    * holds a running-total entry, which [[domainQuota]] seeds in the
    * same batch — commits through [[commitQuotaLedger]] so the entry
    * stays current; every other ledger is a plain append.
    */
  private def commitLedger(dir: String, rows: DataFrame, batchId: Long): Unit = {
    val stamped = rows.withColumn("batch_id", lit(batchId))
    if (quotaCache.containsKey(dir)) commitQuotaLedger(stamped, dir, batchId)
    else writeBatchLedger(stamped, dir)
  }

  /** Quota-ledger commit: ONE bounded collect materializes the batch's
    * per-domain deltas, the parquet write goes out from those local
    * rows (no second evaluation of the delta plan), and the driver
    * cache folds them in — so the next batch's base is a map lookup
    * instead of a parquet read. Cache folding happens strictly AFTER
    * the write returns; an out-of-sequence batch id just invalidates
    * the cache and the next batch re-seeds from parquet.
    */
  private def commitQuotaLedger(
      ledgerRows: DataFrame, ledgerDir: String, batchId: Long): Unit = {
    val spark = ledgerRows.sparkSession
    val local = ledgerRows.collect() // bounded: one row per admitted domain
    writeBatchLedger(
      spark.createDataFrame(
        java.util.Arrays.asList(local: _*), ledgerRows.schema),
      ledgerDir)
    Option(quotaCache.get(ledgerDir)) match {
      case Some((through, sums)) if through == batchId - 1 =>
        val merged = local.foldLeft(sums) { (m, r) =>
          val d = r.getString(0)
          m.updated(d, m.getOrElse(d, 0L) + r.getLong(1))
        }
        quotaCache.put(ledgerDir, (batchId, merged))
      case _ => quotaCache.remove(ledgerDir)
    }
  }

  /** Dynamic-partition-overwrite ledger append: a replayed micro-batch
    * OVERWRITES its own `batch_id=N` partition, so at-least-once
    * delivery still yields an exactly-once ledger (the
    * [[graft.sink.Snapshots]] replay posture).
    */
  private def writeBatchLedger(rows: DataFrame, ledgerDir: String): Unit =
    rows.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id")
      .parquet(ledgerDir)

  /** Streaming incremental NEAR-dup admission — the MinHash sibling of
    * [[exactAdmission]], the production crawl shape when near-copies
    * (boilerplate variants, re-rendered pages) must be caught, not just
    * byte-identical text. Each micro-batch:
    *
    *  1. signatures: the fused MinHash expression per doc
    *     ([[graft.operators.Dedup.minhashSignature]] — numPerms longs);
    *  2. WITHIN-batch: banded candidates via the batch path's
    *     bucket-capped core ([[graft.operators.Dedup.bandedCandidates]]
    *     — buckets over `maxBand` members are dropped, so a micro-batch
    *     full of near-identical crawl rows cannot make one band
    *     quadratic; the batch LSH pipeline's documented one-sided
    *     tradeoff) + the published pair rule — a doc drops when ANY
    *     lower-id batch doc's ESTIMATED Jaccard (the fraction of
    *     agreeing permutations — the standard streaming estimator,
    *     E[agree] = true Jaccard; storing shingle sets for exact
    *     verification is corpus-sized state) reaches the threshold;
    *  3. vs PRIOR: the same banded probe against the static corpus's
    *     PRECOMPUTED signatures ([[nearDupCorpusSignatures]] — persist
    *     it; see its scaladoc for the measured reason) plus the LEDGER
    *     of previously admitted signatures. The bipartite probe is
    *     bounded by batch band rows × prior bucket size; a mass-
    *     boilerplate prior bucket (10⁶ byte-identical pages) is the
    *     one way it degenerates, and the cure is compositional: run
    *     [[exactAdmission]] in front (the [[curationHead]] does), so
    *     the prior set holds at most one copy of any exact content and
    *     hot prior buckets are genuine near-dup families, which
    *     admission is supposed to compare against;
    *  4. survivors ([[admitExcept]]) go on with their original columns
    *     and their `(id, sig)` rows — the signatures the survivors
    *     carried through the probe — land in the ledger's `batch_id=N`
    *     partition ([[run]] replay rule).
    *
    * For banding planned from a target threshold, pass
    * `bands = Dedup.lshPlan(threshold, numPerms)._1`. Ledger rows are
    * numPerms longs per admitted doc — orders of magnitude smaller
    * than the text they summarize; band hashes are derived (a hash
    * over each signature slice), never stored. DEGENERATE docs —
    * canonical text with no tokens at all (null/whitespace/
    * punctuation-only), which produce zero shingles — are detected by
    * their all-sentinel signature (`sig[0] == Long.MaxValue`; real
    * permuted hashes are `mulMod` residues < 2^61−1, so no shingled
    * doc can ever produce the sentinel) and routed around BOTH probes:
    * always admitted, never ledgered. Near-dup semantics need real
    * content — without the routing every degenerate doc shares the
    * identical sentinel signature, estimates Jaccard 1.0 against all
    * others, and all but the first would be silently dropped forever.
    * Compose [[exactAdmission]] upstream for exact dedup of degenerate
    * text. Fail-fast: corpusSigs built with a different numPerms would
    * silently band nothing (slice lengths disagree), so signature
    * length is probed once at construction (one 1-row job) and
    * mismatches throw.
    */
  def nearAdmission(
      corpusSigs: DataFrame,
      textCol: String,
      idCol: String,
      ledgerDir: String,
      threshold: Double = 0.7,
      numPerms: Int = 64,
      bands: Int = 8,
      maxBand: Int = 500): Stage = {
    require(numPerms % bands == 0, "numPerms must divide into bands")
    require(threshold > 0 && threshold <= 1)
    corpusSigs.select(size(col("sig")).as("n")).limit(1).collect()
      .headOption.foreach { r =>
        require(r.getInt(0) == numPerms,
          s"corpusSigs signature length ${r.getInt(0)} != numPerms $numPerms " +
            "— build nearDupCorpusSignatures with the same numPerms")
      }
    val rows = numPerms / bands
    val cr = graft.ops.Cleanse.colRef _
    // zero-shingle sentinel: minhashFromString leaves every slot at
    // Long.MaxValue ONLY when the canonical text has no bytes (mulMod
    // residues are < 2^61−1, so a real shingle can never produce it)
    def degenerate(sig: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      element_at(sig, 1) === Long.MaxValue
    // derived band keys: one hash per signature slice (band index rides
    // as a second hash input so equal slices in different bands differ)
    def banded(df: DataFrame): DataFrame = df.select(
      col("_gn_id"), col("_gn_sig"),
      explode(transform(sequence(lit(0), lit(bands - 1)), b =>
        struct(b.as("bi"),
          hash(slice(col("_gn_sig"), b * lit(rows) + 1, lit(rows)), b).as("bh"))))
        .as("_gn_b"))
      .select(col("_gn_id"), col("_gn_sig"),
        col("_gn_b.bi").as("_gn_bi"), col("_gn_b.bh").as("_gn_bh"))
      // degenerate (zero-shingle) docs never band on ANY side — batch,
      // corpus, or ledger: their sentinel signatures would otherwise
      // all collide at estimated Jaccard 1.0
      .filter(!degenerate(col("_gn_sig")))
    def estSim(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      size(filter(zip_with(a, b, (x, y) => x === y), p => p))
        .cast("double") / lit(numPerms.toDouble)
    (batch, batchId) => {
      // ledger id field takes the BATCH's id type (string/int/long ids
      // all round-trip; a hardcoded LongType read would fail at the
      // second batch's ledger read for any non-long id column)
      val idType = batch.select(cr(idCol)).schema.head.dataType
      val ledgerSigs = readLedger(batch.sparkSession, ledgerDir,
        ledgerSchema("_gn_id" -> idType, "_gn_sig" -> ArrayType(LongType)), batchId)
        .select(col("_gn_id"), col("_gn_sig"))
      val signed = batch.withColumn("_gn_sig",
        graft.operators.Dedup.minhashSignature(cr(textCol), numPerms))
      val bSigs = signed.select(cr(idCol).as("_gn_id"), col("_gn_sig"))
      val bBand = banded(bSigs)
      // within-batch pair rule: drop _gn_id when a LOWER id in the same
      // batch shares a band and the estimated Jaccard clears threshold.
      // Candidate generation reuses the batch path's bucket-capped core
      // ([[graft.operators.Dedup.bandedCandidates]], round 13): the cap
      // bounds each bucket's local pair fan-out at maxBand members —
      // the same one-sided tradeoff the batch LSH pipeline documents
      // (oversized buckets are dropped, never partially searched)
      val inBatchCand = graft.operators.Dedup.bandedCandidates(
        bBand.select(col("_gn_id").as("id"),
          col("_gn_bi").as("band"), col("_gn_bh").as("bh")),
        maxBand)
      val inBatchDropped = inBatchCand
        .join(bSigs.select(col("_gn_id").as("id_a"), col("_gn_sig").as("sa")),
          Seq("id_a"))
        .join(bSigs.select(col("_gn_id").as("id_b"), col("_gn_sig").as("sb")),
          Seq("id_b"))
        .filter(estSim(col("sa"), col("sb")) >= threshold)
        .select(col("id_b")).distinct()
      val priorBand = banded(
        corpusSigs.select(col("id").as("_gn_id"), col("sig").as("_gn_sig"))
          .unionByName(ledgerSigs))
      val vsPriorDropped = bBand.as("x").join(priorBand.as("p"),
          col("x._gn_bi") === col("p._gn_bi") &&
            col("x._gn_bh") === col("p._gn_bh"))
        .select(col("x._gn_sig").as("sa"), col("p._gn_sig").as("sb"),
          col("x._gn_id").as("_gn_id"))
        .filter(estSim(col("sa"), col("sb")) >= threshold)
        .select(col("_gn_id")).distinct()
      val fresh = admitExcept(signed, idCol, inBatchDropped, vsPriorDropped)
      // degenerate docs are admitted but never ledgered: their sentinel
      // signature carries no content identity
      Staged(fresh, Seq(ledgerDir -> fresh.filter(!degenerate(col("_gn_sig")))
        .select(cr(idCol).as("_gn_id"), col("_gn_sig"))), Seq("_gn_sig"))
    }
  }

  /** Corpus signature projection for [[nearAdmission]]: `(id, sig)`
    * with sig = the numPerms-long MinHash signature. Compute ONCE,
    * `persist()`, and hand to the stage — an unpersisted frame re-runs
    * the corpus tokenize + 64-perm MinHash in EVERY micro-batch's
    * prior-set probe (measured: the whole stream crawls at ~200 input
    * rows/s either way until this frame is cached, because signature
    * recompute dwarfs the joins).
    */
  def nearDupCorpusSignatures(
      corpus: DataFrame, textCol: String, idCol: String,
      numPerms: Int = 64): DataFrame = {
    val cr = graft.ops.Cleanse.colRef _
    corpus.select(
      cr(idCol).as("id"),
      graft.operators.Dedup.minhashSignature(cr(textCol), numPerms).as("sig"))
  }

  /** Perceptual-fingerprint projection of a static MEDIA corpus —
    * `(id, fp)`, one 64-bit dHash (images) or energy-hash (audio) per
    * decodable item — the persistable unit for [[mediaAdmission]] (8
    * bytes per item; unpersisted, every micro-batch re-decodes the
    * whole corpus — the [[nearDupCorpusSignatures]] lesson, and decode
    * dwarfs signature hashing). Undecodable items are dropped: they
    * carry no perceptual identity to probe against.
    */
  def mediaCorpusFingerprints(
      corpus: DataFrame, mediaType: String = "image"): DataFrame =
    mediaFingerprint(mediaType)(corpus)
      .filter(col("fp").isNotNull).select(col("id"), col("fp"))

  /** The `(id, fp)` fingerprint operator for `mediaType`. */
  private def mediaFingerprint(mediaType: String): DataFrame => DataFrame =
    mediaType match {
      case "image" => graft.operators.Multimodal.imageFingerprints _
      case "audio" => graft.operators.Multimodal.audioFingerprints _
      case other => throw new IllegalArgumentException(
        s"mediaType must be image|audio, got '$other'")
    }

  private def requireHamming(maxHamming: Int): Unit =
    require(maxHamming >= 0 && maxHamming <= 7,
      s"maxHamming must be in [0, 7] (64-bit pigeonhole chunks), got $maxHamming")

  /** Streaming incremental MEDIA near-dup admission — the perceptual
    * sibling of [[nearAdmission]] for image/audio streams (the
    * LAION-style crawl shape: re-encoded, re-leveled, resized copies of
    * already-held media must not be admitted twice). Each micro-batch
    * of canonical media rows (`media_id`, `content`, ...):
    *
    *  1. fingerprints: one 64-bit perceptual hash per item
    *     ([[graft.operators.Multimodal.imageFingerprints]] dHash /
    *     [[graft.operators.Multimodal.audioFingerprints]] energy hash)
    *     — one decode scan, the only pass that touches bytes;
    *  2. WITHIN-batch: pigeonhole-banded hamming pairs
    *     ([[graft.operators.Dedup.simhashPairs]]) + the pair rule — an
    *     item drops when ANY lower-id batch item is within
    *     `maxHamming`;
    *  3. vs PRIOR: the bipartite banding
    *     ([[graft.operators.Dedup.simhashCrossPairs]]) against the
    *     static corpus's PRECOMPUTED fingerprints
    *     ([[mediaCorpusFingerprints]] — persist it) plus the ledger of
    *     previously admitted fingerprints;
    *  4. survivors ([[admitExcept]]) go on with their original columns
    *     and their `(media_id, fp)` land in the ledger's `batch_id=N`
    *     partition ([[run]] replay rule).
    *
    * UNDECODABLE items (null fingerprint) are admitted but never
    * ledgered — the degenerate-text routing: a null carries no
    * perceptual identity, and banding sentinel values would collapse
    * every undecodable item into one false dup family. Ledger rows are
    * 8 bytes of fingerprint per admitted item — the cheapest ledger of
    * the admission family (vs 16-byte md5, numPerms×8-byte MinHash).
    * A null `media_id` is never admitted and never fingerprinted (the
    * same holds for [[videoAdmission]] / [[audioWindowedAdmission]]).
    * `maxHamming` and `mediaType` are checked at construction, so a
    * typo fails before the query starts, not minutes into it.
    */
  def mediaAdmission(
      corpusFps: DataFrame,
      ledgerDir: String,
      maxHamming: Int = 3,
      mediaType: String = "image"): Stage = {
    requireHamming(maxHamming)
    val fingerprint = mediaFingerprint(mediaType)
    (batch, batchId) => {
      // consumed by both probes and the ledger rows; released with the
      // batch's scope, together with the operator caches simhashPairs /
      // simhashCrossPairs register per call (a 24/7 stream would
      // otherwise grow the registry by one cached frame per batch).
      // Null-id rows are never admitted (admitExcept), so they are
      // never fingerprinted: the kernels read ids as primitive longs
      val fps = graft.ops.Caches.owned(
        fingerprint(batch.filter(col("media_id").isNotNull)))
      val ledgerFps = readLedger(batch.sparkSession, ledgerDir,
        ledgerSchema("media_id" -> LongType, "fp" -> LongType), batchId)
        .select(col("media_id").as("id"), col("fp"))
      val nn = fps.filter(col("fp").isNotNull).select(col("id"), col("fp"))
      // the drop rule is pure existence ("does a lower-id batch item /
      // ANY prior item sit within maxHamming"), so the flood guards
      // are exact here: simhashPairs' identity star edges preserve
      // the within-batch rule, and collapsing equal PRIOR
      // fingerprints to one representative (a mass-duplicated corpus
      // would otherwise be a permanent hot bucket probed every
      // micro-batch) cannot change whether a probe matches
      val inBatchDropped = graft.operators.Dedup.simhashPairs(nn, maxHamming)
        .select(col("id_b")).distinct()
      val vsPriorDropped = graft.operators.Dedup.simhashCrossPairs(
        nn,
        graft.operators.Dedup.collapseIdentityFps(
          corpusFps.unionByName(ledgerFps)),
        maxHamming)
        .select(col("id_a")).distinct()
      val fresh = admitExcept(batch, "media_id", inBatchDropped, vsPriorDropped)
      Staged(fresh, Seq(ledgerDir -> nn.select(col("id").as("media_id"), col("fp"))
        .join(fresh.select(col("media_id")), Seq("media_id"), "left_semi")))
    }
  }

  /** Per-frame fingerprint frame of a static VIDEO corpus —
    * `(media_id, frame_idx, fp)` via
    * [[graft.operators.Multimodal.videoFingerprints]] (demux → k
    * evenly-spaced frames → dHash64, one fused scan) — the persistable
    * unit for [[videoAdmission]]: ≤ k longs per video; unpersisted,
    * every micro-batch re-demuxes and re-decodes the whole corpus.
    * Undemuxable/undecodable corpus items contribute no frames
    * (quarantine — nothing to probe against). Build it with the SAME
    * `k` the admission stage uses: frame composite keys are
    * `media_id·k + frame_idx`, so a mismatched k mis-buckets nothing
    * silently — it shifts every composite id.
    */
  def videoCorpusFingerprints(corpus: DataFrame, k: Int = 8): DataFrame =
    graft.operators.Multimodal.videoFingerprints(corpus, k)

  /** Streaming incremental VIDEO near-dup admission — the
    * frame-evidence sibling of [[mediaAdmission]]: a re-encoded /
    * rescaled / re-containered copy of an already-held video must not
    * be admitted twice, and — unlike single-fingerprint media — one
    * coincidentally matching frame must not drop an unrelated video.
    * Each micro-batch of `(media_id, content, ...)`:
    *
    *  1. [[graft.operators.Multimodal.videoFingerprints]]: demux →
    *     k sampled frames → dHash64, ONE decode scan;
    *  2. WITHIN-batch: the exact pigeonhole banding over composite
    *     `media_id·k + frame_idx` keys
    *     ([[graft.operators.Dedup.simhashPairs]]) → per-video-pair
    *     evidence count — a video drops when ≥ `minMatches` of its
    *     frames pair with a LOWER-id batch video (composite id order
    *     implies video id order for frame_idx < k);
    *  3. vs PRIOR: the bipartite banding
    *     ([[graft.operators.Dedup.simhashCrossPairs]]) against the
    *     corpus frame table ([[videoCorpusFingerprints]] — persist it)
    *     plus the ledger of previously admitted frames, same
    *     ≥ `minMatches` evidence rule (a batch video re-using a held
    *     media_id with identical frames self-pairs and drops — that IS
    *     a duplicate);
    *  4. survivors ([[admitExcept]]) go on; their per-frame
    *     `(media_id, frame_idx, fp)` rows land in the ledger's
    *     `batch_id=N` partition ([[run]] replay rule).
    *
    * ZERO-FRAME videos (undemuxable container, no decodable frame) are
    * admitted but never ledgered — the undecodable-media routing: no
    * perceptual identity, and any sentinel would collapse them into one
    * false dup family. Evidence counts qualifying frame PAIRS (like
    * [[graft.operators.Multimodal.videoNearDups]]), so a prior video
    * with near-identical repeated frames can reach the floor against
    * one batch frame — acceptable for admission (such a video is
    * boilerplate-still anyway). Requires non-negative `media_id` in
    * both stream and corpus (the composite key contract).
    *
    * Scale: one demux+decode scan per batch; both probes are the
    * banded joins (never all-pairs), their outputs already pair-pruned
    * before the tiny evidence groupBy; ledger rows are ≤ k longs per
    * admitted video.
    */
  def videoAdmission(
      corpusFps: DataFrame,
      ledgerDir: String,
      k: Int = 8,
      maxHamming: Int = 3,
      minMatches: Int = 2): Stage = {
    require(k > 0, "k must be positive")
    frameEvidenceAdmission(corpusFps, ledgerDir, k.toLong, maxHamming, minMatches,
      graft.operators.Multimodal.videoFingerprints(_, k))
  }

  /** Streaming windowed-AUDIO near-dup admission — the long-clip
    * sibling: [[graft.operators.Multimodal.audioFingerprintWindows]]
    * per micro-batch (fixed-length segments, so tail-appended / padded
    * copies of held clips drop on their shared leading segments),
    * through the same frame-evidence admission as [[videoAdmission]].
    * Corpus frame = [[graft.operators.Multimodal.audioFingerprintWindows]]
    * over the held clips with the SAME `segSamples`/`maxSegments`;
    * zero-segment (non-PCM16) items are admitted, never ledgered.
    */
  def audioWindowedAdmission(
      corpusFps: DataFrame,
      ledgerDir: String,
      segSamples: Int = 65536,
      maxSegments: Int = 64,
      maxHamming: Int = 3,
      minMatches: Int = 2): Stage = {
    require(segSamples >= 65, "segSamples must be >= 65")
    require(maxSegments > 0, "maxSegments must be positive")
    frameEvidenceAdmission(corpusFps, ledgerDir, maxSegments.toLong, maxHamming,
      minMatches,
      graft.operators.Multimodal.audioFingerprintWindows(_, segSamples, maxSegments))
  }

  /** Frame-evidence admission (the video / windowed-audio core). */
  private def frameEvidenceAdmission(
      corpusFps: DataFrame,
      ledgerDir: String,
      kL: Long,
      maxHamming: Int,
      minMatches: Int,
      fingerprint: DataFrame => DataFrame): Stage = {
    require(minMatches > 0, "minMatches must be positive")
    requireHamming(maxHamming)
    val M = graft.operators.Multimodal
    val maxFrameDf = 100
    def evidenced(pairs: DataFrame, dropSide: String): DataFrame = pairs
      .select(
        expr(s"id_a DIV $kL").as("vid_a"),
        expr(s"id_b DIV $kL").as("vid_b"))
      .groupBy(col("vid_a"), col("vid_b"))
      .agg(count(lit(1)).as("n_matched"))
      .filter(col("n_matched") >= minMatches)
      .select(col(dropSide)).distinct()
    (batch, batchId) => {
      // consumed by both probes and the ledger rows; released with the
      // batch's scope; null ids skip the kernels (see mediaAdmission)
      val fps = graft.ops.Caches.owned(
        fingerprint(batch.filter(col("media_id").isNotNull)))
      val ledgerFps = readLedger(batch.sparkSession, ledgerDir,
        ledgerSchema("media_id" -> LongType, "frame_idx" -> IntegerType, "fp" -> LongType),
        batchId).select(col("media_id"), col("frame_idx"), col("fp"))
      // the boilerplate-frame guard (Multimodal.frameEvidencePairs'
      // df cap) applies per side: batch frames by batch-local df,
      // the prior (corpus + ledger) by its own df — a fade-to-black
      // frame held by thousands of corpus videos must not be probed
      // by every micro-batch forever. The prior-side cap costs one
      // groupBy over a frame table the cross-banding already scans
      // per batch. maxIdentity = Int.MaxValue skips the identity
      // pre-collapse (which would undercount evidence): the df cap
      // already bounds every surviving identity group.
      val batchFrames = M.compositeFrameKeys(M.frameDfCap(fps, maxFrameDf), kL)
      val priorFrames = M.compositeFrameKeys(
        M.frameDfCap(corpusFps.unionByName(ledgerFps), maxFrameDf), kL)
      val inBatchDropped = evidenced(
        graft.operators.Dedup.simhashPairs(batchFrames, maxHamming,
          maxIdentity = Int.MaxValue)
          .filter(expr(s"id_a DIV $kL") =!= expr(s"id_b DIV $kL")),
        dropSide = "vid_b") // composite id_a < id_b ⇒ vid_a < vid_b
      val vsPriorDropped = evidenced(
        graft.operators.Dedup.simhashCrossPairs(
          batchFrames, priorFrames, maxHamming),
        dropSide = "vid_a") // id_a = the probing batch video
      val fresh = admitExcept(batch, "media_id", inBatchDropped, vsPriorDropped)
      Staged(fresh, Seq(ledgerDir -> fps
        .join(fresh.select(col("media_id")), Seq("media_id"), "left_semi")
        .select(col("media_id"), col("frame_idx"), col("fp"))))
    }
  }

  /** The curation chain's fixed head, as three stages per micro-batch
    * of raw pages — append further stages ([[semanticAdmission]] with
    * `embed = true` on `clean`, [[decontamination]] on `clean`,
    * [[domainQuota]], ...) and hand the lot to [[run]]:
    *
    *  1. [[graft.operators.Corpus.curatePages]] — the stateless C4 →
    *     full-Gopher prefix (clean text + keep flags, zero state);
    *     non-kept pages drop here, before any store is touched; the
    *     kept pages go on as `(idCol, clean)` plus `carryCols`
    *     re-joined from the batch (curatePages projects them away,
    *     every later stage passes extras through);
    *  2. [[exactAdmission]] of the CLEANED text vs `corpusHashes`
    *     ([[dedupCorpusHashes]]) and the exact ledger — cheap 16-byte
    *     keys kill byte-identical re-crawls before MinHash runs;
    *  3. [[nearAdmission]] vs `corpusSigs` ([[nearDupCorpusSignatures]])
    *     and the near ledger, at its default banding.
    *
    * Each admission stage keeps its OWN ledger, written after the sink
    * succeeds: the exact ledger records stage-2 survivors (so a
    * byte-identical copy of a page that a later stage rejected still
    * dies at the cheap exact stage), the near ledger records near-stage
    * survivors. Pass PERSISTED `corpusHashes`/`corpusSigs` — the
    * persistable units; everything else is micro-batch-sized. The
    * stages run cheapest-first, so each store probe sees only the
    * survivors of the stage before it.
    */
  def curationHead(
      corpusHashes: DataFrame,
      corpusSigs: DataFrame,
      textCol: String,
      idCol: String,
      exactLedgerDir: String,
      nearLedgerDir: String,
      carryCols: Seq[String] = Nil): Seq[Stage] = {
    val cr = graft.ops.Cleanse.colRef _
    val curated: Stage = (batch, _) => {
      val kept = graft.operators.Corpus.curatePages(batch, textCol, idCol)
        .filter(col("kept"))
        .select(col("id").as(idCol), col("clean"))
      Staged(
        if (carryCols.isEmpty) kept
        else kept.join(
          batch.select((cr(idCol).as(idCol) +: carryCols.map(cr)): _*), Seq(idCol)))
    }
    Seq(curated,
      exactAdmission(corpusHashes, "clean", idCol, exactLedgerDir),
      nearAdmission(corpusSigs, "clean", idCol, nearLedgerDir))
  }

  /** END-TO-END streaming curation: [[run]] over the [[curationHead]] —
    * `onBatch` receives the curated, exact- and near-deduplicated page
    * stream as `(idCol, clean)`. Longer chains (semantic admission,
    * decontamination, quota, packing) append their stages to the head
    * in their own [[run]] call.
    */
  def curateIncrementalBatches(
      docs: DataFrame,
      corpusHashes: DataFrame,
      corpusSigs: DataFrame,
      textCol: String,
      idCol: String,
      exactLedgerDir: String,
      nearLedgerDir: String,
      onBatch: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    run(docs, onBatch)(curationHead(corpusHashes, corpusSigs, textCol, idCol,
      exactLedgerDir, nearLedgerDir): _*)

  /** n-gram decontamination of `textCol` against a static benchmark
    * gram frame ([[graft.operators.Corpus.decontaminateAgainstGrams]])
    * — no ledger, the bench side never grows.
    */
  def decontamination(benchGrams: DataFrame, textCol: String, idCol: String, n: Int = 8): Stage =
    (in, _) => Staged(graft.operators.Corpus
      .decontaminateAgainstGrams(in, benchGrams, textCol, idCol, n))

  /** Corpus-side SRP index for [[semanticAdmission]]: the
    * PRE-EXPLODED signature frame `(_gs_id, _gs_v, _gs_n, _gs_t,
    * _gs_s)` — one row per (doc, table) — hash-repartitioned on the
    * probe's join keys `(_gs_t, _gs_s)`. Compute ONCE and `persist()`.
    * This, not the raw vector frame, is the persistable unit (the
    * [[nearDupCorpusSignatures]] lesson taken one step further):
    * persisting only `(id, v)` still re-runs the SRP projection, the
    * `tables`-way explode, AND the corpus-side join shuffle in EVERY
    * micro-batch's prior probe; the pre-partitioned index makes the
    * per-batch corpus cost zero-compute and zero-exchange. For a TEXT
    * corpus, compose with
    * [[graft.functions.TextFunctions.embedText]] upstream. Zero
    * vectors are excluded — cosine involving one is 0 by the engine
    * convention, so their index rows could never drop anything.
    * `bits`/`tables` are recorded in the `_gs_s` column metadata and
    * read back by the stream, so a bits/tables mismatch between index
    * and probe (which would silently band nothing) is impossible by
    * construction.
    *
    * `maxBucket` drops (table, sig) buckets with more than that many
    * corpus members from the index — the hot-bucket bound every LSH
    * path in the engine carries ([[graft.operators.Dedup
    * .bandedCandidates]] maxBand, the batch LSH bucket caps). Without
    * it a semantically-collapsed corpus region (mass boilerplate, a
    * template family) concentrates in one bucket per table and every
    * micro-batch's probe goes |batch| × |bucket| quadratic — measured
    * on the wrapper-page replica: the UNCAPPED probe ground >20 min on
    * a single 5k-row micro-batch (≈10⁹ 128-dim cosines) where the
    * capped run finishes in seconds. One-sided tradeoff, documented:
    * a doc whose near-twin hides ONLY in oversized buckets is
    * admitted; compose exact dedup upstream (the [[curationHead]]
    * does) so byte-identical mass never inflates a bucket in the first
    * place.
    */
  def semanticCorpusIndex(
      corpus: DataFrame, vecCol: String, idCol: String,
      bits: Int = 12, tables: Int = 12, maxBucket: Int = 1024): DataFrame = {
    // bits = 12 (4096 buckets/table), not the semanticDecontaminateLsh
    // default of 8: the ADMISSION operating point is cosine ≥ 1 − eps
    // ≈ 0.99 (θ ≈ 8°), where per-table collision is still 0.58 and the
    // 12-table miss probability 3e-5 — while 16× more buckets cut the
    // probe's candidate density 16× (measured: the 8-bit probe paid
    // ~6M pair evaluations per 5k-row micro-batch on the replica).
    // Exact copies collide in every table at any bits.
    require(bits > 0 && bits <= 30 && tables > 0, "bits in (0,30], tables > 0")
    require(maxBucket > 0, "maxBucket must be positive")
    val cr = graft.ops.Cleanse.colRef _
    val norm = graft.operators.Similarity.norm _
    val sigMeta = new org.apache.spark.sql.types.MetadataBuilder()
      .putLong("graft.srp.bits", bits.toLong)
      .putLong("graft.srp.tables", tables.toLong)
      .putLong("graft.srp.maxBucket", maxBucket.toLong).build()
    // the cap's own window exchange leaves the frame hash-partitioned
    // on (_gs_t, _gs_s) — exactly the probe join's required
    // distribution, so no further repartition is needed
    capBuckets(
      srpExplode(
        corpus.select(cr(idCol).as("_gs_id"),
          cr(vecCol).cast("array<double>").as("_gs_v"))
          .filter(norm(col("_gs_v")) > 0.0),
        bits, tables),
      maxBucket)
      .select(col("_gs_id"), col("_gs_v"), col("_gs_n"), col("_gs_t"),
        col("_gs_s").as("_gs_s", sigMeta))
  }

  /** Drop (table, sig) buckets larger than `maxBucket` from an SRP
    * signature frame — a windowed count over the bucket key, so the
    * cap costs one keyed shuffle at build time (index) or over a
    * micro-batch (probe sides), never a join.
    */
  private def capBuckets(sig: DataFrame, maxBucket: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("_gs_t"), col("_gs_s"))
    sig.withColumn("_gs_bn", count(lit(1)).over(w))
      .filter(col("_gs_bn") <= maxBucket)
      .drop("_gs_bn")
  }

  /** SRP banding shared by [[semanticCorpusIndex]] and the per-batch
    * sides of [[semanticAdmission]]: cast/norm in their OWN select
    * below the posexplode (the `embeddingNearDups` CollapseProject
    * note — a fused select re-evaluates norm once per exploded table
    * row).
    */
  private def srpExplode(df: DataFrame, bits: Int, tables: Int): DataFrame = {
    val norm = graft.operators.Similarity.norm _
    df.select(col("_gs_id"), col("_gs_v"), norm(col("_gs_v")).as("_gs_n"))
      .select(col("_gs_id"), col("_gs_v"), col("_gs_n"),
        posexplode(graft.plans.HashExpressions.srpSignatures(
          col("_gs_v"), bits, tables)).as(Seq("_gs_t", "_gs_s")))
  }

  /** Streaming incremental SEMANTIC dedup admission — the
    * embedding-level sibling of [[nearAdmission]] (SemDeDup's pair rule
    * as an admission stream): a doc drops when its vector sits at
    * cosine ≥ 1 − eps to any LOWER-id doc in its own micro-batch, to
    * the static corpus vectors, or to the LEDGER of previously admitted
    * vectors. Candidates come from the multi-table SRP-LSH bucket join
    * ([[graft.operators.Similarity.embeddingNearDups]] machinery —
    * keyed `(table, signature)` shuffles, never `|batch| × |prior|`),
    * verified by EXACT cosine inside the join condition; recall for a
    * pair at angle θ is 1 − (1 − (1 − θ/π)^bits)^tables (≈ 1 − 1e-12
    * at cosine 0.999 with the defaults — and exact copies always
    * collide).
    *
    * `vecCol` is an embedding column, or — with `embed = true` — a TEXT
    * column the stage embeds itself with
    * [[graft.functions.TextFunctions.embedText]] at the index's own
    * vector length (probed once, at construction: a different length
    * would zip truncated vectors into silently wrong cosines; an empty
    * index fixes no length, so the stage embeds at 128) — the way the
    * curation chain catches PARAPHRASES (word reordering,
    * re-rendering) whose shingle sets evade MinHash. Either way the
    * whole text→vector→dedup path runs in-engine with no external
    * model. Zero vectors are always admitted and never dropped (cosine
    * involving a zero vector is 0 by the engine convention); they are
    * also never ledgered — a zero vector can never drop a later doc,
    * so its ledger row would be dead weight. The ledger stores `(id,
    * vector)` per admitted doc under the [[run]] replay rule; vectors
    * are stored as array<double> (lossless for float inputs), so
    * re-derived SRP signatures are bit-identical across restarts.
    * `corpusIndex` is the [[semanticCorpusIndex]] frame — persist it;
    * `bits`/`tables`/`maxBucket` are read from its column metadata so
    * the batch and ledger sides band identically and carry the same
    * hot-bucket cap by construction (see the index scaladoc for the
    * measured uncapped adversary).
    */
  def semanticAdmission(
      corpusIndex: DataFrame,
      vecCol: String,
      idCol: String,
      ledgerDir: String,
      eps: Double = 0.01,
      embed: Boolean = false): Stage = {
    require(eps > 0 && eps < 1, "eps in (0, 1)")
    val (bits, tables, maxBucket) = srpMeta(corpusIndex)
    val dim =
      if (!embed) 0
      else corpusIndex.select(size(col("_gs_v"))).limit(1).collect()
        .headOption.fold(128)(_.getInt(0))
    val cr = graft.ops.Cleanse.colRef _
    val dot = graft.operators.Similarity.dot _
    val norm = graft.operators.Similarity.norm _
    val SemV = "_gs_embedded"
    val vCol = if (embed) SemV else vecCol
    def vecs(df: DataFrame): DataFrame = df.select(cr(idCol).as("_gs_id"),
      cr(vCol).cast("array<double>").as("_gs_v"))
    (in, batchId) => {
      val batch =
        if (embed) in.withColumn(SemV, graft.functions.TextFunctions.embedText(cr(vecCol), dim))
        else in
      val idType = batch.select(cr(idCol)).schema.head.dataType
      val ledgerVecs = readLedger(batch.sparkSession, ledgerDir,
        ledgerSchema("_gs_id" -> idType, "_gs_v" -> ArrayType(DoubleType)), batchId)
        .select(col("_gs_id"), col("_gs_v"))
      // the probe sides carry the index's own hot-bucket cap (metadata):
      // a semantically-collapsed micro-batch or ledger region would
      // otherwise make one bucket |side|² / |batch|×|ledger| quadratic —
      // the same adversary the index cap bounds, same one-sided tradeoff
      val bSig = capBuckets(srpExplode(vecs(batch), bits, tables), maxBucket)
      val denom = col("x._gs_n") * col("y._gs_n")
      val cos = when(denom === 0.0, lit(0.0))
        .otherwise(dot(col("x._gs_v"), col("y._gs_v")) / denom)
      // within-batch: lower-id partner in a shared bucket at cos ≥ 1−eps
      val inBatchDropped = bSig.as("x").join(bSig.as("y"),
          col("x._gs_t") === col("y._gs_t") &&
            col("x._gs_s") === col("y._gs_s") &&
            col("x._gs_id") < col("y._gs_id") &&
            cos >= lit(1.0 - eps))
        .select(col("y._gs_id")).distinct()
      // vs PRIOR: corpus and ledger probed SEPARATELY — a union would
      // discard the index's (t, s) hash partitioning and re-shuffle the
      // whole corpus side every batch; two keyed joins keep the big
      // static side exchange-free and the ledger side |admitted|-sized
      def droppedVs(prior: DataFrame): DataFrame =
        bSig.as("y").join(prior.as("x"),
            col("x._gs_t") === col("y._gs_t") &&
              col("x._gs_s") === col("y._gs_s") &&
              cos >= lit(1.0 - eps))
          .select(col("y._gs_id"))
      val vsPriorDropped = droppedVs(corpusIndex)
        .unionByName(droppedVs(
          capBuckets(srpExplode(ledgerVecs, bits, tables), maxBucket)))
        .distinct()
      val fresh = admitExcept(batch, idCol, inBatchDropped, vsPriorDropped)
      // zero vectors can never drop a later doc — never ledgered
      Staged(fresh, Seq(ledgerDir -> vecs(fresh).filter(norm(col("_gs_v")) =!= 0.0)),
        if (embed) Seq(SemV) else Nil)
    }
  }

  /** Read bits/tables/maxBucket back from a [[semanticCorpusIndex]]
    * frame's column metadata — the construction-level guarantee that
    * index and probe band identically and cap identically.
    */
  private def srpMeta(corpusIndex: DataFrame): (Int, Int, Int) = {
    val sigMeta = corpusIndex.schema("_gs_s").metadata
    require(sigMeta.contains("graft.srp.bits") &&
        sigMeta.contains("graft.srp.tables") &&
        sigMeta.contains("graft.srp.maxBucket"),
      "corpusIndex must be built by semanticCorpusIndex (missing SRP metadata)")
    (sigMeta.getLong("graft.srp.bits").toInt,
      sigMeta.getLong("graft.srp.tables").toInt,
      sigMeta.getLong("graft.srp.maxBucket").toInt)
  }

  /** Streaming sequence PACKING — the production tail of the curation
    * chain: turn the admitted document stream into `budget`-token
    * training-bin assignments that stay CONTINUOUS across micro-batches
    * (next-fit with straddling, the "concatenate then chunk" scheme —
    * the [[graft.operators.Corpus.packSequences]] semantics, extended
    * over an unbounded stream). Each doc reports the global bin its
    * first token lands in and its offset inside that bin; bin numbering
    * never resets at a batch boundary, so a bin that ends mid-batch is
    * completed by the next batch's first doc exactly as the batch
    * operator would have packed the concatenated input.
    *
    * State is one running token total per shard, carried as a LEDGER of
    * per-batch DELTAS `(shard, batch_tokens, batch_id)` — summing all
    * prior deltas reproduces the shard's base offset, and the sum is
    * associative, so the [[run]] replay rule gives exactly-once
    * packing under at-least-once delivery. The ledger is
    * shard-count-sized — bytes per batch, never corpus-sized. The
    * bin/off arithmetic is the batch operator's own
    * (`packSequencesFrom` — one shared formula, so streaming ≡ batch by
    * construction given the same arrival order); docs within a batch
    * order by `orderCol`, batches order by arrival.
    */
  def pack(
      idCol: String,
      shardCol: String,
      orderCol: String,
      tokensCol: String,
      budget: Long,
      ledgerDir: String): Stage = {
    require(budget > 0, "budget must be positive")
    val cr = graft.ops.Cleanse.colRef _
    (batch, batchId) => {
      val shardType = batch.select(cr(shardCol)).schema.head.dataType
      val base = readLedger(batch.sparkSession, ledgerDir,
        ledgerSchema("shard" -> shardType, "batch_tokens" -> LongType), batchId)
        .groupBy(col("shard")).agg(sum(col("batch_tokens")).as("_gp_base"))
      val out = graft.operators.Corpus.packSequencesFrom(
        batch, idCol, cr(shardCol), cr(orderCol), cr(tokensCol), budget,
        Some(base))
      Staged(out, Seq(ledgerDir -> out.groupBy(col("shard"))
        .agg(sum(col("n_tokens")).as("batch_tokens"))))
    }
  }

  /** Streaming sequence MATERIALIZATION — [[pack]] carried to the
    * artifact a trainer actually reads: per micro-batch, emit every
    * training bin that can no longer grow as `(shard, bin, n_docs,
    * seq_text)` ([[graft.operators.Corpus.packMaterialize]] semantics —
    * a doc belongs to the bin its FIRST token lands in, bins
    * concatenate doc texts in `orderCol` order). Because start offsets
    * only ever grow, a bin is CLOSED the moment the shard's running
    * total passes its end boundary — so emission is deterministic and
    * each bin is emitted exactly once, in the batch that closes it,
    * with its member docs possibly spanning several micro-batches.
    *
    * State, both ledgers bytes-to-kilobytes per shard:
    *  - `<ledgerDir>/deltas`: the [[pack]] per-batch token-sum deltas
    *    (associative — any subset sums to a valid base);
    *  - `<ledgerDir>/open`: the still-OPEN bins' member docs `(shard,
    *    ord, text, bin)`, rewritten in full each batch (latest-batch
    *    state, not a sum — the read takes the max prior `batch_id`
    *    partition, so an at-least-once replay reconstructs the same
    *    state and re-emits the same bins; exactly-once delivery is the
    *    sink's `batchId` contract, as in every other deployment). Open
    *    state is bounded by one `budget` of straddle per shard plus
    *    the open bin's members — never corpus-sized.
    *
    * The stream never ends, so the final open bin per shard never
    * closes; [[flushOpenBins]] drains it after the query stops.
    * `orderCol` must be globally monotone with arrival (a crawl
    * sequence number, an event time) — the same contract the batch
    * operator's shard ordering carries.
    */
  def packMaterialize(
      idCol: String,
      shardCol: String,
      orderCol: String,
      tokensCol: String,
      textCol: String,
      budget: Long,
      ledgerDir: String,
      sep: String = " "): Stage = {
    require(budget > 0, "budget must be positive")
    val cr = graft.ops.Cleanse.colRef _
    (batch, batchId) => {
      val spark = batch.sparkSession
      val shardType = batch.select(cr(shardCol)).schema.head.dataType
      val ordType = batch.select(cr(orderCol)).schema.head.dataType
      val deltas = readLedger(spark, s"$ledgerDir/deltas",
        ledgerSchema("shard" -> shardType, "batch_tokens" -> LongType), batchId)
      val base = deltas.groupBy(col("shard"))
        .agg(sum(col("batch_tokens")).as("_gp_base"))
      // latest-state anchor = the DELTAS ledger's max batch_id, which
      // every non-empty batch writes: an open partition can be
      // legitimately ABSENT for a batch in which every bin closed, and
      // anchoring on the open ledger's own max would then resurrect
      // the previous batch's already-emitted state
      val carried = stateAt(
        readLedger(spark, s"$ledgerDir/open", ledgerSchema("shard" -> shardType,
          "_ord" -> ordType, "text" -> StringType, "bin" -> LongType), batchId),
        maxBatchId(deltas))
      // assign the NEW docs (batch-local window + the ledger base —
      // the pack arithmetic), then re-attach ord + text
      val assigned = graft.operators.Corpus.packSequencesFrom(
          batch, idCol, cr(shardCol), cr(orderCol), cr(tokensCol), budget,
          Some(base))
        .select(col(idCol), col("bin"))
      val newRows = batch.select(cr(idCol).as(idCol),
          cr(shardCol).as("shard"), cr(orderCol).as("_ord"),
          cr(textCol).cast("string").as("text"),
          cr(tokensCol).cast("long").as("n_tokens"))
        .join(assigned, Seq(idCol))
      val union = carried.select(col("shard"), col("_ord"), col("text"),
          col("bin"))
        .unionByName(newRows.select(col("shard"), col("_ord"), col("text"),
          col("bin")))
      // a shard's OPEN bin = the bin holding its post-batch total;
      // everything below it can never receive another doc
      val openBin = base
        .join(newRows.groupBy(col("shard"))
          .agg(sum(col("n_tokens")).as("_gp_new")), Seq("shard"), "full")
        .select(col("shard"),
          (floor((coalesce(col("_gp_base"), lit(0L)) +
            coalesce(col("_gp_new"), lit(0L))) / budget)).as("_gp_open"))
      // read by both the emitted bins and the open-state ledger
      val flagged = graft.ops.Caches.owned(union.join(openBin, Seq("shard"), "left")
        .withColumn("_gp_closed",
          col("bin") < coalesce(col("_gp_open"), lit(0L))))
      Staged(materializeBins(flagged.filter(col("_gp_closed")), sep), Seq(
        s"$ledgerDir/deltas" -> batch.groupBy(cr(shardCol).as("shard"))
          .agg(sum(cr(tokensCol).cast("long")).as("batch_tokens")),
        s"$ledgerDir/open" -> flagged.filter(!col("_gp_closed"))
          .select(col("shard"), col("_ord"), col("text"), col("bin"))))
    }
  }

  /** Drain the still-open bins after a [[packMaterialize]] query
    * stops: materializes `<ledgerDir>/open`'s latest state (anchored on
    * the deltas ledger's max batch_id — see the state-read note in the
    * stage) with the same grouping the stream emits — the end-of-stream
    * flush.
    */
  def flushOpenBins(
      spark: SparkSession, ledgerDir: String, sep: String = " "): DataFrame = {
    def exists(dir: String): Boolean = {
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
    }
    // a never-written open ledger (stream never ran, or no doc ever
    // stayed open) flushes to an empty frame in the output shape; the
    // shard type is unknowable without data, so it defaults to string
    if (!exists(s"$ledgerDir/open"))
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row],
        StructType(Seq(
          StructField("shard", StringType), StructField("bin", LongType),
          StructField("n_docs", LongType),
          StructField("seq_text", StringType))))
    else {
      val deltas =
        if (exists(s"$ledgerDir/deltas"))
          spark.read.parquet(s"$ledgerDir/deltas")
        else spark.read.parquet(s"$ledgerDir/open").filter(lit(false))
      materializeBins(
        stateAt(spark.read.parquet(s"$ledgerDir/open"), maxBatchId(deltas)),
        sep)
    }
  }

  /** Max `batch_id` present in a ledger frame, as one bounded scalar
    * probe; None when the ledger is empty or the column absent (a
    * never-written ledger's empty fallback drops it).
    */
  private def maxBatchId(ledger: DataFrame): Option[Long] =
    if (!ledger.columns.contains("batch_id")) None
    else {
      // raw-parquet partition-column inference may type batch_id as int
      val r = ledger.agg(max(col("batch_id").cast("long"))).collect()(0)
      if (r.isNullAt(0)) None else Some(r.getLong(0))
    }

  /** Snapshot-state read: the ledger rows written at exactly `at` (a
    * batch whose snapshot may be legitimately empty — then no rows).
    * Used where ledger content is a STATE SNAPSHOT rather than an
    * associative delta.
    */
  private def stateAt(ledger: DataFrame, at: Option[Long]): DataFrame = {
    val withB = ledger.columns.contains("batch_id")
    at match {
      case Some(b) if withB =>
        ledger.filter(col("batch_id") === b).drop("batch_id")
      case _ =>
        (if (withB) ledger.drop("batch_id") else ledger).filter(lit(false))
    }
  }

  /** Streaming ingestion-budget admission — the arrival-order twin of
    * [[graft.operators.Corpus.domainMixture]]: each micro-batch admits
    * a doc iff its domain's running token total (all prior batches +
    * the docs before it in this batch, `orderCol` order) is still
    * under the domain's budget — the boundary doc straddles in (the
    * [[graft.operators.Corpus.tokenQuotaPerGroup]] policy), after
    * which the domain is FULL and admits nothing more. Use it to cap
    * what a continuous crawl ingests per domain; the batch operator
    * remains the right tool when the corpus already exists and a
    * deterministic pseudo-random (md5) admission order is wanted —
    * a stream cannot reorder what has not arrived, so its admission
    * order is arrival order, and epochs (re-reading the corpus) have
    * no streaming meaning. Admitted rows go on with their original
    * columns plus `start_off` (the doc's starting token offset in its
    * domain — the [[pack]] handoff).
    *
    * State = one running ADMITTED-token total per domain, carried as
    * an associative per-batch-delta ledger (bytes per domain; the
    * [[run]] replay rule, like every other stage), which commits
    * through the driver-side running-total cache this stage seeds.
    * Ledgering admitted rather than arrived tokens changes
    * no decision — the two totals agree until the budget boundary is
    * crossed, and both sit at/above budget forever after — and keeps
    * the ledger from growing with rejected-traffic volume. The
    * within-batch window partitions by domain: a micro-batch is
    * bounded by construction (the documented within-batch posture),
    * so a hot domain cannot become an unbounded sort task.
    */
  def domainQuota(
      domainCol: String,
      orderCol: String,
      tokensCol: String,
      budgets: Map[String, Long],
      ledgerDir: String): Stage = {
    require(budgets.nonEmpty, "budgets must be non-empty")
    require(budgets.values.forall(_ > 0), "budgets must be positive")
    import org.apache.spark.sql.expressions.Window
    val cr = graft.ops.Cleanse.colRef _
    // The ledger-base key is renamed away from "domain" BEFORE the
    // join: a batch whose domainCol is literally "domain" (the natural
    // name) would otherwise make `col("domain")` ambiguous at analysis
    // time, and the post-join drop would silently eat the user's
    // payload column of that name.
    val baseSchema = StructType(Seq(
      StructField("_gq_basedom", StringType),
      StructField("_gq_base", LongType)))
    val budgetOf = budgets.foldLeft(lit(null).cast("long")) {
      case (els, (d, b)) =>
        when(col("_gq_dom") === d, lit(b)).otherwise(els)
    }
    val w = Window.partitionBy(col("_gq_dom")).orderBy(cr(orderCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    (batch, batchId) => {
      val spark = batch.sparkSession
      def localBase(sums: Map[String, Long]): DataFrame =
        spark.createDataFrame(
          java.util.Arrays.asList(sums.toSeq.map { case (d, t) => Row(d, t) }: _*),
          baseSchema)
      // Cache hit requires batchId == through + 1, not just > through: a
      // batch-id GAP (e.g. a ledger dir reused under a different
      // checkpoint lineage) means intermediate batches' tokens are
      // missing from the running totals — the parquet ledger is the only
      // truth there. Spark batch ids are contiguous per checkpoint, so
      // the tighter guard costs nothing in steady state.
      val base = Option(quotaCache.get(ledgerDir)) match {
        case Some((through, sums)) if batchId == through + 1 =>
          // steady state: the handful-of-domains running totals come from
          // the driver cache — no parquet listing/read job per batch
          localBase(sums)
        case _ =>
          // cold start or replay: the parquet ledger is the truth; seed
          // the cache with the pre-batch totals (bounded collect — one
          // row per domain)
          val sums = readLedger(spark, ledgerDir,
            ledgerSchema("domain" -> StringType, "batch_tokens" -> LongType), batchId)
            .groupBy(col("domain")).agg(sum(col("batch_tokens")).as("_gq_base"))
            .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
          quotaCache.put(ledgerDir, (batchId - 1, sums))
          localBase(sums)
      }
      val admitted = batch
        .withColumn("_gq_dom", cr(domainCol).cast("string"))
        .filter(col("_gq_dom").isin(budgets.keys.toSeq: _*))
        .withColumn("_gq_tok", coalesce(cr(tokensCol).cast("long"), lit(0L)))
        .withColumn("_gq_prev", coalesce(sum(col("_gq_tok")).over(w), lit(0L)))
        .join(base, col("_gq_dom") === col("_gq_basedom"), "left")
        .withColumn("start_off",
          col("_gq_prev") + coalesce(col("_gq_base"), lit(0L)))
        .filter(col("start_off") < budgetOf)
        .drop("_gq_basedom", "_gq_prev", "_gq_base")
      Staged(admitted, Seq(ledgerDir -> admitted.groupBy(col("_gq_dom").as("domain"))
        .agg(sum(col("_gq_tok")).as("batch_tokens"))), Seq("_gq_dom", "_gq_tok"))
    }
  }

  /** CRAWL STREAM → TRAINING BINS, one deployment — the engine's full
    * production ingest composed end-to-end per micro-batch of raw
    * pages: the [[curationHead]] (C4 → full Gopher → exact-dedup
    * admission → MinHash near-dup admission, each stateful stage with
    * its own replay-safe ledger) → optional n-gram [[decontamination]]
    * → per-domain ingestion-budget admission ([[domainQuota]] over the
    * CLEANED text's token count, third ledger) →
    * [[graft.operators.Corpus.trainingOrder]] placement — so `onBins`
    * receives, for every admitted page,
    * `(idCol, clean, domain, n_tokens, bin, off, ord_key, shard)`: the
    * curated text plus its exact training-bin coordinates and the
    * seeded global order key a trainer reads by. Admission order is
    * arrival order (the streaming posture throughout); every ledger is
    * written after `onBins` returns ([[run]]), so a replayed batch
    * reproduces its own decisions.
    *
    * Scale: pass PERSISTED `corpusHashes`/`corpusSigs` (and
    * `benchGrams` if decontaminating) — the persistable units; the
    * quota/placement tail adds only micro-batch-sized work (one
    * bounded per-domain window + narrow projections) on top of the
    * measured chain throughput.
    */
  def ingestToBins(
      pages: DataFrame,
      corpusHashes: DataFrame,
      corpusSigs: DataFrame,
      textCol: String,
      idCol: String,
      domainCol: String,
      budgets: Map[String, Long],
      binBudget: Long,
      nShards: Int,
      ledgerBase: String,
      onBins: (DataFrame, Long) => Unit,
      benchGrams: Option[DataFrame] = None,
      orderSalt: String = "order"): DataStreamWriter[Row] = {
    val quota = domainQuota(domainCol, idCol, "_gi_tok", budgets, s"$ledgerBase/quota")
    val counted: Stage = (in, batchId) => quota(
      in.withColumn("_gi_tok",
        graft.functions.TextFunctions.tokenCount(col("clean")).cast("long")),
      batchId)
    val placement: Stage = (in, _) => Staged(graft.operators.Corpus.trainingOrder(
      in.withColumn("domain", graft.ops.Cleanse.colRef(domainCol).cast("string"))
        .withColumnRenamed("_gi_tok", "n_tokens")
        .drop((if (domainCol == "domain") Nil else Seq(domainCol)): _*),
      idCol, binBudget, nShards, orderSalt))
    val stages = curationHead(corpusHashes, corpusSigs, textCol, idCol,
      s"$ledgerBase/exact", s"$ledgerBase/near", carryCols = Seq(domainCol)) ++
      benchGrams.map(decontamination(_, "clean", idCol)) ++ Seq(counted, placement)
    run(pages, onBins)(stages: _*)
  }

  /** `(shard, bin, n_docs, seq_text)` from `(shard, _ord, text, bin)`
    * rows — the [[graft.operators.Corpus.packMaterialize]] output
    * shape, shared by per-batch emission and the end-of-stream flush.
    */
  private def materializeBins(rows: DataFrame, sep: String): DataFrame =
    rows.groupBy(col("shard"), col("bin"))
      .agg(
        count(lit(1)).as("n_docs"),
        array_join(
          transform(
            array_sort(collect_list(struct(col("_ord"), col("text")))),
            x => x.getField("text")),
          sep).as("seq_text"))
}
