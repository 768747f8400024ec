package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.streaming.Streams.{Event, Session}

class StreamsSpec extends SparkSpec {
  import spark.implicits._

  private def ev(id: Long, t: String, user: Long, typ: String = "click", v: Double = 1.0) =
    Event(id, Timestamp.valueOf(t), user, typ, v, "{}")

  test("hourlyCounts over a memory stream matches the batch aggregation") {
    implicit val sq = spark.sqlContext
    val input = MemoryStream[Event]
    val events = Seq(
      ev(1, "2024-01-01 10:05:00", 1), ev(2, "2024-01-01 10:45:00", 2),
      ev(3, "2024-01-01 11:10:00", 1, "view"), ev(4, "2024-01-01 12:30:00", 3),
      // late watermark-advancing event
      ev(5, "2024-01-01 15:00:00", 1))
    val agg = Streams.hourlyCounts(input.toDF(), watermark = "1 hour")
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("hourly_out").start()
    try {
      input.addData(events: _*)
      q.processAllAvailable()
      input.addData(ev(6, "2024-01-01 23:00:00", 9)) // push watermark far ahead
      q.processAllAvailable()
      val got = spark.table("hourly_out")
        .select("hour", "event_type", "n")
        .collect().map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2)))
        .toSet
      assert(got.contains(("2024-01-01 10:00:00.0", "click", 2L)))
      assert(got.contains(("2024-01-01 11:00:00.0", "view", 1L)))
      assert(got.contains(("2024-01-01 12:00:00.0", "click", 1L)))
    } finally q.stop()
  }

  test("stateful sessionize closes sessions on gap within a batch") {
    implicit val sq = spark.sqlContext
    val input = MemoryStream[Event]
    // NoTimeout in-test: ProcessingTimeTimeout makes the runner schedule
    // continuous empty micro-batches (busy loop) and processAllAvailable
    // never quiesces; the in-batch gap-closing path is what's asserted.
    val sessions = Streams.sessionize(input.toDS(), gapMs = 30 * 60 * 1000L,
      timeout = org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout)
    val q = sessions.writeStream.outputMode("append")
      .format("memory").queryName("sessions_out").start()
    try {
      // user 1: two events 10 min apart (one session), then a 2h gap
      // and another event -> first session must close
      input.addData(
        ev(1, "2024-01-01 10:00:00", 1, v = 2.0),
        ev(2, "2024-01-01 10:10:00", 1, v = 3.0),
        ev(3, "2024-01-01 13:00:00", 1, v = 5.0))
      q.processAllAvailable()
      val got = spark.table("sessions_out").as[Session].collect()
      assert(got.length == 1) // the closed first session
      assert(got(0).n_events == 2)
      assert(got(0).total_value == 5.0)
      assert(got(0).session_start == Timestamp.valueOf("2024-01-01 10:00:00"))
      assert(got(0).session_end == Timestamp.valueOf("2024-01-01 10:10:00"))
    } finally q.stop()
  }

  test("stale late event becomes its own closed session, not a bogus merge") {
    implicit val sq = spark.sqlContext
    val input = MemoryStream[Event]
    val sessions = Streams.sessionize(input.toDS(), gapMs = 30 * 60 * 1000L,
      timeout = org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout)
    val q = sessions.writeStream.outputMode("append")
      .format("memory").queryName("sessions_late").start()
    try {
      input.addData(ev(1, "2024-01-01 12:00:00", 1, v = 1.0))
      q.processAllAvailable()
      // hours-late event: must NOT merge into the 12:00 session
      input.addData(ev(2, "2024-01-01 09:00:00", 1, v = 2.0))
      q.processAllAvailable()
      val got = spark.table("sessions_late").as[Session].collect()
      assert(got.length == 1)
      assert(got(0).session_start == Timestamp.valueOf("2024-01-01 09:00:00"))
      assert(got(0).n_events == 1)
    } finally q.stop()
  }

  test("enrich resolves same-named keys on both sides") {
    val ev = Seq((1L, "click"), (2L, "view")).toDF("user_id", "event_type")
    val dim = Seq((1L, "pro")).toDF("user_id", "tier")
    val out = Streams.enrich(ev, dim, "user_id", "user_id")
    assert(out.count() == 2)
    assert(out.filter(col("tier") === "pro").count() == 1)
  }

  test("event-time timeout closes idle sessions once the watermark passes") {
    implicit val sq = spark.sqlContext
    val input = MemoryStream[Event]
    val sessions = Streams.sessionize(
      input.toDS().withWatermark("ts", "0 seconds"),
      gapMs = 30 * 60 * 1000L,
      timeout = org.apache.spark.sql.streaming.GroupStateTimeout.EventTimeTimeout)
    val q = sessions.writeStream.outputMode("append")
      .format("memory").queryName("sessions_et").start()
    try {
      input.addData(
        ev(1, "2024-01-01 10:00:00", 1, v = 2.0),
        ev(2, "2024-01-01 10:10:00", 1, v = 3.0))
      q.processAllAvailable()
      assert(spark.table("sessions_et").isEmpty) // session still open
      // another user's late-day event advances the watermark past
      // 10:10 + 30min -> user 1's idle session must time out and emit
      input.addData(ev(3, "2024-01-01 13:00:00", 2, v = 1.0))
      q.processAllAvailable()
      val got = spark.table("sessions_et").as[Session].collect()
      assert(got.length == 1)
      assert(got(0).user_id == 1L && got(0).n_events == 2)
      assert(got(0).session_end == Timestamp.valueOf("2024-01-01 10:10:00"))
    } finally q.stop()
  }

  test("session_window runs in append-mode STREAMING with a watermark") {
    implicit val sq = spark.sqlContext
    val input = MemoryStream[Event]
    val out = Streams.sessionWindowAgg(
      input.toDS().toDF().withWatermark("ts", "0 seconds"), "30 minutes")
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("sw_stream").start()
    try {
      input.addData(
        ev(1, "2024-01-01 10:00:00", 1, v = 2.0),
        ev(2, "2024-01-01 10:10:00", 1, v = 3.0))
      q.processAllAvailable()
      // advance the watermark past the session's close
      input.addData(ev(3, "2024-01-01 13:00:00", 2, v = 1.0))
      q.processAllAvailable()
      val rows = spark.table("sw_stream")
        .orderBy("user_id", "session_start").collect()
      assert(rows.length == 1) // user 1's closed session emitted
      assert(rows(0).getLong(0) == 1L && rows(0).getLong(3) == 2L)
      assert(rows(0).getTimestamp(2) == Timestamp.valueOf("2024-01-01 10:40:00"))
    } finally q.stop()
  }

  test("built-in session_window yields the same sessions (end = last + gap)") {
    val df = Seq(
      (1L, Timestamp.valueOf("2024-01-01 10:00:00"), 1L, "click", 2.0, "{}"),
      (2L, Timestamp.valueOf("2024-01-01 10:10:00"), 1L, "click", 3.0, "{}"),
      (3L, Timestamp.valueOf("2024-01-01 13:00:00"), 1L, "click", 5.0, "{}"),
      (4L, Timestamp.valueOf("2024-01-01 09:00:00"), 2L, "view", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val out = Streams.sessionWindowAgg(df, "30 minutes").collect()
    assert(out.length == 3)
    val u1 = out.filter(_.getLong(0) == 1L)
    assert(u1(0).getLong(3) == 2L) // first session: 2 events
    assert(u1(0).getTimestamp(2) == Timestamp.valueOf("2024-01-01 10:40:00"))
    assert(u1(1).getTimestamp(1) == Timestamp.valueOf("2024-01-01 13:00:00"))
  }

  test("batch sessionize twin agrees with hand-computed sessions") {
    val df = Seq(
      (1L, Timestamp.valueOf("2024-01-01 10:00:00"), 1L, "click", 2.0, "{}"),
      (2L, Timestamp.valueOf("2024-01-01 10:10:00"), 1L, "click", 3.0, "{}"),
      (3L, Timestamp.valueOf("2024-01-01 13:00:00"), 1L, "click", 5.0, "{}"),
      (4L, Timestamp.valueOf("2024-01-01 09:00:00"), 2L, "view", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val out = Streams.sessionizeBatch(df, gapMinutes = 30).collect()
    assert(out.length == 3)
    val u1 = out.filter(_.getLong(0) == 1L)
    assert(u1.map(_.getLong(4)).toSeq == Seq(2L, 1L)) // n_events per session
    assert(u1(0).getDouble(5) == 5.0)
  }

  test("file-source stream over the driver's events parquet (layout probed)") {
    // file-stream source needs a DIRECTORY; stage the single parquet
    // file into one (read-only testdata stays untouched)
    val dir = java.nio.file.Files.createTempDirectory("graft_stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(sf() + "/events.parquet"),
      dir.resolve("events.parquet"))
    val stream = Streams.readEvents(spark, dir.toString)
    assert(stream.isStreaming)
    val agg = Streams.hourlyCounts(stream, watermark = "0 seconds")
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("file_hourly").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("file_hourly")
        .agg(sum(col("n"))).collect()(0).getLong(0)
      val batch = graft.queries.Tables.events(spark, sf()).count()
      assert(streamed == batch) // every event lands in exactly one window
    } finally q.stop()
  }

  test("streaming dedup drops in-watermark duplicate keys") {
    implicit val sq = spark.sqlContext
    val input = MemoryStream[Event]
    val deduped = Streams.dedupStream(input.toDF(), Seq("event_id"), "1 hour")
    val q = deduped.writeStream.outputMode("append")
      .format("memory").queryName("dedup_out").start()
    try {
      input.addData(
        ev(1, "2024-01-01 10:00:00", 1),
        ev(1, "2024-01-01 10:00:30", 1), // duplicate id inside watermark
        ev(2, "2024-01-01 10:01:00", 2))
      q.processAllAvailable()
      input.addData(ev(1, "2024-01-01 10:02:00", 1)) // still within watermark
      q.processAllAvailable()
      val ids = spark.table("dedup_out").select("event_id")
        .collect().map(_.getLong(0)).toSeq.sorted
      assert(ids == Seq(1L, 2L))
    } finally q.stop()
  }

  test("stream-static broadcast enrichment joins each micro-batch") {
    implicit val sq = spark.sqlContext
    val input = MemoryStream[Event]
    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("uid", "tier")
    val enriched = Streams.enrich(input.toDF(), dim, "user_id", "uid")
      .select(col("event_id"), col("user_id"), col("tier"))
    val q = enriched.writeStream.outputMode("append")
      .format("memory").queryName("enriched_out").start()
    try {
      input.addData(ev(1, "2024-01-01 10:00:00", 1), ev(2, "2024-01-01 10:01:00", 9))
      q.processAllAvailable()
      val got = spark.table("enriched_out").collect()
        .map(r => r.getLong(0) -> Option(r.getString(2))).toMap
      assert(got(1L).contains("gold"))
      assert(got(2L).isEmpty) // left join keeps unmatched events
    } finally q.stop()
  }

  test("stream-stream interval join matches within the window only") {
    implicit val sq = spark.sqlContext
    val clicks = MemoryStream[Event]
    val buys = MemoryStream[Event]
    val joined = Streams.intervalJoin(
      buys.toDF().select(col("event_id").as("buy_id"), col("ts"), col("user_id")),
      clicks.toDF().select(col("event_id").as("click_id"), col("ts"), col("user_id")),
      key = "user_id", window = "30 MINUTES")
      .select(col("buy_id"), col("click_id"))
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("ssjoin_out").start()
    try {
      clicks.addData(
        ev(10, "2024-01-01 10:00:00", 1),
        ev(11, "2024-01-01 08:00:00", 1), // too old for the buy below
        ev(12, "2024-01-01 10:05:00", 2))
      buys.addData(ev(20, "2024-01-01 10:20:00", 1))
      q.processAllAvailable()
      val got = spark.table("ssjoin_out").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == Set((20L, 10L))) // same user, within 30 min
    } finally q.stop()
  }

  test("foreachBatch sink hands batches to batch-API handlers") {
    implicit val sq = spark.sqlContext
    val input = MemoryStream[Event]
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val q = Streams.perBatch(input.toDF())(identity)(
      (batch, id) => { batch.count(); seen.add(id) })
      .start()
    try {
      input.addData(ev(1, "2024-01-01 10:00:00", 1))
      q.processAllAvailable()
      input.addData(ev(2, "2024-01-01 10:01:00", 1))
      q.processAllAvailable()
      assert(seen.size() >= 2)
    } finally q.stop()
  }

  test("sessionize to snapshot versions (the StreamBench wiring)") {
    // the §2.10 throughput micro-bench path end-to-end on a memory
    // stream: sessionize → foreachBatch → one immutable Snapshots
    // version per non-empty micro-batch, _CURRENT pointing at the last
    implicit val sq = spark.sqlContext
    val warehouse = java.nio.file.Files
      .createTempDirectory("graft_sess_snap").toString
    val input = MemoryStream[Event]
    // NoTimeout for the same quiescence reason as the first sessionize
    // test; StreamBench runs the timeout-armed variant for throughput
    val q = Streams.perBatch(
      Streams.sessionize(input.toDS(), gapMs = 60000L,
        timeout = org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout).toDF())(identity)(
      (batch, _) =>
        if (!batch.isEmpty)
          graft.sink.Snapshots.publish(batch.sparkSession, warehouse, "sessions", batch))
      .start()
    try {
      input.addData(ev(1, "2024-01-01 10:00:00", 7), ev(2, "2024-01-01 10:00:30", 7))
      q.processAllAvailable() // session open — nothing closed yet
      input.addData(ev(3, "2024-01-01 11:00:00", 7)) // > gap: closes it
      q.processAllAvailable()
      val vs = graft.sink.Snapshots.versions(spark, warehouse, "sessions")
      assert(vs.nonEmpty)
      val sessions = graft.sink.Snapshots.version(
        spark, warehouse, "sessions", vs.max)
      val r = sessions.collect()
      assert(r.length == 1 && r.head.getAs[Long]("n_events") == 2L)
    } finally q.stop()
  }

  test("long-running publishBatch stream with retain holds a bounded version history") {
    implicit val sq = spark.sqlContext
    val warehouse = java.nio.file.Files
      .createTempDirectory("graft_retain_wh").toString
    val input = MemoryStream[Event]
    val q = Streams.perBatch(input.toDF())(identity)(
      (batch, id) => {
        graft.sink.Snapshots.publishBatch(
          batch.sparkSession, warehouse, "evcap", batch, id, retain = 2)
        ()
      }).start()
    try {
      (1 to 8).foreach { i =>
        input.addData(ev(i, f"2024-01-01 10:00:$i%02d", i))
        q.processAllAvailable()
      }
    } finally q.stop()
    // 8 micro-batches published, but the table never holds more than
    // retain + the protected set; the head keeps moving
    val vs = graft.sink.Snapshots.versions(spark, warehouse, "evcap")
    assert(vs.size <= 3, s"unbounded history: $vs")
    assert(vs.max == 8)
    assert(graft.sink.Snapshots.currentVersion(spark, warehouse, "evcap") == 8)
    assert(graft.sink.Snapshots.current(spark, warehouse, "evcap").count() == 1)
  }

  test("restart from checkpoint: replayed batch publishes nothing, snapshot byte-identical") {
    // the end-to-end exactly-once evidence: run a checkpointed
    // foreachBatch → publishBatch query, stop it, FORCE the next start
    // to replay the last micro-batch (delete its commit marker — the
    // crash-after-sink-before-commit window), restart, and assert one
    // version per batch id with the replayed version untouched
    implicit val sq = spark.sqlContext
    val warehouse = java.nio.file.Files
      .createTempDirectory("graft_restart_wh").toString
    val cp = java.nio.file.Files
      .createTempDirectory("graft_restart_cp").toString + "/q"
    val input = MemoryStream[Event]
    def start() = Streams.perBatch(input.toDF())(identity)(
      (batch, id) => {
        graft.sink.Snapshots.publishBatch(
          batch.sparkSession, warehouse, "events", batch, id)
        ()
      }).option("checkpointLocation", cp).start()
    val q1 = start()
    try {
      input.addData(ev(1, "2024-01-01 10:00:00", 1))
      q1.processAllAvailable()
      input.addData(ev(2, "2024-01-01 10:01:00", 2))
      q1.processAllAvailable()
    } finally {
      // the "kill": stop after batch 1's publish + commit; await full
      // termination so the checkpoint path deregisters before restart
      // (Spark's concurrent-checkpoint guard is keyed on active runs)
      q1.stop()
      q1.awaitTermination()
    }
    val vsBefore = graft.sink.Snapshots.versions(spark, warehouse, "events")
    val headBefore = graft.sink.Snapshots.currentVersion(spark, warehouse, "events")
    val manifestBefore = graft.sink.Snapshots.manifest(
      spark, warehouse, "events", headBefore)
    // delete the newest commit marker: on restart the engine re-runs
    // that micro-batch from the recorded offsets — the replay window
    val commits = new java.io.File(cp, "commits")
    val lastCommit = commits.listFiles()
      .filter(_.getName.forall(_.isDigit)).maxBy(_.getName.toInt)
    assert(lastCommit.delete())
    // also drop the Hadoop local-FS checksum shadow, else the replay's
    // re-write of the commit marker collides with the stale .crc and
    // surfaces as a bogus "multiple queries on one checkpoint" failure
    new java.io.File(commits, "." + lastCommit.getName + ".crc").delete()
    val q2 = start()
    try {
      q2.processAllAvailable() // replays the uncommitted batch
      assert(graft.sink.Snapshots.versions(spark, warehouse, "events") == vsBefore,
        "replayed batch must not publish a new version")
      assert(graft.sink.Snapshots.manifest(spark, warehouse, "events", headBefore)
        == manifestBefore, "replayed batch must leave the snapshot byte-identical")
      // and the resumed query keeps publishing fresh batches normally
      input.addData(ev(3, "2024-01-01 10:02:00", 3))
      q2.processAllAvailable()
      val vsAfter = graft.sink.Snapshots.versions(spark, warehouse, "events")
      assert(vsAfter.size == vsBefore.size + 1)
      assert(graft.sink.Snapshots.current(spark, warehouse, "events")
        .collect().map(_.getAs[Long]("event_id")).toSeq == Seq(3L))
    } finally q2.stop()
  }

  test("streaming CDC: foreachBatch upserts each micro-batch into a base table") {
    implicit val sq = spark.sqlContext
    import java.nio.file.Files
    val baseDir = Files.createTempDirectory("graft_cdc").toString + "/base"
    Seq((1L, "a", 0L), (2L, "b", 0L)).toDF("k", "v", "ver")
      .write.parquet(baseDir)
    val input = MemoryStream[(Long, String, Long)]
    val q = Streams.perBatch(input.toDS().toDF("k", "v", "ver"))(identity)(
      (batch, _) => {
        val base = batch.sparkSession.read.parquet(baseDir)
        val merged = graft.operators.Upsert.merge(base, batch, Seq("k"), "ver")
        // stage+swap so the read path never sees a half-written base
        val tmp = baseDir + ".tmp"
        merged.write.mode("overwrite").parquet(tmp)
        val fs = org.apache.hadoop.fs.FileSystem.get(
          new java.net.URI(baseDir),
          batch.sparkSession.sparkContext.hadoopConfiguration)
        fs.delete(new org.apache.hadoop.fs.Path(baseDir), true)
        fs.rename(new org.apache.hadoop.fs.Path(tmp),
          new org.apache.hadoop.fs.Path(baseDir))
      }).start()
    try {
      input.addData((2L, "B2", 1L), (3L, "c", 1L))
      q.processAllAvailable()
      val got = spark.read.parquet(baseDir).orderBy("k")
        .collect().map(r => (r.getLong(0), r.getString(1)))
      assert(got.toSeq == Seq((1L, "a"), (2L, "B2"), (3L, "c")))
    } finally q.stop()
  }

  test("sliding windows emit overlapping buckets") {
    implicit val sq = spark.sqlContext
    val input = MemoryStream[Event]
    val agg = Streams.slidingUserActivity(input.toDF(), watermark = "1 hour")
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("sliding_out").start()
    try {
      input.addData(ev(1, "2024-01-01 10:15:00", 1))
      q.processAllAvailable()
      input.addData(ev(2, "2024-01-01 20:00:00", 2))
      q.processAllAvailable()
      // a 30-min window sliding by 10 min covers each event 3 times
      val got = spark.table("sliding_out").filter(col("user_id") === 1)
      assert(got.count() == 3)
    } finally q.stop()
  }

  test("LM micro-batch scoring equals the batch operator over the same docs") {
    implicit val sq = spark.sqlContext
    val ref = Seq((10L, "a b a b"), (11L, "a c"), (12L, "b c a d"))
      .toDF("doc_id", "text")
    val model = graft.operators.Corpus.ngramLmModel(ref, "text", "doc_id")
    val docs = Seq(
      (0L, "a b c"), (1L, "z z"), (2L, "a"), // batch 1 (doc 2: no bigrams)
      (3L, "c a d b"), (4L, "d d d")) // batch 2
    val input = MemoryStream[(Long, String)]
    val acc = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long, Double)]
    val writer = Streams.perBatch(input.toDF().toDF("doc_id", "text"))(
      graft.operators.Corpus.scoreWithLmModel(_, model, "text", "doc_id"))(
      (scored, _) => acc.synchronized {
        acc ++= scored.collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(5)))
      })
    val q = writer.start()
    try {
      input.addData(docs.take(3): _*)
      q.processAllAvailable()
      input.addData(docs.drop(3): _*)
      q.processAllAvailable()
    } finally q.stop()
    val batch = graft.operators.Corpus.ngramLmScore(
      ref, docs.toDF("doc_id", "text"), "text", "doc_id")
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(5)))
    // every batch-mode row appears once across the micro-batches, with
    // identical integer counts AND bit-identical perplexity (same plan)
    assert(acc.sortBy(_._1).toSeq == batch.sortBy(_._1).toSeq)
    assert(!acc.exists(_._1 == 2L)) // 1-token doc scores in neither mode
  }

  test("trigram LM micro-batch scoring equals the batch operator") {
    implicit val sq = spark.sqlContext
    val ref = Seq((10L, "a b a b a"), (11L, "b c"), (12L, "b c a d"))
      .toDF("doc_id", "text")
    val model = graft.operators.Corpus.ngramBackoffModel(ref, "text", "doc_id", n = 3)
    val docs = Seq(
      (0L, "a b a c"), (1L, "c b c"), (2L, "a b"), // batch 1 (doc 2: no trigram)
      (3L, "x y z"), (4L, "b c a d b")) // batch 2
    val input = MemoryStream[(Long, String)]
    val acc = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Long, Long, Long, Long, Double)]
    val writer = Streams.perBatch(input.toDF().toDF("doc_id", "text"))(
      graft.operators.Corpus.scoreWithLmNModel(_, model, "text", "doc_id"))(
      (scored, _) => acc.synchronized {
        acc ++= scored.collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
            r.getLong(4), r.getLong(5), r.getDouble(6)))
      })
    val q = writer.start()
    try {
      input.addData(docs.take(3): _*)
      q.processAllAvailable()
      input.addData(docs.drop(3): _*)
      q.processAllAvailable()
    } finally q.stop()
    val batch = graft.operators.Corpus.ngramBackoffScore(
      ref, docs.toDF("doc_id", "text"), "text", "doc_id", n = 3)
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5), r.getDouble(6)))
    assert(acc.sortBy(_._1).toSeq == batch.sortBy(_._1).toSeq)
    assert(!acc.exists(_._1 == 2L)) // 2-token doc scores in neither mode
  }

  test("streaming LM scoring from a LOADED snapshot model equals in-session") {
    // the artifact posture's streaming payoff: a production scorer
    // loads the published LM instead of retraining per deployment —
    // and the loaded model (parquet scans) must score micro-batches
    // identically to the just-trained one (local frames)
    implicit val sq = spark.sqlContext
    val ref = Seq((10L, "a b a b a"), (11L, "b c"), (12L, "b c a d"))
      .toDF("doc_id", "text")
    val model = graft.operators.Corpus.ngramBackoffModel(ref, "text", "doc_id", n = 2)
    val warehouse = java.nio.file.Files
      .createTempDirectory("graft_lmn_stream_snap").toString
    graft.operators.Corpus.saveLmNModel(spark, warehouse, "lm2", model)
    val loaded = graft.operators.Corpus.loadLmNModel(spark, warehouse, "lm2")
    def run(m: graft.operators.Corpus.LmNModel): Seq[(Long, Double)] = {
      val input = MemoryStream[(Long, String)]
      val acc = scala.collection.mutable.ArrayBuffer.empty[(Long, Double)]
      val q = Streams.perBatch(input.toDF().toDF("doc_id", "text"))(
        graft.operators.Corpus.scoreWithLmNModel(_, m, "text", "doc_id"))(
        (scored, _) => acc.synchronized {
          acc ++= scored.select("id", "avg_neg_logscore").collect()
            .map(r => (r.getLong(0), r.getDouble(1)))
        }).start()
      try {
        input.addData((0L, "a b a c"), (1L, "c b c"))
        q.processAllAvailable()
      } finally q.stop()
      acc.sortBy(_._1).toSeq
    }
    assert(run(loaded) == run(model))
  }

  test("DSIR micro-batch scoring equals the batch operator over the same docs") {
    implicit val sq = spark.sqlContext
    val raw = Seq(
      (10L, "spark shuffles data across executors"),
      (11L, "medical notes about patient care"),
      (12L, "web crawl boilerplate text here"))
      .toDF("doc_id", "text")
    val target = Seq((100L, "patient care and medical treatment notes"))
      .toDF("doc_id", "text")
    val model = graft.operators.Corpus.dsirModel(raw, target, "text", "doc_id", hexChars = 2)
    val docs = Seq(
      (0L, "medical notes about patient treatment"), (1L, "spark data"), // batch 1
      (2L, ""), (3L, "crawl text with patient words")) // batch 2 (doc 2 featureless)
    val input = MemoryStream[(Long, String)]
    val acc = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Long, Long, Long, Double)]
    val writer = Streams.perBatch(input.toDF().toDF("doc_id", "text"))(
      graft.operators.Corpus.scoreWithDsirModel(_, model, "text", "doc_id"))(
      (scored, _) => acc.synchronized {
        acc ++= scored.collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
            r.getLong(4), r.getDouble(5)))
      })
    val q = writer.start()
    try {
      input.addData(docs.take(2): _*)
      q.processAllAvailable()
      input.addData(docs.drop(2): _*)
      q.processAllAvailable()
    } finally q.stop()
    val batch = graft.operators.Corpus.scoreWithDsirModel(
      docs.toDF("doc_id", "text"), model, "text", "doc_id")
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getDouble(5)))
    // identical masses AND bit-identical log weights (same plan); the
    // featureless doc is emitted with zeros in both modes
    assert(acc.sortBy(_._1).toSeq == batch.sortBy(_._1).toSeq)
    assert(acc.exists(t => t._1 == 2L && t._2 == 0L))
  }

  test("langid micro-batch identification from a LOADED model equals the batch operator") {
    implicit val sq = spark.sqlContext
    val wh = java.nio.file.Files.createTempDirectory("graft_slid_wh").toString
    val train = (0L to 17L).map { i =>
      val l = (i % 3).toInt
      val t = l match {
        case 0 => "alpha arbor anchor amber apex argon"
        case 1 => "birch basalt beacon bramble bisque borax"
        case _ => "cedar cobalt cairn crimson cumin cypress"
      }
      (i, t, Seq("aa", "bb", "cc")(l))
    }.toDF("doc_id", "text", "lang")
    val trained = graft.operators.Corpus.trainLangId(
      train, "text", "lang", "doc_id", iters = 10)
    graft.operators.Corpus.saveLangIdModel(spark, wh, "slid", trained)
    val model = graft.operators.Corpus.loadLangIdModel(spark, wh, "slid")
    val docs = Seq((10L, "apex anchor alpha"), (11L, "bisque beacon borax"),
      (12L, "cypress cairn cedar"), (13L, ""))
    val input = MemoryStream[(Long, String)]
    val acc = scala.collection.mutable.ArrayBuffer.empty[(Long, String, Double)]
    val q = Streams.perBatch(input.toDF().toDF("doc_id", "text"))(
      graft.operators.Corpus.langIdWith(_, model, "text", "doc_id"))(
      (ident, _) => acc.synchronized {
        acc ++= ident.collect().map(r =>
          (r.getLong(0), r.getString(1), r.getDouble(2)))
      }).start()
    try {
      input.addData(docs: _*)
      q.processAllAvailable()
    } finally q.stop()
    val batch = graft.operators.Corpus.langIdWith(
      docs.toDF("doc_id", "text"), model, "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    assert(acc.sortBy(_._1).toSeq == batch.sortBy(_._1).toSeq)
    assert(acc.find(_._1 == 10L).get._2 == "aa")
    assert(acc.find(_._1 == 11L).get._2 == "bb")
    assert(acc.find(_._1 == 12L).get._2 == "cc")
    assert(acc.exists(_._1 == 13L)) // featureless doc still routed
  }

  test("model-driven CCNet micro-batch bucketing equals the batch operator per batch") {
    // the q163 seam deployed online: LOADED langid + LOADED reference
    // LM + per-language terciles, batch-local by design (each
    // micro-batch routes its own pages head/middle/tail)
    implicit val sq = spark.sqlContext
    val wh = java.nio.file.Files.createTempDirectory("graft_sccnet_wh").toString
    val langs = Seq("aa", "bb", "cc")
    val vocab = Map(
      "aa" -> Seq("alpha", "arbor", "anchor", "amber", "apex", "argon"),
      "bb" -> Seq("birch", "basalt", "beacon", "bramble", "bisque", "borax"),
      "cc" -> Seq("cedar", "cobalt", "cairn", "crimson", "cumin", "cypress"))
    def textOf(i: Long): String = {
      val ws = vocab(langs((i % 3).toInt))
      (0 until 8).map(j => ws(((i * 7 + j * 3) % ws.size).toInt)).mkString(" ")
    }
    val train = (0L until 30L).map(i => (i, textOf(i), langs((i % 3).toInt)))
      .toDF("doc_id", "text", "lang")
    graft.operators.Corpus.saveLangIdModel(spark, wh, "lid",
      graft.operators.Corpus.trainLangId(train, "text", "lang", "doc_id", iters = 4))
    graft.operators.Corpus.saveLmNModel(spark, wh, "reflm",
      graft.operators.Corpus.ngramBackoffModel(train, "text", "doc_id", n = 3))
    val lid = graft.operators.Corpus.loadLangIdModel(spark, wh, "lid")
    val lm = graft.operators.Corpus.loadLmNModel(spark, wh, "reflm")
    val b0 = (100L until 127L).map(i => (i, textOf(i)))
    val b1 = (200L until 218L).map(i => (i, textOf(i)))
    val input = MemoryStream[(Long, String)]
    val acc = scala.collection.mutable.Map.empty[Long, Seq[(Long, String, String)]]
    val q = Streams.perBatch(input.toDF().toDF("doc_id", "text"))(
      graft.operators.Corpus.ccnetBucketsWith(_, lm, lid, "text", "doc_id"))(
      (bucketed, bid) => acc.synchronized {
        acc(bid) = bucketed.select(col("id"), col("lang"), col("bucket"))
          .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
      }).start()
    try {
      input.addData(b0: _*)
      q.processAllAvailable()
      input.addData(b1: _*)
      q.processAllAvailable()
    } finally q.stop()
    def batchWant(rows: Seq[(Long, String)]) =
      graft.operators.Corpus.ccnetBucketsWith(
          rows.toDF("doc_id", "text"), lm, lid, "text", "doc_id")
        .select(col("id"), col("lang"), col("bucket"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
    val w0 = batchWant(b0); val w1 = batchWant(b1)
    graft.ops.Caches.release()
    assert(acc(0L).sortBy(_._1) == w0.sortBy(_._1))
    assert(acc(1L).sortBy(_._1) == w1.sortBy(_._1))
    // terciles are batch-local: batch 1 (18 docs, 6/lang) still splits
    // every language into head/middle/tail on its own pages
    val byLang1 = acc(1L).groupBy(_._2).view.mapValues(_.map(_._3).toSet)
    langs.foreach(l => assert(byLang1(l) == Set("head", "middle", "tail")))
    // the registry drains per micro-batch (exactNtile owns a cache)
    assert(graft.ops.Caches.ownedCount == 0)
  }

  test("classifier micro-batch scoring equals the batch operator") {
    implicit val sq = spark.sqlContext
    val pos = (0L to 9L).map(i => (i, s"informative careful article number $i"))
      .toDF("doc_id", "text")
    val neg = (100L to 109L).map(i => (i, s"casino spam winner offer number $i"))
      .toDF("doc_id", "text")
    val model = graft.operators.Corpus.trainQualityClassifier(
      pos, neg, "text", "doc_id", iters = 10)
    val docs = Seq((0L, "a careful informative article"),
      (1L, "casino spam offer"), (2L, ""))
    val input = MemoryStream[(Long, String)]
    val acc = scala.collection.mutable.ArrayBuffer.empty[(Long, Double, Boolean)]
    val writer = Streams.perBatch(input.toDF().toDF("doc_id", "text"))(
      graft.operators.Corpus.scoreWithClassifier(_, model, "text", "doc_id"))(
      (scored, _) => acc.synchronized {
        acc ++= scored.collect().map(r =>
          (r.getLong(0), r.getDouble(1), r.getBoolean(2)))
      })
    val q = writer.start()
    try {
      input.addData(docs: _*)
      q.processAllAvailable()
    } finally q.stop()
    val batch = graft.operators.Corpus.scoreWithClassifier(
      docs.toDF("doc_id", "text"), model, "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getBoolean(2)))
    assert(acc.sortBy(_._1).toSeq == batch.sortBy(_._1).toSeq)
    assert(acc.find(_._1 == 0L).get._3 == true)
    assert(acc.find(_._1 == 1L).get._3 == false)
  }

  test("bpeEncode composes inside readStream (stateless narrow op)") {
    implicit val sq = spark.sqlContext
    val ref = Seq((0L, "low low low low lower lowest")).toDF("doc_id", "text")
    val merges = graft.operators.Corpus.bpeTrain(ref, "text", numMerges = 6)
    val input = MemoryStream[(Long, String)]
    val enc = graft.operators.Corpus.bpeEncode(
      input.toDF().toDF("doc_id", "text"), "text", merges)
    val q = enc.writeStream.outputMode("append")
      .format("memory").queryName("bpe_out").start()
    try {
      input.addData((1L, "low lower"), (2L, ""))
      q.processAllAvailable()
      val got = spark.table("bpe_out")
        .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
      val batch = graft.operators.Corpus.bpeEncode(
        Seq((1L, "low lower"), (2L, "")).toDF("doc_id", "text"), "text", merges)
        .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
      assert(got == batch)
      assert(got(2L) == 0L)
    } finally q.stop()
  }

  test("incremental dedup vs corpus + cross-batch ledger admits each content once") {
    implicit val sq = spark.sqlContext
    val corpus = Seq((100L, "already in the corpus"), (101L, "also known text"))
      .toDF("doc_id", "text")
    val ledgerDir =
      java.nio.file.Files.createTempDirectory("graft_dedup_ledger").toString + "/l"
    val input = MemoryStream[(Long, String)]
    val admitted = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, String)]
    val writer = Streams.incrementalDedupBatches(
      input.toDF().toDF("doc_id", "text"), corpus, "text", "doc_id", ledgerDir,
      (fresh, bid) => admitted.synchronized {
        admitted ++= fresh.collect().map(r => (bid, r.getLong(0), r.getString(1)))
      })
    val q = writer.start()
    try {
      // batch 0: corpus dup dropped; within-batch dup keeps min id
      input.addData((1L, "already in the corpus"), (2L, "brand new text"),
        (5L, "brand new text"), (3L, "another new one"))
      q.processAllAvailable()
      // batch 1: cross-batch dup dropped via the ledger; new text admitted
      input.addData((7L, "brand new text"), (8L, "later arrival"))
      q.processAllAvailable()
    } finally q.stop()
    assert(admitted.sortBy(_._2).toSeq == Seq(
      (0L, 2L, "brand new text"), (0L, 3L, "another new one"),
      (1L, 8L, "later arrival")))
    // the ledger holds exactly one hash per admitted doc, by batch
    val ledger = spark.read.parquet(ledgerDir)
    assert(ledger.count() == 3)
    assert(ledger.filter(col("batch_id") === 0L).count() == 2)
  }

  test("incremental NEAR-dup stream drops near-copies vs corpus, batch, and ledger") {
    implicit val sq = spark.sqlContext
    val xText = "the quick brown fox jumps over the lazy dog while morning light settles on the quiet meadow road"
    val zText = "completely different content about spark shuffles exchanges and the catalyst optimizer rules engine"
    def near(t: String) = t + " extra"
    val corpus = Seq((100L, xText), (101L, "some other corpus body entirely"))
      .toDF("doc_id", "text")
    val ledgerDir = java.nio.file.Files
      .createTempDirectory("graft_neardup_ledger").toString + "/l"
    val input = MemoryStream[(Long, String)]
    val admitted = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val corpusSigs = Streams.nearDupCorpusSignatures(corpus, "text", "doc_id")
    val writer = Streams.incrementalNearDupBatches(
      input.toDF().toDF("doc_id", "text"), corpusSigs, "text", "doc_id", ledgerDir,
      (fresh, bid) => admitted.synchronized {
        admitted ++= fresh.collect().map(r => (bid, r.getLong(0)))
      })
    val q = writer.start()
    try {
      // batch 0: near-copy of corpus X dropped; Z admitted; Z's
      // near-copy dropped within batch (2 < 5); unrelated W admitted
      input.addData((1L, near(xText)), (2L, zText), (5L, near(zText)),
        (3L, "a totally unrelated body of words standing on its own here"))
      q.processAllAvailable()
      // batch 1: near-copy of Z dropped via the LEDGER (Z was admitted
      // in batch 0); fresh text admitted; a sub-shingle-length doc
      // hashes one whole-string shingle that matches nothing — admitted
      input.addData((7L, near(zText)), (8L, "late arrival with its own brand new words in this sentence"),
        (9L, "ab"))
      q.processAllAvailable()
    } finally q.stop()
    assert(admitted.sortBy(_._2).toSeq == Seq(
      (0L, 2L), (0L, 3L), (1L, 8L), (1L, 9L)))
    // ledger: one signature row per admitted doc, by batch
    val ledger = spark.read.parquet(ledgerDir)
    assert(ledger.count() == 4)
    assert(ledger.filter(col("batch_id") === 0L).count() == 2)
    // the ledger holds exactly the admitted (all non-degenerate) ids,
    // each with the signature of its own text
    def sigRows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val admittedText = Map(2L -> zText,
      3L -> "a totally unrelated body of words standing on its own here",
      8L -> "late arrival with its own brand new words in this sentence",
      9L -> "ab")
    assert(sigRows(ledger.select(col("_gn_id"), col("_gn_sig"))) ==
      sigRows(Streams.nearDupCorpusSignatures(
        admittedText.toSeq.toDF("doc_id", "text"), "text", "doc_id")))
    // replay safety: re-running batch 1's content as a NEW batch id
    // must drop everything it admitted before (the ledger catches it);
    // and a replayed batch is filtered out of its own prior set by
    // construction (the incrementalDedupBatches posture)
    val q2 = Streams.incrementalNearDupBatches(
      input.toDF().toDF("doc_id", "text"), corpusSigs, "text", "doc_id", ledgerDir,
      (fresh, bid) => admitted.synchronized {
        admitted ++= fresh.collect().map(r => (bid, r.getLong(0)))
      }).start()
    try {
      input.addData((18L, near("late arrival with its own brand new words in this sentence")))
      q2.processAllAvailable()
    } finally q2.stop()
    assert(!admitted.exists(_._2 == 18L)) // near-copy of an admitted doc
  }

  test("near-dup admission: degenerate (zero-token) docs are all admitted, never ledgered") {
    implicit val sq = spark.sqlContext
    // empty corpus frame with the (id, sig) shape
    val corpusSigs = Streams.nearDupCorpusSignatures(
      Seq.empty[(Long, String)].toDF("doc_id", "text"), "text", "doc_id")
    val ledgerDir = java.nio.file.Files
      .createTempDirectory("graft_deg_ledger").toString + "/l"
    val input = MemoryStream[(Long, String)]
    val admitted = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = Streams.incrementalNearDupBatches(
      input.toDF().toDF("doc_id", "text"), corpusSigs, "text", "doc_id", ledgerDir,
      (fresh, _) => admitted.synchronized {
        admitted ++= fresh.collect().map(_.getLong(0))
      }).start()
    try {
      // two punctuation-only docs in ONE batch: identical sentinel
      // signatures, but BOTH must be admitted (the pre-fix regression:
      // estimated Jaccard 1.0 dropped the second)
      input.addData((1L, "!!!"), (2L, "???"), (3L, "a real body of words here"))
      q.processAllAvailable()
      // next batch: another degenerate — must not be dropped against
      // any ledgered sentinel either
      input.addData((4L, "   "), (5L, null.asInstanceOf[String]))
      q.processAllAvailable()
    } finally q.stop()
    assert(admitted.sorted == Seq(1L, 2L, 3L, 4L, 5L))
    // ledger holds ONLY the real doc: degenerate sigs carry no identity
    val ledger = spark.read.parquet(ledgerDir)
    assert(ledger.count() == 1)
  }

  test("readWarcStream: raw .warc.gz segments stream as the batch scan's rows") {
    import graft.ingest.WetFixture
    import WetFixture.HttpShape
    val watched = java.nio.file.Files
      .createTempDirectory("graft_warc_watch").toString
    def seg(name: String, ids: Seq[Int]): Unit =
      WetFixture.writeWarc(s"$watched/$name", ids.map { i =>
        val shape = (i % 4) match {
          case 0 => HttpShape(chunked = true)
          case 1 => HttpShape(encoding = "gzip")
          case 2 => HttpShape(encoding = "deflate", chunked = true)
          case _ => HttpShape(headerCase = true, charset = "ISO-8859-1")
        }
        (s"https://crawl.test/s/$i", f"2024-03-${i + 1}%02dT00:00:00Z",
          WetFixture.wrapHtml(s"Warc stream page $i.\nSecond line $i."), shape)
      }, withRequests = true)
    seg("seg-00000.warc.gz", Seq(0, 1)) // exists BEFORE the stream starts
    val got = scala.collection.mutable.ArrayBuffer.empty[(String, Int, String)]
    val q = Streams.perBatch(Streams.readWarcStream(spark, watched))(identity)(
      (batch, _) => got.synchronized {
        got ++= batch.collect().map(r => (
          r.getAs[String]("url"), r.getAs[Int]("http_status"),
          r.getAs[String]("body")))
      }).start()
    try {
      q.processAllAvailable()
      seg("seg-00001.warc.gz", Seq(2, 3)) // lands while the stream runs
      q.processAllAvailable()
    } finally q.stop()
    // streaming ≡ batch: same rows as the batch scan over the same dir
    val batchRows = graft.ingest.WarcHttp
      .readResponses(spark, watched, Some("*.warc.gz"))
      .collect().map(r => (
        r.getAs[String]("url"), r.getAs[Int]("http_status"),
        r.getAs[String]("body"))).toSet
    assert(got.toSet == batchRows)
    assert(got.size == 4) // request + warcinfo records skipped
    assert(got.forall(_._2 == 200))
    (0 until 4).foreach { i =>
      assert(got.exists(_._3 ==
        WetFixture.wrapHtml(s"Warc stream page $i.\nSecond line $i.")))
    }
  }

  test("incremental VIDEO admission: frame evidence vs corpus, batch, and ledger") {
    implicit val sq = spark.sqlContext
    import graft.operators.{Multimodal, MjpegAvi}
    // 4-frame MJPEG-AVIs of coded PNGs; lane masks keep same-video
    // frames >= 16 bits apart, video bases >= 8 bits apart, and only
    // the designed frames sit within maxHamming = 3 of their original
    val lanes = Array(0L, 0xFFFFL, 0xFFFF0000L, 0xFFFFFFFFL)
    def avi(base: Long, flips: Array[Long]): Array[Byte] = MjpegAvi.encode(
      (0 until 4).map(f => Multimodal.JdkCodec.encodeCodedPng(
        base ^ lanes(f) ^ flips(f), 1, 1)), 9, 8)
    val far = 0x0202020202020202L //                      8 bits: no match
    val far2 = 0x2020202020202020L //                     8 bits, disjoint
    val A = 0x0101010101010101L
    val Z = 0x4040404040404040L
    val W = 0x1111111111111111L
    val none = Array(0L, 0L, 0L, 0L)
    val corpus = Seq((100L, avi(A, none))).toDF("media_id", "content")
    val corpusFps = Streams.videoCorpusFingerprints(corpus, k = 4)
    val ledgerDir = java.nio.file.Files
      .createTempDirectory("graft_video_ledger").toString + "/l"
    val input = MemoryStream[(Long, Array[Byte])]
    val admitted = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val q = Streams.incrementalVideoNearDupBatches(
      input.toDF().toDF("media_id", "content"), corpusFps, ledgerDir,
      (fresh, bid) => admitted.synchronized {
        admitted ++= fresh.collect().map(r => (bid, r.getLong(0)))
      }, k = 4, maxHamming = 3, minMatches = 2).start()
    try {
      // batch 0: id1 matches corpus A on frames {0,1} (hamming 3, 1) —
      // evidence 2, drops; id2 matches A on frame 0 ONLY — below the
      // floor, admitted; id3 = fresh Z admitted; id4 near-copies Z on
      // frames {0,1} — drops WITHIN batch (lower-id Z wins); id5 is not
      // an AVI — zero frames, admitted, never ledgered
      input.addData(
        (1L, avi(A, Array(1L | (1L << 21) | (1L << 42), 1L << 5, far, far))),
        (2L, avi(A, Array(1L << 7, far, far2, far2 ^ far))),
        (3L, avi(Z, none)),
        (4L, avi(Z, Array(3L, 1L | (1L << 9) | (1L << 33), far, far2))),
        (5L, Array[Byte](1, 2, 3)))
      q.processAllAvailable()
      // batch 1: id7 matches LEDGERED Z on frames {0,2} — drops via
      // ledger; id8 copies admitted id2's frames {0,1} exactly —
      // evidence 2 vs the LEDGER (only 1 vs corpus A) — drops; id9
      // fresh W admitted
      input.addData(
        (7L, avi(Z, Array(1L << 3, far, 1L | (1L << 50), far2))),
        (8L, avi(A, Array(1L << 7, far, far2 ^ far, far2))),
        (9L, avi(W, none)))
      q.processAllAvailable()
    } finally q.stop()
    assert(admitted.sortBy(_._2).toSeq == Seq(
      (0L, 2L), (0L, 3L), (0L, 5L), (1L, 9L)))
    // ledger: k frame rows per DECODABLE admitted video
    val ledger = spark.read.parquet(ledgerDir)
    assert(ledger.count() == 12)
    assert(ledger.filter(col("batch_id") === 0L).count() == 8)
  }

  test("incremental windowed-AUDIO admission: tail-appends drop, evidence floor holds") {
    implicit val sq = spark.sqlContext
    import graft.operators.Multimodal
    val winLen = 16
    val seg = 65 * winLen
    val lanes = Array(0L, 0xFFFFL, 0xFFFF0000L, 0xFFFFFFFFL,
      0xFFFF00000000L, 0xFFFF0000FFFFL)
    val A = 0x0101010101010101L
    val Z = 0x4040404040404040L
    val W = 0x1111111111111111L
    val far = 0x0202020202020202L
    def wav(base: Long, flips: Array[Long]) = Multimodal.JdkCodec
      .encodeCodedWavSegments(
        flips.zipWithIndex.map { case (fl, s) => base ^ lanes(s) ^ fl }.toSeq,
        8000, winLen)
    val none4 = Array(0L, 0L, 0L, 0L)
    val corpus = Seq((100L, wav(A, none4))).toDF("media_id", "content")
    val corpusFps = Multimodal.audioFingerprintWindows(
      corpus, segSamples = seg, maxSegments = 8)
    val ledgerDir = java.nio.file.Files
      .createTempDirectory("graft_audiow_ledger").toString + "/l"
    val input = MemoryStream[(Long, Array[Byte])]
    val admitted = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val q = Streams.incrementalAudioWindowedNearDupBatches(
      input.toDF().toDF("media_id", "content"), corpusFps, ledgerDir,
      (fresh, bid) => admitted.synchronized {
        admitted ++= fresh.collect().map(r => (bid, r.getLong(0)))
      }, segSamples = seg, maxSegments = 8,
      maxHamming = 3, minMatches = 2).start()
    try {
      // batch 0: id1 = A with a 2-segment appended tail — its 4 leading
      // segments match held A exactly, drops; id2 matches A on segment
      // 0 only (below the floor), admits; id3 = fresh Z admits; id4 is
      // not PCM16 — zero segments, admits, never ledgered
      input.addData(
        (1L, wav(A, Array(0L, 0L, 0L, 0L, far, far ^ 1L))),
        (2L, wav(A, Array(1L << 7, far, far ^ (1L << 9), far ^ (1L << 44)))),
        (3L, wav(Z, none4)),
        (4L, Array[Byte](1, 2, 3)))
      q.processAllAvailable()
      // batch 1: id7 matches LEDGERED Z on segments {0,2} — drops via
      // the ledger; id8 = fresh W admits
      input.addData(
        (7L, wav(Z, Array(1L << 3, far, 1L | (1L << 50), far ^ (1L << 17)))),
        (8L, wav(W, none4)))
      q.processAllAvailable()
    } finally q.stop()
    assert(admitted.sortBy(_._2).toSeq == Seq(
      (0L, 2L), (0L, 3L), (0L, 4L), (1L, 8L)))
    // ledger: one row per decodable admitted SEGMENT (4 + 4 + 4)
    assert(spark.read.parquet(ledgerDir).count() == 12)
  }

  test("incremental MEDIA admission drops perceptual near-copies vs corpus, batch, and ledger") {
    implicit val sq = spark.sqlContext
    import graft.operators.Multimodal.JdkCodec
    // planted 64-bit codes rendered as REAL PNGs (dHash recovers them
    // exactly); pairwise distances >= 32 except the designed near-copies
    val A = 0L
    val aNear = A ^ (1L | (1L << 21) | (1L << 42)) //       hamming 3 vs A
    val Z = -1L
    val zNear = Z ^ (1L << 5) //                             hamming 1 vs Z
    val zNear2 = Z ^ ((1L << 9) | (1L << 30)) //             hamming 2 vs Z
    val W = 0x00000000FFFFFFFFL
    val V = 0xFFFF0000FFFF0000L
    def png(code: Long) = JdkCodec.encodeCodedPng(code, 1, 1)
    val corpus = Seq((100L, png(A)), (101L, png(0x0F0F0F0F0F0F0F0FL)))
      .toDF("media_id", "content")
    val corpusFps = Streams.mediaCorpusFingerprints(corpus, "image")
    val ledgerDir = java.nio.file.Files
      .createTempDirectory("graft_media_ledger").toString + "/l"
    val input = MemoryStream[(Long, Array[Byte])]
    val admitted = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val q = Streams.incrementalMediaNearDupBatches(
      input.toDF().toDF("media_id", "content"), corpusFps, ledgerDir,
      (fresh, bid) => admitted.synchronized {
        admitted ++= fresh.collect().map(r => (bid, r.getLong(0)))
      }, maxHamming = 3, mediaType = "image").start()
    try {
      // batch 0: near-copy of corpus A dropped; Z admitted; Z's
      // near-copy dropped within batch (2 < 5); unrelated W admitted;
      // undecodable bytes admitted (quarantine: no perceptual identity)
      input.addData((1L, png(aNear)), (2L, png(Z)), (5L, png(zNear)),
        (3L, png(W)), (4L, Array[Byte](1, 2, 3)))
      q.processAllAvailable()
      // batch 1: near-copy of Z dropped via the LEDGER; fresh V
      // admitted; another undecodable admitted, never ledgered
      input.addData((7L, png(zNear2)), (8L, png(V)), (9L, Array[Byte](9)))
      q.processAllAvailable()
    } finally q.stop()
    assert(admitted.sortBy(_._2).toSeq == Seq(
      (0L, 2L), (0L, 3L), (0L, 4L), (1L, 8L), (1L, 9L)))
    // ledger: one 8-byte fingerprint per DECODABLE admitted item
    val ledger = spark.read.parquet(ledgerDir)
    assert(ledger.count() == 3)
    assert(ledger.filter(col("batch_id") === 0L).count() == 2)
    // replay posture: a near-copy of ledgered V in a later batch drops
    val q2 = Streams.incrementalMediaNearDupBatches(
      input.toDF().toDF("media_id", "content"), corpusFps, ledgerDir,
      (fresh, bid) => admitted.synchronized {
        admitted ++= fresh.collect().map(r => (bid, r.getLong(0)))
      }, maxHamming = 3, mediaType = "image").start()
    try {
      input.addData((18L, png(V ^ (1L << 50))))
      q2.processAllAvailable()
    } finally q2.stop()
    assert(!admitted.exists(_._2 == 18L))
  }

  test("media admission releases operator-owned caches every micro-batch") {
    // simhashPairs/simhashCrossPairs register operator-owned caches per
    // call; without the per-batch release a 24/7 stream accumulates one
    // strongly-held cached frame per micro-batch — the registry must
    // come back EMPTY after every batch
    implicit val sq = spark.sqlContext
    import graft.operators.Multimodal.JdkCodec
    def png(code: Long) = JdkCodec.encodeCodedPng(code, 1, 1)
    val corpus = Seq((100L, png(0x0F0F0F0F0F0F0F0FL)))
      .toDF("media_id", "content")
    val corpusFps = Streams.mediaCorpusFingerprints(corpus, "image")
    val ledgerDir = java.nio.file.Files
      .createTempDirectory("graft_media_release").toString + "/l"
    val input = MemoryStream[(Long, Array[Byte])]
    graft.ops.Caches.release() // clean slate
    val q = Streams.incrementalMediaNearDupBatches(
      input.toDF().toDF("media_id", "content"), corpusFps, ledgerDir,
      (fresh, _) => { fresh.count(); () },
      maxHamming = 3, mediaType = "image").start()
    try {
      (1 to 4).foreach { b =>
        input.addData((b.toLong, png(b.toLong * 0x1234567L)))
        q.processAllAvailable()
        assert(graft.ops.Caches.ownedCount == 0,
          s"registry must drain after micro-batch $b")
      }
    } finally q.stop()
  }

  test("media admission flood guards: mass-duplicated corpus collapses; boilerplate frames admit nothing") {
    implicit val sq = spark.sqlContext
    import graft.operators.{Multimodal, MjpegAvi}
    import graft.operators.Multimodal.JdkCodec
    // 1) single-fp path: 400 corpus copies of one code would be a
    // permanent hot identity bucket probed every micro-batch; the
    // prior-side collapse keeps the probe exact — a near-copy still
    // drops, an unrelated item still admits
    val A = 0x0101010101010101L
    def png(code: Long) = JdkCodec.encodeCodedPng(code, 1, 1)
    val floodCorpus = (1L to 400L).map(i => (100L + i, png(A)))
      .toDF("media_id", "content")
    val corpusFps = Streams.mediaCorpusFingerprints(floodCorpus, "image")
      .persist()
    val ledgerDir = java.nio.file.Files
      .createTempDirectory("graft_flood_ledger").toString + "/l"
    val input = MemoryStream[(Long, Array[Byte])]
    val admitted = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = Streams.incrementalMediaNearDupBatches(
      input.toDF().toDF("media_id", "content"), corpusFps, ledgerDir,
      (fresh, _) => admitted.synchronized {
        admitted ++= fresh.collect().map(_.getLong(0))
      }, maxHamming = 3, mediaType = "image").start()
    try {
      input.addData(
        (1L, png(A ^ (1L | (1L << 21)))), // near-copy of the flood: drops
        (2L, png(0x4040404040404040L))) // unrelated: admits
      q.processAllAvailable()
    } finally { q.stop(); corpusFps.unpersist() }
    assert(admitted.toSeq == Seq(2L))
    // a typo'd mediaType fails at writer construction, not mid-stream
    val err = intercept[IllegalArgumentException] {
      Streams.incrementalMediaNearDupBatches(
        input.toDF().toDF("media_id", "content"), corpusFps, ledgerDir,
        (_, _) => (), maxHamming = 3, mediaType = "img")
    }
    assert(err.getMessage.contains("image|audio"))
    // 2) frame-evidence path: every corpus video carries the same two
    // title-card frames (df = 200 > the cap); a batch video sharing
    // ONLY those frames is NOT a duplicate and must admit
    def avi(codes: Seq[Long]) = MjpegAvi.encode(
      codes.map(c => JdkCodec.encodeCodedPng(c, 1, 1)), 9, 8)
    val cards = Seq(A, A ^ 0xFFFFL) // 16-bit lane keeps frames apart
    val vidCorpus = (1L to 200L).map(i => (500L + i, avi(cards)))
      .toDF("media_id", "content")
    val vidFps = Streams.videoCorpusFingerprints(vidCorpus, k = 2).persist()
    val vLedger = java.nio.file.Files
      .createTempDirectory("graft_floodv_ledger").toString + "/l"
    val vInput = MemoryStream[(Long, Array[Byte])]
    val vAdmitted = scala.collection.mutable.ArrayBuffer.empty[Long]
    val vq = Streams.incrementalVideoNearDupBatches(
      vInput.toDF().toDF("media_id", "content"), vidFps, vLedger,
      (fresh, _) => vAdmitted.synchronized {
        vAdmitted ++= fresh.collect().map(_.getLong(0))
      }, k = 2, maxHamming = 3, minMatches = 2).start()
    try {
      vInput.addData((7L, avi(cards))) // title cards only: admits
      vq.processAllAvailable()
    } finally { vq.stop(); vidFps.unpersist() }
    assert(vAdmitted.toSeq == Seq(7L))
  }

  test("near-dup admission: string id columns round-trip through the ledger") {
    implicit val sq = spark.sqlContext
    val corpusSigs = Streams.nearDupCorpusSignatures(
      Seq.empty[(String, String)].toDF("doc_id", "text"), "text", "doc_id")
    val ledgerDir = java.nio.file.Files
      .createTempDirectory("graft_sid_ledger").toString + "/l"
    val input = MemoryStream[(String, String)]
    val admitted = scala.collection.mutable.ArrayBuffer.empty[String]
    val body = "a sentence with enough words to shingle and survive on its own today"
    val q = Streams.incrementalNearDupBatches(
      input.toDF().toDF("doc_id", "text"), corpusSigs, "text", "doc_id", ledgerDir,
      (fresh, _) => admitted.synchronized {
        admitted ++= fresh.collect().map(_.getString(0))
      }).start()
    try {
      input.addData(("a", body))
      q.processAllAvailable()
      // second batch READS the first batch's ledger — the pre-fix
      // hardcoded LongType schema failed here for string ids
      input.addData(("b", body + " extra"), ("c", "different words entirely in this one"))
      q.processAllAvailable()
    } finally q.stop()
    assert(admitted.sorted == Seq("a", "c")) // b = near-copy via ledger
  }

  test("near-dup admission: maxBand caps within-batch bucket fan-out; prior probe uncapped") {
    implicit val sq = spark.sqlContext
    val corpusSigs = Streams.nearDupCorpusSignatures(
      Seq.empty[(Long, String)].toDF("doc_id", "text"), "text", "doc_id")
    val ledgerDir = java.nio.file.Files
      .createTempDirectory("graft_cap_ledger").toString + "/l"
    val body = "a long enough sentence with plenty of words to shingle and compare today"
    val input = MemoryStream[(Long, String)]
    val admitted = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = Streams.incrementalNearDupBatches(
      input.toDF().toDF("doc_id", "text"), corpusSigs, "text", "doc_id", ledgerDir,
      (fresh, _) => admitted.synchronized {
        admitted ++= fresh.collect().map(_.getLong(0))
      }, maxBand = 1).start()
    try {
      // two near-identical docs in ONE batch: with maxBand = 1 every
      // shared bucket is oversized (2 members) and dropped, so no
      // within-batch candidate forms — BOTH admit (the documented
      // one-sided cap tradeoff, mirroring the batch LSH pipeline)
      input.addData((1L, body), (2L, body + " extra"))
      q.processAllAvailable()
      // the cap does NOT apply to the prior/ledger probe: a later
      // near-copy of an ADMITTED doc still drops
      input.addData((3L, body + " more"))
      q.processAllAvailable()
    } finally q.stop()
    assert(admitted.sorted == Seq(1L, 2L))
  }

  test("near-dup admission fails fast on a corpusSigs numPerms mismatch") {
    implicit val sq = spark.sqlContext
    val corpusSigs = Streams.nearDupCorpusSignatures(
      Seq((1L, "some corpus text body")).toDF("doc_id", "text"),
      "text", "doc_id", numPerms = 32)
    val input = MemoryStream[(Long, String)]
    val e = intercept[IllegalArgumentException] {
      Streams.incrementalNearDupBatches(
        input.toDF().toDF("doc_id", "text"), corpusSigs, "text", "doc_id",
        java.nio.file.Files.createTempDirectory("graft_mm_ledger").toString + "/l",
        (_, _) => (), numPerms = 64)
    }
    assert(e.getMessage.contains("numPerms"))
  }

  test("c4Clean runs directly on a streaming frame (stateless narrow op)") {
    implicit val sq = spark.sqlContext
    val pages = Seq(
      (0L, "a good first sentence lands here.\nshort line\nanother kept sentence follows here. and more. and more. and one more."),
      (1L, "lorem ipsum filler dolor sit amet appears right here. second sentence lands. third one here. fourth now. fifth closes."),
      (2L, "Enable JavaScript now please.\ntiny"))
    val input = MemoryStream[(Long, String)]
    // the operator composes INSIDE readStream — no foreachBatch: it is
    // pure narrow work, so Structured Streaming accepts it end-to-end
    val cleaned = graft.operators.Corpus.c4Clean(
      input.toDF().toDF("doc_id", "text"), "text", "doc_id")
    val q = cleaned.writeStream.outputMode("append")
      .format("memory").queryName("c4_out").start()
    try {
      input.addData(pages: _*)
      q.processAllAvailable()
      val got = spark.table("c4_out")
        .collect().map(r => r.getLong(0) ->
          (r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getBoolean(5))).toMap
      val batch = graft.operators.Corpus.c4Clean(
        pages.toDF("doc_id", "text"), "text", "doc_id")
        .collect().map(r => r.getLong(0) ->
          (r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getBoolean(5))).toMap
      assert(got == batch)
      assert(got(0L)._5 == true) // 6 sentence marks survive the line filter
      assert(got(1L)._5 == false) // lorem ipsum page drop
      assert(got(2L)._5 == false) // javascript line gone, 0 sentences left
    } finally q.stop()
  }

  test("incremental SEMANTIC admission drops embedding copies vs corpus, batch, and ledger") {
    implicit val sq = spark.sqlContext
    def axis(i: Int, s: Float): Seq[Float] = {
      val v = Array.fill(8)(0.0f); v(i) = s; v.toSeq
    }
    val corpus = Seq((100L, axis(0, 10f))).toDF("vec_id", "embedding")
    val corpusVecs = Streams
      .semanticCorpusIndex(corpus, "embedding", "vec_id").persist()
    val ledgerDir = java.nio.file.Files
      .createTempDirectory("graft_sem_ledger").toString + "/l"
    val input = MemoryStream[(Long, Seq[Float])]
    val admitted = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val q = Streams.incrementalSemanticBatches(
      input.toDF().toDF("vec_id", "embedding"), corpusVecs,
      "embedding", "vec_id", ledgerDir,
      (fresh, bid) => admitted.synchronized {
        admitted ++= fresh.collect().map(r => (bid, r.getLong(0)))
      }).start()
    try {
      // batch 0: 1 = exact copy of the CORPUS vector (dropped); 2 =
      // fresh direction (admitted); 5 = copy of 2's vector within the
      // batch (dropped, keep-lower-id); 3 = another fresh direction;
      // 6 = ZERO vector (always admitted — cosine-zero convention)
      input.addData((1L, axis(0, 10f)), (2L, axis(1, 7f)),
        (5L, axis(1, 7f)), (3L, axis(2, 5f)), (6L, Seq.fill(8)(0.0f)))
      q.processAllAvailable()
      // batch 1: 7 = copy of 2's vector — dropped via the LEDGER;
      // 8 = fresh; 9 = another zero vector (admitted, not ledgered)
      input.addData((7L, axis(1, 7f)), (8L, axis(3, 4f)),
        (9L, Seq.fill(8)(0.0f)))
      q.processAllAvailable()
    } finally { q.stop(); corpusVecs.unpersist() }
    assert(admitted.sortBy(_._2).toSeq == Seq(
      (0L, 2L), (0L, 3L), (0L, 6L), (1L, 8L), (1L, 9L)))
    // ledger: nonzero admitted vectors only, by batch
    val ledger = spark.read.parquet(ledgerDir)
    assert(ledger.count() == 3) // 2, 3, 8 — zeros never ledgered
    assert(ledger.filter(col("batch_id") === 0L).count() == 2)
  }

  test("semantic admission hot-bucket cap drops oversized buckets from every probe side") {
    implicit val sq = spark.sqlContext
    def vec(s: Float): Seq[Float] = Seq(s, 2 * s, 3 * s, 4 * s)
    // 3 identical corpus vectors land in ONE bucket per table; with
    // maxBucket = 2 every such bucket is dropped at index build — the
    // documented one-sided tradeoff (a twin hiding only in oversized
    // buckets is ADMITTED; exact dedup upstream is the cure)
    val corpus = Seq((100L, vec(1f)), (101L, vec(1f)), (102L, vec(1f)))
      .toDF("vec_id", "embedding")
    val idx = Streams.semanticCorpusIndex(
      corpus, "embedding", "vec_id", maxBucket = 2).persist()
    assert(idx.count() == 0) // all buckets oversized
    val ledgerDir = java.nio.file.Files
      .createTempDirectory("graft_semcap_ledger").toString + "/l"
    val input = MemoryStream[(Long, Seq[Float])]
    val admitted = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = Streams.incrementalSemanticBatches(
      input.toDF().toDF("vec_id", "embedding"), idx,
      "embedding", "vec_id", ledgerDir,
      (fresh, _) => admitted.synchronized {
        admitted ++= fresh.collect().map(_.getLong(0))
      }).start()
    try {
      // 1 = copy of the corpus vector: admitted (its bucket was capped
      // out of the index). 2/3/4 = three in-batch copies of another
      // vector: the BATCH side carries the same cap from metadata, so
      // their oversized bucket never self-joins — all three admitted
      // (uncapped semantics would keep only id 2)
      input.addData((1L, vec(1f)), (2L, vec(5f)), (3L, vec(5f)),
        (4L, vec(5f)))
      q.processAllAvailable()
    } finally { q.stop(); idx.unpersist() }
    assert(admitted.sorted == Seq(1L, 2L, 3L, 4L))
  }

  test("incremental semantic admission composes with embedText (text in, dedup out)") {
    implicit val sq = spark.sqlContext
    val aText = (0 until 25).map(i => s"aw${i}ord").mkString(" ")
    val bText = (0 until 25).map(i => s"bw${i}ord").mkString(" ")
    val cText = (0 until 25).map(i => s"cw${i}ord").mkString(" ")
    val corpus = Seq((100L, aText)).toDF("doc_id", "text")
    val corpusVecs = Streams.semanticCorpusIndex(
      corpus.select(col("doc_id"),
        graft.functions.TextFunctions.embedText(col("text"), 128).as("emb")),
      "emb", "doc_id").persist()
    val ledgerDir = java.nio.file.Files
      .createTempDirectory("graft_semtxt_ledger").toString + "/l"
    val input = MemoryStream[(Long, String)]
    val admitted = scala.collection.mutable.ArrayBuffer.empty[Long]
    // embedText composes INSIDE the streaming frame (narrow op), the
    // admission writer consumes the derived vector column — the whole
    // text→vector→semantic-dedup path in-engine
    val stream = input.toDF().toDF("doc_id", "text")
      .select(col("doc_id"), col("text"),
        graft.functions.TextFunctions.embedText(col("text"), 128).as("emb"))
    val q = Streams.incrementalSemanticBatches(
      stream, corpusVecs, "emb", "doc_id", ledgerDir,
      (fresh, _) => admitted.synchronized {
        admitted ++= fresh.collect().map(_.getLong(0))
      }).start()
    try {
      // 1 = exact text copy of the corpus doc (identical embedding —
      // dropped); 2 = fresh text (admitted); 3 = exact copy of 2
      // (dropped within batch)
      input.addData((1L, aText), (2L, bText), (3L, bText))
      q.processAllAvailable()
      input.addData((4L, bText), (5L, cText)) // 4 via ledger; 5 fresh
      q.processAllAvailable()
    } finally { q.stop(); corpusVecs.unpersist() }
    assert(admitted.sorted == Seq(2L, 5L))
  }

  test("packBatches streams == batch packSequences (bins continue across micro-batches)") {
    implicit val sq = spark.sqlContext
    // (id, shard, ord, n_tokens) — ord globally increasing across
    // batches, so the batch twin over the union IS the stream's order
    val b0 = Seq((1L, "a", 1L, 4L), (2L, "a", 2L, 5L), (3L, "b", 3L, 12L))
    val b1 = Seq((4L, "a", 4L, 3L), (5L, "a", 5L, 2L), (6L, "b", 6L, 1L))
    val b2 = Seq((7L, "a", 7L, 10L))
    val ledgerDir = java.nio.file.Files
      .createTempDirectory("graft_pack_ledger").toString + "/l"
    val input = MemoryStream[(Long, String, Long, Long)]
    val packed = scala.collection.mutable.ArrayBuffer.empty[(Long, String, Long, Long, Long)]
    val q = Streams.packBatches(
      input.toDF().toDF("doc_id", "shard", "ord", "n_tokens"),
      "doc_id", "shard", "ord", "n_tokens", budget = 10L, ledgerDir,
      (out, _) => packed.synchronized {
        packed ++= out.collect().map(r => (r.getLong(0), r.getString(1),
          r.getLong(2), r.getLong(3), r.getLong(4)))
      }).start()
    try {
      Seq(b0, b1, b2).foreach { b =>
        input.addData(b); q.processAllAvailable()
      }
    } finally q.stop()
    val batchTwin = graft.operators.Corpus.packSequences(
      (b0 ++ b1 ++ b2).toDF("doc_id", "shard", "ord", "n_tokens"),
      "doc_id", col("shard"), col("ord"), col("n_tokens"), budget = 10L)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(packed.toSet == batchTwin)
    // spot-pin the cross-batch continuation: doc 4 (shard a, batch 1)
    // starts at global offset 9 — bin 0, one token before the cut
    assert(packed.find(_._1 == 4L).get == ((4L, "a", 3L, 0L, 9L)))
    // doc 7 (batch 2) continues shard a at global offset 14 → bin 1
    assert(packed.find(_._1 == 7L).get == ((7L, "a", 10L, 1L, 4L)))
    // ledger = per-batch per-shard token deltas
    val ledger = spark.read.parquet(ledgerDir)
    assert(ledger.count() == 5) // (a,b) in batches 0,1; (a) in batch 2
    assert(ledger.filter(col("shard") === "a" && col("batch_id") === 0L)
      .select("batch_tokens").collect()(0).getLong(0) == 9L)
  }

  test("packMaterializeBatches emits each closed bin once; flush drains the open ones") {
    implicit val sq = spark.sqlContext
    // (id, shard, ord, n_tokens, text); budget 10. Shard a's bin 0
    // spans batches 0 and 1 (doc 4 starts at offset 9 — still bin 0),
    // closing only when doc 5 pushes the total past 10.
    val b0 = Seq((1L, "a", 1L, 4L, "t1"), (2L, "a", 2L, 5L, "t2"),
      (3L, "b", 3L, 12L, "t3"))
    val b1 = Seq((4L, "a", 4L, 3L, "t4"), (5L, "a", 5L, 2L, "t5"),
      (6L, "b", 6L, 1L, "t6"))
    val b2 = Seq((7L, "a", 7L, 10L, "t7"))
    val ledgerDir = java.nio.file.Files
      .createTempDirectory("graft_packmat_ledger").toString
    val input = MemoryStream[(Long, String, Long, Long, String)]
    val emitted = scala.collection.mutable.ArrayBuffer.empty[(Long, String, Long, Long, String)]
    val q = Streams.packMaterializeBatches(
      input.toDF().toDF("doc_id", "shard", "ord", "n_tokens", "text"),
      "doc_id", "shard", "ord", "n_tokens", "text", budget = 10L,
      ledgerDir,
      (out, bid) => emitted.synchronized {
        emitted ++= out.collect().map(r => (bid, r.getString(0),
          r.getLong(1), r.getLong(2), r.getString(3)))
      }).start()
    try {
      Seq(b0, b1, b2).foreach { b => input.addData(b); q.processAllAvailable() }
    } finally q.stop()
    // batch 0 closes b/0 (12 tokens past the 10 boundary); batch 1
    // closes a/0 — its seq_text MIXES docs from batches 0 AND 1;
    // batch 2 closes a/1
    assert(emitted.sortBy(t => (t._2, t._3)).toList == List(
      (1L, "a", 0L, 3L, "t1 t2 t4"),
      (2L, "a", 1L, 2L, "t5 t7"),
      (0L, "b", 0L, 1L, "t3")))
    // streaming emissions + flush == batch packMaterialize over the union
    val flushed = Streams.flushOpenBins(spark, ledgerDir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getString(3))).toSet
    val all = emitted.map(t => (t._2, t._3, t._4, t._5)).toSet ++ flushed
    val batchTwin = graft.operators.Corpus.packMaterialize(
      (b0 ++ b1 ++ b2).toDF("doc_id", "shard", "ord", "n_tokens", "text"),
      "doc_id", col("shard"), col("ord"), col("n_tokens"), "text",
      budget = 10L)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getString(3))).toSet
    assert(all == batchTwin)
    // the only still-open bin is b/1 (doc 6; shard a's open bin 2 has
    // no doc STARTING in it — doc 7 starts at offset 14, bin 1)
    assert(flushed == Set(("b", 1L, 1L, "t6")))
  }

  test("domainQuotaBatches admits per-domain budget prefixes across batches") {
    implicit val sq = spark.sqlContext
    import org.apache.spark.sql.expressions.Window
    // (id, dom, ord, toks); budgets a=10, b=25. Batch 0 leaves a at 8;
    // batch 1's doc 4 straddles a (start 8 < 10), doc 6 then rejects;
    // b admits everything (total 24 < 25); dom 'z' is not in the mix.
    val b0 = Seq((1L, "a", 1L, 5L), (2L, "a", 2L, 3L), (3L, "b", 3L, 12L),
      (9L, "z", 4L, 1L))
    val b1 = Seq((4L, "a", 5L, 6L), (6L, "a", 6L, 2L), (5L, "b", 7L, 12L))
    val ledgerDir = java.nio.file.Files
      .createTempDirectory("graft_domquota_ledger").toString
    val input = MemoryStream[(Long, String, Long, Long)]
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, String, Long)]
    val q = Streams.domainQuotaBatches(
      input.toDF().toDF("doc_id", "dom", "ord", "toks"),
      "doc_id", "dom", "ord", "toks", Map("a" -> 10L, "b" -> 25L),
      ledgerDir,
      (out, _) => got.synchronized {
        got ++= out.select("doc_id", "dom", "start_off").collect()
          .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      }).start()
    try {
      Seq(b0, b1).foreach { b => input.addData(b); q.processAllAvailable() }
    } finally q.stop()
    assert(got.sortBy(_._1).toList == List(
      (1L, "a", 0L), (2L, "a", 5L), (3L, "b", 0L), (4L, "a", 8L),
      (5L, "b", 12L)))
    // streaming == the batch single-window quota over the union in
    // arrival (ord) order
    val all = (b0 ++ b1).toDF("doc_id", "dom", "ord", "toks")
    val w = Window.partitionBy(col("dom")).orderBy(col("ord"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val budgetOf = when(col("dom") === "a", 10L)
      .when(col("dom") === "b", 25L).otherwise(lit(null).cast("long"))
    val twin = all
      .withColumn("start_off", coalesce(sum(col("toks")).over(w), lit(0L)))
      .filter(col("start_off") < budgetOf)
      .select("doc_id", "dom", "start_off").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(got.toSet == twin)
  }

  test("domainQuotaBatches works when domainCol is literally \"domain\"") {
    implicit val sq = spark.sqlContext
    // the natural column name collides with the quota ledger's own
    // "domain" key: the ledger-base key must be renamed before the
    // join (AMBIGUOUS_REFERENCE otherwise), and the user's "domain"
    // payload column must survive to the handler un-dropped
    val b0 = Seq((1L, "a", 1L, 5L), (2L, "a", 2L, 7L), (3L, "b", 3L, 4L))
    val b1 = Seq((4L, "a", 4L, 6L), (5L, "b", 5L, 4L))
    val ledgerDir = java.nio.file.Files
      .createTempDirectory("graft_domquota_domaincol").toString
    val input = MemoryStream[(Long, String, Long, Long)]
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, String, Long)]
    val q = Streams.domainQuotaBatches(
      input.toDF().toDF("doc_id", "domain", "ord", "toks"),
      "doc_id", "domain", "ord", "toks", Map("a" -> 10L, "b" -> 25L),
      ledgerDir,
      (out, _) => got.synchronized {
        got ++= out.select("doc_id", "domain", "start_off").collect()
          .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      }).start()
    try {
      Seq(b0, b1).foreach { b => input.addData(b); q.processAllAvailable() }
    } finally q.stop()
    // a: 5 + 7 = 12 > 10 admits both (straddle), then 4 rejects at
    // start 12; b admits everything
    assert(got.sortBy(_._1).toList == List(
      (1L, "a", 0L), (2L, "a", 5L), (3L, "b", 0L), (5L, "b", 4L)))
  }

  test("domainQuotaBatches -> trainingOrder closes the streaming ingest loop") {
    implicit val sq = spark.sqlContext
    // the admitted rows carry start_off, so the handler can hand them
    // straight to trainingOrder (epoch = 0: a stream has no epochs —
    // the domainQuotaBatches scaladoc's documented posture) and the
    // bin/key placement equals the batch path over the same admissions
    val b0 = Seq((1L, "a", 1L, 5L), (2L, "a", 2L, 3L), (3L, "b", 3L, 6L))
    val b1 = Seq((4L, "a", 4L, 6L), (5L, "b", 5L, 6L))
    val ledgerDir = java.nio.file.Files
      .createTempDirectory("graft_domquota_to_order").toString
    val input = MemoryStream[(Long, String, Long, Long)]
    val got = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Long, String, Long)]
    val q = Streams.domainQuotaBatches(
      input.toDF().toDF("doc_id", "dom", "ord", "toks"),
      "doc_id", "dom", "ord", "toks", Map("a" -> 12L, "b" -> 20L),
      ledgerDir,
      (out, _) => got.synchronized {
        val mix = out
          .withColumnRenamed("dom", "domain")
          .withColumn("epoch", lit(0L))
          .withColumnRenamed("toks", "n_tokens")
        got ++= graft.operators.Corpus
          .trainingOrder(mix, "doc_id", budget = 8L, nShards = 8)
          .select("doc_id", "bin", "off", "ord_key", "shard").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
            r.getString(3), r.getLong(4)))
      }).start()
    try {
      Seq(b0, b1).foreach { b => input.addData(b); q.processAllAvailable() }
    } finally q.stop()
    // batch twin: the same quota admissions (all of a's 14 tokens start
    // under 12 — doc 4 straddles; b admits both) ordered and binned
    val twinMix = Seq(
      (1L, "a", 0L, 5L, 0L), (2L, "a", 0L, 3L, 5L), (4L, "a", 0L, 6L, 8L),
      (3L, "b", 0L, 6L, 0L), (5L, "b", 0L, 6L, 6L))
      .toDF("doc_id", "domain", "epoch", "n_tokens", "start_off")
    val twin = graft.operators.Corpus
      .trainingOrder(twinMix, "doc_id", budget = 8L, nShards = 8)
      .select("doc_id", "bin", "off", "ord_key", "shard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3), r.getLong(4))).toSet
    assert(got.toSet == twin)
    // cross-batch continuity: doc 4 (batch 1) lands in bin 1 at off 0
    // because batch 0 left domain a at 8 tokens
    assert(got.find(_._1 == 4L).get._2 == 1L)
    assert(got.find(_._1 == 4L).get._3 == 0L)
  }

  test("decontaminateBatches streams == batch decontaminate (static bench grams)") {
    implicit val sq = spark.sqlContext
    val benchText = "the committee benchmark answer key phrase number nine follows here today"
    val bench = Seq((900L, benchText)).toDF("doc_id", "text")
    val docs = Seq(
      (1L, "a clean document with its very own words standing free of any benchmark"),
      (2L, s"dirty one because $benchText rides inside it"),
      (3L, "another clean body of plain words"))
    val benchGrams = graft.operators.Corpus
      .decontaminationGrams(bench, "text", "doc_id", n = 8).persist()
    val input = MemoryStream[(Long, String)]
    val got = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = Streams.perBatch(input.toDF().toDF("doc_id", "text"))(
      graft.operators.Corpus.decontaminateAgainstGrams(_, benchGrams, "text", "doc_id"))(
      (clean, _) => got.synchronized { got ++= clean.collect().map(_.getLong(0)) })
      .start()
    try {
      input.addData(docs: _*)
      q.processAllAvailable()
    } finally { q.stop(); benchGrams.unpersist() }
    val batch = graft.operators.Corpus.decontaminate(
      docs.toDF("doc_id", "text"), bench, "text", "doc_id", n = 8)
      .collect().map(_.getLong(0)).toSet
    assert(got.toSet == batch)
    assert(got.toSet == Set(1L, 3L))
  }

  test("ingestToBins: crawl stream -> curated, quota-capped training-bin placements") {
    implicit val sq = spark.sqlContext
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val stops = "the report has to be checked and that will hold with care."
    def pageText(stem: String) =
      s"$stops\n${(0 until 60).map(i => s"$stem${i}ord").mkString(" ")} and the close of day has come to rest now.\nmore closing prose lands here. yes. good. fine. done."
    val aText = pageText("aw")
    val cText = pageText("cw")
    val bText = pageText("bw")
    val eText = pageText("ew")
    val fText = s"$stops\ntemplate { artifact. one. two. three. four. five."
    def cleanOf(text: String): String = graft.operators.Corpus
      .curatePages(Seq((0L, text)).toDF("doc_id", "text"), "text", "doc_id")
      .collect()(0).getString(1)
    def tokOf(text: String): Long = cleanOf(text).trim
      .split("\\s+").count(_.nonEmpty).toLong
    val (tA, tB, tC, tE) = (tokOf(aText), tokOf(bText), tokOf(cText), tokOf(eText))
    // empty prior corpus; budgets: domain x fills EXACTLY with page A
    // (page C then starts at tA, not < tA -> rejected); y is generous
    val corpus = spark.emptyDataFrame
      .sparkSession.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("doc_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("clean",
            org.apache.spark.sql.types.StringType))))
    val corpusHashes = Streams.dedupCorpusHashes(corpus, "clean").persist()
    val corpusSigs = Streams
      .nearDupCorpusSignatures(corpus, "clean", "doc_id").persist()
    val base = java.nio.file.Files
      .createTempDirectory("graft_ingest_bins").toString
    val input = MemoryStream[(Long, String, String)]
    val got = scala.collection.mutable.ArrayBuffer
      .empty[(Long, String, Long, Long, Long, String, Long, String)]
    val q = Streams.ingestToBins(
      input.toDF().toDF("doc_id", "dom", "text"),
      corpusHashes, corpusSigs, "text", "doc_id", "dom",
      budgets = Map("x" -> tA, "y" -> 1000L),
      binBudget = 16L, nShards = 8, ledgerBase = base,
      onBins = (out, _) => got.synchronized {
        got ++= out.collect().map(r => (
          r.getAs[Long]("doc_id"), r.getAs[String]("domain"),
          r.getAs[Long]("n_tokens"), r.getAs[Long]("bin"),
          r.getAs[Long]("off"), r.getAs[String]("ord_key"),
          r.getAs[Long]("shard"), r.getAs[String]("clean")))
      }).start()
    try {
      // batch 0: A admits (x: 0 < tA); F dies at curation; B admits (y)
      input.addData((1L, "x", aText), (2L, "x", fText), (9L, "y", bText))
      q.processAllAvailable()
      // batch 1: C rejected by the x quota (starts AT tA); E admits (y,
      // starting where B left off — cross-batch quota continuity)
      input.addData((8L, "x", cText), (10L, "y", eText))
      q.processAllAvailable()
    } finally { q.stop(); corpusHashes.unpersist(); corpusSigs.unpersist() }
    val byId = got.map(r => r._1 -> r).toMap
    assert(byId.keySet == Set(1L, 9L, 10L))
    assert(byId(1L) == ((1L, "x", tA, 0L, 0L, md5hex("order:x:0"),
      java.lang.Long.parseLong(md5hex("order:x:0").substring(0, 1), 16) % 8,
      cleanOf(aText))))
    assert(byId(9L)._4 == 0L && byId(9L)._5 == 0L)
    assert(byId(10L)._3 == tE)
    assert(byId(10L)._4 == tB / 16 && byId(10L)._5 == tB % 16)
    assert(byId(10L)._6 == md5hex(s"order:y:${tB / 16}"))
    // quota ledger: batch 0 = x:tA + y:tB, batch 1 = y:tE only
    val ledger = spark.read.parquet(s"$base/quota")
    val l0 = ledger.filter(col("batch_id") === 0L)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val l1 = ledger.filter(col("batch_id") === 1L)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(l0 == Map("x" -> tA, "y" -> tB))
    assert(l1 == Map("y" -> tE))
  }

  test("readWetStream -> ingestToBins: crawl segments land as training-bin placements") {
    // the full crawl-native path: WET segment files (written by the
    // independent byte-level fixture) drop into a watched directory,
    // each micro-batch parses whole new files, identity comes from the
    // Target-URI, and the curated pages place into quota'd bins — the
    // end-to-end composition VERDICT r13 asked for
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val stops = "the report has to be checked and that will hold with care."
    def pageText(stem: String) =
      s"$stops\n${(0 until 60).map(i => s"$stem${i}ord").mkString(" ")} and the close of day has come to rest now.\nmore closing prose lands here. yes. good. fine. done."
    val aText = pageText("aw"); val bText = pageText("bw")
    val fText = s"$stops\ntemplate { artifact. one. two. three. four. five."
    def cleanOf(text: String): String = graft.operators.Corpus
      .curatePages(Seq((0L, text)).toDF("doc_id", "text"), "text", "doc_id")
      .collect()(0).getString(1)
    def tokOf(text: String): Long = cleanOf(text).trim
      .split("\\s+").count(_.nonEmpty).toLong
    val (tA, tB) = (tokOf(aText), tokOf(bText))
    val corpus = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("clean",
          org.apache.spark.sql.types.StringType))))
    val corpusHashes = Streams.dedupCorpusHashes(corpus, "clean").persist()
    val corpusSigs = Streams
      .nearDupCorpusSignatures(corpus, "clean", "doc_id").persist()
    val watched = java.nio.file.Files
      .createTempDirectory("graft_wet_watch").toString
    val base = java.nio.file.Files
      .createTempDirectory("graft_wet_bins").toString
    def writeSeg(name: String, rows: Seq[(Long, String, String)]): Unit =
      graft.ingest.WetFixture.writeWet(s"$watched/$name",
        rows.map { case (id, dom, text) =>
          (s"https://crawl.test/$dom/$id", "2024-04-01T00:00:00Z", text)
        })
    // segment 0 exists BEFORE the stream starts
    writeSeg("seg-00000.warc.wet.gz", Seq((1L, "x", aText), (2L, "x", fText)))
    val pages = Streams.readWetStream(spark, watched)
      .select(
        regexp_extract(col("url"), "^https://crawl\\.test/([^/]+)/(\\d+)$", 2)
          .cast("bigint").as("doc_id"),
        regexp_extract(col("url"), "^https://crawl\\.test/([^/]+)/(\\d+)$", 1)
          .as("dom"),
        col("text"))
    val got = scala.collection.mutable.ArrayBuffer
      .empty[(Long, String, Long, Long, Long)]
    val q = Streams.ingestToBins(
      pages, corpusHashes, corpusSigs, "text", "doc_id", "dom",
      budgets = Map("x" -> 1000L, "y" -> 1000L),
      binBudget = 16L, nShards = 8, ledgerBase = base,
      onBins = (out, _) => got.synchronized {
        got ++= out.collect().map(r => (
          r.getAs[Long]("doc_id"), r.getAs[String]("domain"),
          r.getAs[Long]("n_tokens"), r.getAs[Long]("bin"),
          r.getAs[Long]("off")))
      }).start()
    try {
      q.processAllAvailable()
      // a SECOND crawl segment lands while the stream runs: picked up
      // as its own micro-batch, quota/dedup state carrying over
      writeSeg("seg-00001.warc.wet.gz",
        Seq((9L, "y", bText), (11L, "x", aText))) // 11 = exact dup of 1
      q.processAllAvailable()
    } finally { q.stop(); corpusHashes.unpersist(); corpusSigs.unpersist() }
    val byId = got.map(r => r._1 -> r).toMap
    // F dies at curation; the duplicate of A dies at exact admission
    assert(byId.keySet == Set(1L, 9L))
    assert(byId(1L) == ((1L, "x", tA, 0L, 0L)))
    assert(byId(9L) == ((9L, "y", tB, 0L, 0L)))
  }

  test("decontaminateSpansBatches streams == batch decontaminateSpans (surgical)") {
    implicit val sq = spark.sqlContext
    val benchText = "the committee benchmark answer key phrase number nine follows here today"
    val bench = Seq((900L, benchText)).toDF("doc_id", "text")
    val docs = Seq(
      (1L, "a clean document with its very own words standing free of any benchmark"),
      (2L, s"dirty one because $benchText rides inside it"),
      (3L, "another clean body of plain words"))
    val benchSpans = graft.operators.Corpus
      .decontaminationSpanHashes(bench, "text", "doc_id", n = 8).persist()
    val input = MemoryStream[(Long, String)]
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, String, Long, Long)]
    val q = Streams.perBatch(input.toDF().toDF("doc_id", "text"))(
      graft.operators.Corpus.decontaminateSpans(_, benchSpans, "text", "doc_id"))(
      (clean, _) => got.synchronized {
        got ++= clean.collect().map(r =>
          (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      }).start()
    try {
      input.addData(docs: _*)
      q.processAllAvailable()
    } finally { q.stop(); benchSpans.unpersist() }
    val batch = graft.operators.Corpus.decontaminateSpans(
      docs.toDF("doc_id", "text"), benchSpans, "text", "doc_id", n = 8)
      .collect().map(r =>
        (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    assert(got.toSet == batch)
    // the dirty doc keeps its own words and loses exactly the bench
    // span's 11 words — surgical, not dropped
    val dirty = got.find(_._1 == 2L).get
    assert(dirty._4 == 11L)
    assert(dirty._2.startsWith("dirty one because"))
    assert(dirty._2.endsWith("rides inside it"))
    assert(!dirty._2.contains("committee"))
    assert(got.filter(_._1 != 2L).forall(_._4 == 0L))
  }

  test("curateIncrementalBatches chains clean→filter→exact→near→decontam with both ledgers") {
    implicit val sq = spark.sqlContext
    val stops = "the report has to be checked and that will hold with care."
    def pageText(stem: String) =
      s"$stops\n${(0 until 60).map(i => s"$stem${i}ord").mkString(" ")} and the close of day has come to rest now.\nmore closing prose lands here. yes. good. fine. done."
    val aText = pageText("aw")
    val gText = pageText("gw")
    val cText = pageText("cw")
    val benchText = "the committee benchmark answer key phrase number nine follows here today"
    val dText = pageText("dw") + s"\n$benchText rides in this closing line."
    val fText = s"$stops\ntemplate { artifact. one. two. three. four. five."
    // the static corpus holds the CLEANED text of page G (prior
    // admitted output is always post-curation text)
    def cleanOf(text: String): String = graft.operators.Corpus
      .curatePages(Seq((0L, text)).toDF("doc_id", "text"), "text", "doc_id")
      .collect()(0).getString(1)
    val corpus = Seq((100L, cleanOf(gText))).toDF("doc_id", "clean")
    val corpusHashes = Streams.dedupCorpusHashes(corpus, "clean").persist()
    val corpusSigs = Streams
      .nearDupCorpusSignatures(corpus, "clean", "doc_id").persist()
    val benchGrams = graft.operators.Corpus.decontaminationGrams(
      Seq((900L, benchText)).toDF("doc_id", "text"), "text", "doc_id", n = 8)
      .persist()
    val base = java.nio.file.Files
      .createTempDirectory("graft_curate_ledgers").toString
    val input = MemoryStream[(Long, String)]
    val admitted = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val stats = scala.collection.mutable.ArrayBuffer.empty[(Long, Streams.CurateStats)]
    val q = Streams.curateIncrementalBatches(
      input.toDF().toDF("doc_id", "text"), corpusHashes, corpusSigs,
      "text", "doc_id", s"$base/exact", s"$base/near",
      (out, bid) => admitted.synchronized {
        admitted ++= out.collect().map(r => (bid, r.getLong(0)))
      },
      benchGrams = Some(benchGrams),
      onStats = Some((s, bid) => stats.synchronized { stats += bid -> s })).start()
    try {
      // batch 0: A admitted; F fails curation ({); 3 = exact copy of A
      // within the batch (keep-first); G exact-dropped vs the CORPUS;
      // D passes dedup but dies at decontamination
      input.addData((1L, aText), (2L, fText), (3L, aText), (4L, gText), (5L, dText))
      q.processAllAvailable()
      // batch 1: 6 = exact copy of A (exact LEDGER drop); 7 = near-copy
      // of A (near LEDGER drop — extra tail line, high jaccard);
      // C fresh → admitted
      input.addData((6L, aText),
        (7L, aText + "\nan extra tail sentence sits right here now."),
        (8L, cText))
      q.processAllAvailable()
    } finally {
      q.stop(); corpusHashes.unpersist(); corpusSigs.unpersist()
      benchGrams.unpersist()
    }
    assert(admitted.sortBy(_._2).toSeq == Seq((0L, 1L), (1L, 8L)))
    // exact ledger records STAGE-2 survivors (so identical re-crawls of
    // later-rejected pages still die at the cheap stage): batch 0 = A +
    // D (D fell at decontam, after exact), batch 1 = near-copy 7 + C
    val exactLedger = spark.read.parquet(s"$base/exact")
    assert(exactLedger.filter(col("batch_id") === 0L).count() == 2)
    assert(exactLedger.filter(col("batch_id") === 1L).count() == 2)
    // near ledger records near-stage survivors: batch 0 = A + D,
    // batch 1 = C only (7 dropped there)
    val nearLedger = spark.read.parquet(s"$base/near")
    assert(nearLedger.filter(col("batch_id") === 0L).count() == 2)
    assert(nearLedger.filter(col("batch_id") === 1L).count() == 1)
    // the admitted stream carries (id, clean): cleaned text, not raw
    assert(admitted.size == 2)
    // the observability funnel: per-batch stage counts
    // batch 0: 5 in → 4 curated (F fails) → 2 exact-fresh (3 dup of A
    // in-batch, G vs corpus) → 2 near-fresh → 1 admitted (D decontam'd)
    // batch 1: 3 in → 3 curated → 2 exact-fresh (6 via ledger) →
    // 1 near-fresh (7 via near ledger) → 1 admitted
    val byBatch = stats.toMap
    assert(byBatch(0L) == Streams.CurateStats(5, 4, 2, 2, 1))
    assert(byBatch(1L) == Streams.CurateStats(3, 3, 2, 1, 1))
  }

  test("curateIncrementalBatches replay: the re-run batch admits the same ids, ledgers unchanged") {
    // the at-least-once window for a ledgered chain (the snapshot
    // restart test's construction): two checkpointed batches, the last
    // commit marker deleted, restart — the replayed batch must not be
    // suppressed by the ledger rows it wrote itself
    implicit val sq = spark.sqlContext
    val stops = "the report has to be checked and that will hold with care."
    def pageText(stem: String) =
      s"$stops\n${(0 until 60).map(i => s"$stem${i}ord").mkString(" ")} and the close of day has come to rest now.\nmore closing prose lands here. yes. good. fine. done."
    val (aText, bText, cText) = (pageText("aw"), pageText("bw"), pageText("cw"))
    val corpus = Seq.empty[(Long, String)].toDF("doc_id", "clean")
    val corpusHashes = Streams.dedupCorpusHashes(corpus, "clean")
    val corpusSigs = Streams.nearDupCorpusSignatures(corpus, "clean", "doc_id")
    val base = java.nio.file.Files
      .createTempDirectory("graft_curate_replay").toString
    val cp = s"$base/checkpoint"
    val input = MemoryStream[(Long, String)]
    val calls = scala.collection.mutable.ArrayBuffer.empty[(Long, Set[Long])]
    def start() = Streams.curateIncrementalBatches(
      input.toDF().toDF("doc_id", "text"), corpusHashes, corpusSigs,
      "text", "doc_id", s"$base/exact", s"$base/near",
      (out, bid) => calls.synchronized {
        calls += bid -> out.collect().map(_.getLong(0)).toSet
      }).option("checkpointLocation", cp).start()
    val q1 = start()
    try {
      // batch 0: 3 = exact copy of 1 within the batch
      input.addData((1L, aText), (2L, bText), (3L, aText))
      q1.processAllAvailable()
      // batch 1: 6 dies on the exact ledger, 7 (near-copy of 2) on the
      // near ledger, 8 is fresh
      input.addData((6L, aText),
        (7L, bText + "\nan extra tail sentence sits right here now."), (8L, cText))
      q1.processAllAvailable()
    } finally { q1.stop(); q1.awaitTermination() }
    assert(calls.toSeq == Seq(0L -> Set(1L, 2L), 1L -> Set(8L)))
    def ledgerRows(dir: String): Set[Seq[Any]] =
      spark.read.parquet(dir).collect().map(_.toSeq.map {
        case a: scala.collection.Seq[_] => a.toList
        case v => v
      }).toSet
    val exactBefore = ledgerRows(s"$base/exact")
    val nearBefore = ledgerRows(s"$base/near")
    // the near ledger holds the admitted ids, per batch
    assert(spark.read.parquet(s"$base/near")
      .select(col("batch_id").cast("long"), col("_gn_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((0L, 1L), (0L, 2L), (1L, 8L)))
    val commits = new java.io.File(cp, "commits")
    val lastCommit = commits.listFiles()
      .filter(_.getName.forall(_.isDigit)).maxBy(_.getName.toInt)
    assert(lastCommit.delete())
    new java.io.File(commits, "." + lastCommit.getName + ".crc").delete()
    val q2 = start()
    try q2.processAllAvailable() // replays batch 1
    finally { q2.stop(); q2.awaitTermination() }
    assert(calls.toSeq == Seq(0L -> Set(1L, 2L), 1L -> Set(8L), 1L -> Set(8L)))
    def partitions(dir: String): Set[String] = new java.io.File(dir).listFiles()
      .map(_.getName).filter(_.startsWith("batch_id=")).toSet
    Seq(s"$base/exact", s"$base/near").foreach { dir =>
      assert(partitions(dir) == Set("batch_id=0", "batch_id=1"), dir)
    }
    assert(ledgerRows(s"$base/exact") == exactBefore)
    assert(ledgerRows(s"$base/near") == nearBefore)
  }

  test("curateIncrementalBatches optional SEMANTIC stage catches paraphrases MinHash misses") {
    implicit val sq = spark.sqlContext
    val stops = "the report has to be checked and that will hold with care."
    val close = "and the close of day has come to rest now.\nmore closing prose lands here. yes. good. fine. done."
    // The paraphrase shape MinHash misses: a word-order PERMUTATION of
    // distinct 5-char words scrambles most byte-5-gram shingles (the
    // boundary windows change with every new neighbor) but keeps the
    // word-internal char-trigram mass, so the embedText cosine stays
    // high. Measured on the CLEANED text (SemChainProbe, dim 64,
    // deterministic): same-doc stride permutations estJ 0.39–0.50
    // (near threshold 0.7 passes, margin ≥ 0.2) and cos 0.847–0.923
    // (dies at the eps = 0.25 → 0.75 admission point, margin ≥ 0.097);
    // cross-doc pairs estJ ≤ 0.17 and cos ≤ 0.17 (admitted, margin
    // ≥ 0.58). Words are index-unique (i, i/26 both ride in the
    // letters) — a periodic vocabulary would trip the Gopher
    // repetition rules at curation instead.
    val alphabet = "abcdefghijklmnopqrstuvwxyz"
    def word(stemSeed: Int, i: Int): String = {
      val c1 = alphabet(i % 26)
      val c2 = alphabet((i / 26 + stemSeed * 3 + 7) % 26)
      val c3 = alphabet((i * 3 + stemSeed * 9 + 17) % 26)
      val c4 = alphabet((i * 5 + stemSeed * 2 + 5) % 26)
      val c5 = alphabet((i * 9 + stemSeed * 7 + 11) % 26)
      s"$c1$c2$c3$c4$c5"
    }
    def page(stemSeed: Int, order: Seq[Int]) =
      s"$stops\n${order.map(i => word(stemSeed, i)).mkString(" ")} $close"
    val fwd = 0 until 60
    def stride(k: Int): Seq[Int] = fwd.map(i => (i * k) % 60)
    val aText = page(1, fwd)
    val aStr7 = page(1, stride(7))
    val aStr13 = page(1, stride(13))
    val gText = page(2, fwd)
    val gStr7 = page(2, stride(7))
    val cText = page(3, fwd)
    def cleanOf(text: String): String = graft.operators.Corpus
      .curatePages(Seq((0L, text)).toDF("doc_id", "text"), "text", "doc_id")
      .collect()(0).getString(1)
    val corpus = Seq((100L, cleanOf(gText))).toDF("doc_id", "clean")
    val corpusHashes = Streams.dedupCorpusHashes(corpus, "clean").persist()
    val corpusSigs = Streams
      .nearDupCorpusSignatures(corpus, "clean", "doc_id").persist()
    val semIndex = Streams.semanticCorpusIndex(
      corpus.select(col("doc_id"),
        graft.functions.TextFunctions.embedText(col("clean"), 64).as("emb")),
      "emb", "doc_id").persist()
    val base = java.nio.file.Files
      .createTempDirectory("graft_curate_sem_ledgers").toString
    val input = MemoryStream[(Long, String)]
    val admitted = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val stats = scala.collection.mutable.ArrayBuffer.empty[(Long, Streams.CurateStats)]
    val q = Streams.curateIncrementalBatches(
      input.toDF().toDF("doc_id", "text"), corpusHashes, corpusSigs,
      "text", "doc_id", s"$base/exact", s"$base/near",
      (out, bid) => admitted.synchronized {
        admitted ++= out.collect().map(r => (bid, r.getLong(0)))
      },
      onStats = Some((s, bid) => stats.synchronized { stats += bid -> s }),
      semanticIndex = Some(semIndex),
      semanticLedgerDir = Some(s"$base/sem"),
      eps = 0.25).start()
    try {
      // batch 0: 1 = A admitted; 2 = stride-permuted G — different
      // bytes (passes exact), scrambled shingles (passes near, estJ
      // 0.48) but cos 0.92 to the CORPUS INDEX → dies semantic;
      // 3 = stride-7 A — dies semantic WITHIN-batch vs lower-id 1
      // (cos 0.85)
      input.addData((1L, aText), (2L, gStr7), (3L, aStr7))
      q.processAllAvailable()
      // batch 1: 6 = stride-13 A — passes exact + near (estJ ≤ 0.5 vs
      // every ledgered signature) and dies via the SEMANTIC ledger
      // (A's vector, admitted in batch 0; cos 0.87); 7 = fresh C →
      // admitted
      input.addData((6L, aStr13), (7L, cText))
      q.processAllAvailable()
    } finally {
      q.stop(); corpusHashes.unpersist(); corpusSigs.unpersist()
      semIndex.unpersist()
    }
    assert(admitted.sortBy(_._2).toSeq == Seq((0L, 1L), (1L, 7L)))
    // the semantic ledger records semantic-stage survivors only
    val semLedger = spark.read.parquet(s"$base/sem")
    assert(semLedger.filter(col("batch_id") === 0L).count() == 1)
    assert(semLedger.filter(col("batch_id") === 1L).count() == 1)
    // funnel gains the semantic count: batch 0 = 3 in → 3 curated → 3
    // exact-fresh → 3 near-fresh → 1 semantic-fresh → 1 admitted
    val byBatch = stats.toMap
    assert(byBatch(0L) == Streams.CurateStats(3, 3, 3, 3, 1, Some(1)))
    assert(byBatch(1L) == Streams.CurateStats(2, 2, 2, 2, 1, Some(1)))
  }

  test("curatePages (C4 → full Gopher) streams == batch (stateless prefix)") {
    implicit val sq = spark.sqlContext
    val stops = "the report has to be checked and that will hold with care."
    val body = (0 until 60).map(i => s"w${i}ord").mkString(" ")
    val flood = (0 until 30).map(_ => "again and").mkString(" ") + " closes."
    val pages = Seq(
      // passes every stage: enough sentences, >= 50 words, no repeated
      // n-gram anywhere (the second line closes with FRESH words — a
      // reused stop sentence would itself trip the dup-5-gram rule)
      (0L, s"$stops\n$body and the close of day has come to rest now.\nmore closing prose lands here. yes. good. fine. done."),
      // C4 kills the page (curly bracket)
      (1L, s"$stops\ntemplate { artifact. extra sentence one. two. three. four. five."),
      // C4 keeps it, the REPETITION half kills it (the composed stage
      // q133 could not apply)
      (2L, s"$stops\n$body and more prose holds the line here today.\n$flood yes. good. fine. done."))
    val input = MemoryStream[(Long, String)]
    // the whole stateless pipeline prefix composes INSIDE readStream —
    // no foreachBatch, no state store
    val curated = graft.operators.Corpus.curatePages(
      input.toDF().toDF("doc_id", "text"), "text", "doc_id")
    val q = curated.writeStream.outputMode("append")
      .format("memory").queryName("curate_out").start()
    try {
      input.addData(pages: _*)
      q.processAllAvailable()
      def row(r: org.apache.spark.sql.Row) = r.getLong(0) ->
        (r.getString(1), r.getBoolean(2), r.getBoolean(3), r.getBoolean(4), r.getBoolean(5))
      val got = spark.table("curate_out").collect().map(row).toMap
      val batch = graft.operators.Corpus.curatePages(
        pages.toDF("doc_id", "text"), "text", "doc_id").collect().map(row).toMap
      assert(got == batch)
      assert(got(0L)._5 == true)
      assert(got(1L)._2 == false && got(1L)._5 == false) // c4_kept false
      assert(got(2L)._2 == true && got(2L)._4 == false && // repetition
        got(2L)._5 == false)
    } finally q.stop()
  }
}
