package graft.tools

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.Streams

/** Streaming throughput micro-bench for §2.10 scale evidence: a rate
  * source drives the full stateful path — rate → Event → custom
  * sessionization (flatMapGroupsWithState) → foreachBatch publishing
  * each micro-batch as an immutable [[graft.sink.Snapshots]] version —
  * and reports end-to-end rows/sec from the query's own progress
  * metrics (processedRowsPerSecond averaged over steady-state batches,
  * plus wall-clock rows/sec as the cross-check).
  *
  * The rate source generates `rowsPerSecond` monotonically-timestamped
  * rows across 32 partitions; user_id = value div 1000 rotates users —
  * each gets ~1000 consecutive events then goes idle, so the timeout
  * fires and every batch exercises state insert + update + removal +
  * emission, not just inserts.
  *
  * Usage: StreamBench [rowsPerSecond] [seconds] (defaults 200k, 20).
  */
object StreamBench {
  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("lm")) { lmBench(args); return }
    if (Seq("lmn", "dsir", "clf", "lid", "incdedup", "incneardup", "curate",
        "decontam", "curatechain", "incsemantic", "curatesem", "domquota",
        "decontamsurg", "ingestbins", "wetingest", "warcingest", "mediaadmit",
        "videoadmit", "bpescore", "ccnet")
      .exists(args.headOption.contains)) { scoredBenches(args); return }
    val rate = args.headOption.map(_.toInt).getOrElse(200000)
    val secs = args.lift(1).map(_.toInt).getOrElse(20)
    val spark = SparkSession.builder()
      .master("local[32]")
      .appName("graft-stream-bench")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val warehouse =
      java.nio.file.Files.createTempDirectory("graft_stream_bench").toString
    val events = spark.readStream
      .format("rate-micro-batch")
      .option("rowsPerBatch", rate) // deterministic batch sizing
      .option("numPartitions", 32)
      .load()
      .select(
        col("value").as("event_id"),
        col("timestamp").as("ts"),
        // rotating users: each gets ~1000 consecutive events then goes
        // idle, so the processing-time timeout actually fires and every
        // batch both opens and CLOSES sessions (state insert + update +
        // removal + emission all on the hot path)
        expr("value div 1000").as("user_id"),
        lit("view").as("event_type"),
        (col("value") % 97).cast("double").as("value"),
        lit("{}").as("props"))
      .as[Streams.Event]

    val sessions = Streams.sessionize(events, gapMs = 3 * 1000L)
    var published = 0L
    val q = Streams.perBatch(sessions.toDF())(identity) { (batch, id) =>
      // foreachBatch → immutable snapshot version per micro-batch (the
      // production pattern: stream → versioned batch table)
      published += batch.count()
      graft.sink.Snapshots.publishBatch(
        batch.sparkSession, warehouse, "sessions", batch, id)
      ()
    }.trigger(Trigger.ProcessingTime("1 second")).start()

    val t0 = System.nanoTime()
    q.awaitTermination(secs * 1000L)
    q.stop(); q.awaitTermination()
    val wallSec = (System.nanoTime() - t0) / 1e9
    val prog = q.recentProgress.toSeq
    val inputRows = prog.map(_.numInputRows).sum
    val steady = prog.drop(2).map(_.processedRowsPerSecond)
      .filter(d => !d.isNaN && d > 0)
    val steadyAvg = if (steady.isEmpty) 0.0 else steady.sum / steady.size
    println(f"""{"metric":"stream_sessionize_rows_per_sec","steady":$steadyAvg%.0f,"wall_rows_per_sec":${inputRows / wallSec}%.0f,"input_rows":$inputRows,"batches":${prog.size},"published_sessions":$published,"wall_sec":$wallSec%.1f}""")
    spark.stop()
  }

  /** Streaming LM-scoring throughput: [[Streams.perBatch]] over
    * [[graft.operators.Corpus.scoreWithLmModel]] on a file-source
    * document stream, measured with the model members UNPERSISTED
    * (every micro-batch re-aggregates the reference corpus into counts
    * — the stream-static join re-plans per batch) vs PERSISTED (the
    * scaladoc's recommendation for long runs). The gap IS the evidence
    * for that recommendation; correctness of the scored rows is pinned
    * by StreamsSpec's streaming≡batch case, so this only measures.
    *
    * Usage: StreamBench lm [docsParquet] [filesPerTrigger]
    */
  private def lmBench(args: Array[String]): Unit = {
    val docsPath = args.lift(1).getOrElse("/tmp/sf1_documents.parquet")
    val perTrigger = args.lift(2).map(_.toInt).getOrElse(4)
    val spark = SparkSession.builder()
      .master("local[32]")
      .appName("graft-stream-lm-bench")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val docs = spark.read.parquet(docsPath)
    val model = graft.operators.Corpus.ngramLmModel(docs, "text", "doc_id")
    // stage the stream as many small files so the run has real
    // micro-batch cadence rather than one giant batch
    val stageDir =
      java.nio.file.Files.createTempDirectory("graft_lm_stream").toString
    docs.repartition(40).write.mode("overwrite").parquet(stageDir)
    val schema = docs.schema
    val inputRows = docs.count() // every mode streams the full staging set
    for (persisted <- Seq(false, true)) {
      if (persisted) {
        Seq(model.bigrams, model.contexts, model.vocab).foreach { m =>
          m.persist(); m.count() // materialize before the clock starts
        }
      }
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", perTrigger).parquet(stageDir)
      var scored = 0L
      val t0 = System.nanoTime()
      // the runner persists each scored batch, so count() materializes
      // the full rows (all columns) — a bare count() of an unpersisted
      // frame would let ColumnPruning drop the score columns and their
      // model joins, the artifact the Stress rows corrected
      // (docs/SCALE.md)
      val q = Streams.perBatch(stream)(
        graft.operators.Corpus.scoreWithLmModel(_, model, "text", "doc_id")) {
        (batch, _) => scored += batch.count()
      }.start()
      q.processAllAvailable()
      q.stop(); q.awaitTermination()
      val wall = (System.nanoTime() - t0) / 1e9
      val label = if (persisted) "persisted" else "unpersisted"
      println(f"""{"metric":"stream_lm_score_rows_per_sec","model":"$label","rows_per_sec":${scored / wall}%.0f,"scored_rows":$scored,"wall_sec":$wall%.1f,"files_per_trigger":$perTrigger}""")
    }
    spark.stop()
  }

  /** Round-12 throughput rows for the remaining round-11 streaming
    * deployments ([[Streams.perBatch]] over n=5 LM, DSIR and
    * classifier scoring; [[Streams.exactAdmission]]), persisted vs
    * unpersisted model members — the bigram row's 6.4× persist gap
    * measured for each. Correctness of every path is pinned by
    * StreamsSpec streaming≡batch cases; this only measures. The
    * handler counts each batch the runner has persisted (the
    * measurement-correction rule: a bare count() of an unpersisted
    * frame lets ColumnPruning drop the model joins — docs/SCALE.md).
    *
    * Round-13 additions: `decontam` (streaming n-gram decontamination
    * vs a static bench gram frame — the persistable unit) and
    * `curatechain` (the END-TO-END curation deployment: curatePages →
    * exact admit → near admit → decontaminate in one stage chain,
    * both ledgers live; stream staged with the q135-style page wrapper
    * so every stage does real work).
    *
    * Usage: StreamBench <lmn|dsir|clf|incdedup|incneardup|curate|decontam|curatechain|incsemantic|curatesem|domquota|decontamsurg|ingestbins|wetingest|warcingest|mediaadmit|videoadmit|bpescore> [docsParquet] [filesPerTrigger]
    */
  private def scoredBenches(args: Array[String]): Unit = {
    val mode = args(0)
    val docsPath = args.lift(1).getOrElse("/tmp/sf1_documents.parquet")
    val perTrigger = args.lift(2).map(_.toInt).getOrElse(4)
    val spark = SparkSession.builder()
      .master("local[32]")
      .appName(s"graft-stream-$mode-bench")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val docs = spark.read.parquet(docsPath)
    val stageDir =
      java.nio.file.Files.createTempDirectory(s"graft_${mode}_stream").toString
    docs.repartition(40).write.mode("overwrite").parquet(stageDir)
    val schema = docs.schema
    val inputRows = docs.count() // every mode streams the full staging set

    def run(metric: String, persistables: Seq[DataFrame],
        streamDir: String = stageDir,
        streamSchema: org.apache.spark.sql.types.StructType = schema,
        nInput: Long = inputRows,
        persistedOnly: Boolean = false)(
        mk: (org.apache.spark.sql.DataFrame, (org.apache.spark.sql.DataFrame, Long) => Unit) =>
          org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row]): Unit = {
      // stateless modes have no model members: one variant, labeled so;
      // persistedOnly skips the unpersisted run when a sibling mode has
      // already quantified that cliff (ingestbins vs curatechain)
      val variants =
        if (persistables.isEmpty) Seq(false)
        else if (persistedOnly) Seq(true)
        else Seq(false, true)
      for (persisted <- variants) {
        if (persisted) persistables.foreach { m => m.persist(); m.count() }
        val stream = spark.readStream.schema(streamSchema)
          .option("maxFilesPerTrigger", perTrigger).parquet(streamDir)
        var scored = 0L
        val t0 = System.nanoTime()
        val q = mk(stream, (batch, _) => scored += batch.count()).start()
        q.processAllAvailable()
        q.stop(); q.awaitTermination()
        val wall = (System.nanoTime() - t0) / 1e9
        val label =
          if (persistables.isEmpty) "stateless"
          else if (persisted) "persisted" else "unpersisted"
        // two bases, both printed: scored/wall (the operator's OUTPUT
        // rate — for incdedup that is admitted-fresh rows, a ~20x
        // smaller number on the 95%-duplicate replica) and input/wall
        // (the throughput basis docs/SCALE.md tables use)
        println(f"""{"metric":"$metric","model":"$label","rows_per_sec":${scored / wall}%.0f,"input_rows_per_sec":${nInput / wall}%.0f,"scored_rows":$scored,"input_rows":$nInput,"wall_sec":$wall%.1f,"files_per_trigger":$perTrigger}""")
      }
      persistables.foreach(_.unpersist())
    }

    mode match {
      case "lmn" =>
        val model = graft.operators.Corpus.ngramBackoffModel(
          docs, "text", "doc_id", n = 5)
        run("stream_lm5_score_rows_per_sec",
          model.orders :+ model.totals) { (s, h) =>
          Streams.perBatch(s)(
            graft.operators.Corpus.scoreWithLmNModel(_, model, "text", "doc_id"))(h)
        }
      case "dsir" =>
        val model = graft.operators.Corpus.dsirModel(
          raw = docs,
          target = docs.filter(col("doc_id") % 10 === 0),
          "text", "doc_id")
        run("stream_dsir_score_rows_per_sec",
          Seq(model.targetCounts, model.rawCounts, model.totals)) { (s, h) =>
          Streams.perBatch(s)(
            graft.operators.Corpus.scoreWithDsirModel(_, model, "text", "doc_id"))(h)
        }
      case "clf" =>
        val model = graft.operators.Corpus.trainQualityClassifier(
          pos = docs.filter(col("doc_id") % 2 === 0),
          neg = docs.filter(col("doc_id") % 2 =!= 0),
          "text", "doc_id", iters = 8)
        run("stream_clf_score_rows_per_sec", Seq(model.weights)) { (s, h) =>
          Streams.perBatch(s)(
            graft.operators.Corpus.scoreWithClassifier(_, model, "text", "doc_id"))(h)
        }
      case "lid" =>
        // trained language routing: a 3-way label planted by doc_id
        // (vocab tags appended so the classes are separable), then the
        // stream identified against the trained model — the
        // classifier-scoring shape with a per-doc softmax window
        val tag = when(col("doc_id") % 3 === 0,
          lit(" alpha arbor anchor amber apex argon"))
          .when(col("doc_id") % 3 === 1,
            lit(" birch basalt beacon bramble bisque borax"))
          .otherwise(lit(" cedar cobalt cairn crimson cumin cypress"))
        val lang = when(col("doc_id") % 3 === 0, "aa")
          .when(col("doc_id") % 3 === 1, "bb").otherwise("cc")
        val model = graft.operators.Corpus.trainLangId(
          docs.filter(col("doc_id") % 10 === 0)
            .select(col("doc_id"), concat(col("text"), tag).as("text"),
              lang.as("lang")),
          "text", "lang", "doc_id", iters = 8)
        run("stream_lid_rows_per_sec", Seq(model.weights)) { (s, h) =>
          Streams.perBatch(s)(
            graft.operators.Corpus.langIdWith(_, model, "text", "doc_id"))(h)
        }
      case "ccnet" =>
        // the fully model-driven CCNet chain online: trained langid +
        // reference LM + batch-local terciles per micro-batch
        // (Streams.perBatch over Corpus.ccnetBucketsWith). Models train
        // once on the 10% slice (the q163 shape); persistable units are
        // the LM order tables + the langid weight frame — unpersisted,
        // every micro-batch re-aggregates the reference corpus
        val tag = when(col("doc_id") % 3 === 0,
          lit(" alpha arbor anchor amber apex argon"))
          .when(col("doc_id") % 3 === 1,
            lit(" birch basalt beacon bramble bisque borax"))
          .otherwise(lit(" cedar cobalt cairn crimson cumin cypress"))
        val lang = when(col("doc_id") % 3 === 0, "aa")
          .when(col("doc_id") % 3 === 1, "bb").otherwise("cc")
        val slice = docs.filter(col("doc_id") % 10 === 0)
          .select(col("doc_id"), concat(col("text"), tag).as("text"),
            lang.as("lang"))
        val lidModel = graft.operators.Corpus.trainLangId(
          slice, "text", "lang", "doc_id", iters = 4)
        val lmModel = graft.operators.Corpus.ngramBackoffModel(
          slice, "text", "doc_id", n = 3)
        run("stream_ccnet_rows_per_sec",
          lmModel.orders :+ lmModel.totals :+ lidModel.weights) { (s, h) =>
          Streams.perBatch(s)(graft.operators.Corpus.ccnetBucketsWith(
            _, lmModel, lidModel, "text", "doc_id"))(h)
        }
      case "incneardup" =>
        // MinHash near-dup admission: the replica's 10 exact copies are
        // trivially near (est Jaccard 1.0); the persistable unit is the
        // corpus SIGNATURE frame — unpersisted, the 64-perm MinHash of
        // 25k docs recomputes in every micro-batch
        val corpusSigs = Streams.nearDupCorpusSignatures(
          docs.filter(col("doc_id") % 2 === 0), "text", "doc_id")
        run("stream_incneardup_rows_per_sec", Seq(corpusSigs)) { (s, h) =>
          val ledger = java.nio.file.Files
            .createTempDirectory("graft_incneardup_ledger").toString + "/ledger"
          Streams.run(s, h)(Streams.nearAdmission(corpusSigs, "text", "doc_id", ledger))
        }
      case "curate" =>
        // the q135 stateless prefix (C4 -> full Gopher) composing
        // INSIDE readStream — no model, no state store, pure narrow
        // work; the number is the per-page filtering rate at arrival
        run("stream_curate_rows_per_sec", Seq.empty) { (s, h) =>
          Streams.perBatch(s)(
            graft.operators.Corpus.curatePages(_, "text", "doc_id"))(h)
        }
      case "incsemantic" =>
        // streaming SEMANTIC admission with embedText composed on the
        // stream. The raw replica text embeds into a COLLAPSED space
        // (this synthetic corpus saturates char-3-gram cosine at
        // ~0.999 between DIFFERENT docs — docs/SCALE.md r13), where
        // every SRP bucket goes hot and the probe degenerates to
        // near-all-pairs: semantically honest (everything IS a
        // near-dup) but it measures the data, not the machinery. The
        // bench therefore salts each doc by md5 OF ITS TEXT — exact
        // copies (the replica's 10 per doc) keep identical vectors,
        // distinct texts diversify — the q139 margin construction
        // keyed by content instead of id. Persistable unit = the
        // corpus SRP INDEX (pre-exploded, (t,s)-partitioned):
        // unpersisted, the corpus re-embeds, re-projects, AND
        // re-shuffles in every micro-batch's prior probe.
        def salted(df: DataFrame): DataFrame = df.select(col("doc_id"),
          graft.functions.TextFunctions.embedText(
            concat(col("text"), lit(" "),
              repeat(regexp_replace(md5(col("text")), "(.{4})", "$1 "), 5)),
            128).as("emb"))
        val corpusVecs = Streams.semanticCorpusIndex(
          salted(docs.filter(col("doc_id") % 2 === 0)), "emb", "doc_id")
        run("stream_incsemantic_rows_per_sec", Seq(corpusVecs)) { (s, h) =>
          val ledger = java.nio.file.Files
            .createTempDirectory("graft_incsem_ledger").toString + "/ledger"
          Streams.run(salted(s), h)(
            Streams.semanticAdmission(corpusVecs, "emb", "doc_id", ledger))
        }
      case "decontam" =>
        // streaming decontamination: the bench gram frame is the
        // persistable unit — unpersisted, every micro-batch
        // re-tokenizes the whole benchmark corpus into 8-grams
        val benchGrams = graft.operators.Corpus.decontaminationGrams(
          docs.filter(col("doc_id") % 17 === 0), "text", "doc_id", n = 8)
        run("stream_decontam_rows_per_sec", Seq(benchGrams)) { (s, h) =>
          Streams.perBatch(s)(graft.operators.Corpus.decontaminateAgainstGrams(
            _, benchGrams, "text", "doc_id"))(h)
        }
      case "curatechain" =>
        // END-TO-END curation: wrap each doc into the q135-style page
        // shape so the stateless prefix passes a meaningful fraction
        // and every stage does real work — %13 plants a shared body
        // (near-dups), %11 plants C4 kills, the replica's exact copies
        // exercise the exact stage, %17 of raw text is the bench
        val shared = "the steady river winds to be close with the quiet " +
          "valley and that old stone wall today while morning light settles " +
          "over the far meadow and the old road bends past the mill to " +
          "reach the stone bridge before the village square opens."
        val wrapped = docs.select(col("doc_id"), concat_ws("\n",
          lit("the report has to be checked and that will hold with care."),
          concat(col("text"), lit(".")),
          when(col("doc_id") % 13 === 0, lit(shared))
            .otherwise(lit("one more sentence lands here! does a question count? yes it does. the paragraph closes now.")),
          when(col("doc_id") % 11 === 0, lit("template artifact { left behind."))
            .otherwise(lit("clean final line stands here."))).as("text"))
        val chainDir = java.nio.file.Files
          .createTempDirectory("graft_curatechain_stage").toString
        wrapped.repartition(40).write.mode("overwrite").parquet(chainDir)
        val nWrapped = wrapped.count()
        // prior corpus = the curated output of the even half (admitted
        // output is always post-curation text)
        val corpus = graft.operators.Corpus.curatePages(
          wrapped.filter(col("doc_id") % 2 === 0), "text", "doc_id")
          .filter(col("kept")).select(col("id").as("doc_id"), col("clean"))
        val corpusHashes = Streams.dedupCorpusHashes(corpus, "clean")
        val corpusSigs = Streams
          .nearDupCorpusSignatures(corpus, "clean", "doc_id")
        val benchGrams = graft.operators.Corpus.decontaminationGrams(
          docs.filter(col("doc_id") % 17 === 0), "text", "doc_id", n = 8)
        run("stream_curatechain_rows_per_sec",
          Seq(corpusHashes, corpusSigs, benchGrams),
          chainDir, wrapped.schema, nWrapped,
          persistedOnly = sys.env.contains("GRAFT_PERSISTED_ONLY")) { (s, h) =>
          val base = java.nio.file.Files
            .createTempDirectory("graft_curatechain_ledgers").toString
          Streams.run(s, h)(Streams.curationHead(corpusHashes, corpusSigs,
            "text", "doc_id", s"$base/exact", s"$base/near") :+
            Streams.decontamination(benchGrams, "clean", "doc_id"): _*)
        }
      case "ingestbins" =>
        // the FULL production ingest: the curatechain construction plus
        // a domain column (the replica's source), flowing through
        // ingestToBins — curation chain + per-source token budgets at
        // roughly half of each source's curated mass (so quota
        // boundaries cross mid-run) + training-bin placement. The delta
        // vs the curatechain row IS the price of the quota/placement
        // tail (expected ~free: one bounded per-domain window + narrow
        // projections per micro-batch).
        val shared = "the steady river winds to be close with the quiet " +
          "valley and that old stone wall today while morning light settles " +
          "over the far meadow and the old road bends past the mill to " +
          "reach the stone bridge before the village square opens."
        val wrapped = docs.select(col("doc_id"), col("source"),
          concat_ws("\n",
            lit("the report has to be checked and that will hold with care."),
            concat(col("text"), lit(".")),
            when(col("doc_id") % 13 === 0, lit(shared))
              .otherwise(lit("one more sentence lands here! does a question count? yes it does. the paragraph closes now.")),
            when(col("doc_id") % 11 === 0, lit("template artifact { left behind."))
              .otherwise(lit("clean final line stands here."))).as("text"))
        val chainDir = java.nio.file.Files
          .createTempDirectory("graft_ingestbins_stage").toString
        wrapped.repartition(40).write.mode("overwrite").parquet(chainDir)
        val nWrapped = wrapped.count()
        val corpus = graft.operators.Corpus.curatePages(
          wrapped.filter(col("doc_id") % 2 === 0), "text", "doc_id")
          .filter(col("kept")).select(col("id").as("doc_id"), col("clean"))
        val corpusHashes = Streams.dedupCorpusHashes(corpus, "clean")
        val corpusSigs = Streams
          .nearDupCorpusSignatures(corpus, "clean", "doc_id")
        val benchGrams = graft.operators.Corpus.decontaminationGrams(
          docs.filter(col("doc_id") % 17 === 0), "text", "doc_id", n = 8)
        val budgets = (0 until 20).map(i => s"src$i" -> 40000L).toMap
        // persisted-only: the unpersisted cliff for this chain is the
        // curatechain row's (the added quota/placement tail holds no
        // re-derivable model state — its ledger is rows-per-domain)
        run("stream_ingestbins_rows_per_sec",
          Seq(corpusHashes, corpusSigs, benchGrams),
          chainDir, wrapped.schema, nWrapped, persistedOnly = true) { (s, h) =>
          val base = java.nio.file.Files
            .createTempDirectory("graft_ingestbins_ledgers").toString
          Streams.ingestToBins(
            s, corpusHashes, corpusSigs, "text", "doc_id", "source",
            budgets, binBudget = 2048L, nShards = 8, ledgerBase = base,
            onBins = h, benchGrams = Some(benchGrams))
        }
      case "wetingest" =>
        // CRAWL-NATIVE end-to-end: the ingestbins pipeline fed from WET
        // SEGMENT FILES through readWetStream — file discovery →
        // multi-member-gzip record parse → identity from Target-URI →
        // curation chain → quota → bin placement, the full path a real
        // crawl ingest runs. The delta vs the ingestbins row is the
        // price of the WET transport (parse is narrow per-file work).
        val shared = "the steady river winds to be close with the quiet " +
          "valley and that old stone wall today while morning light settles " +
          "over the far meadow and the old road bends past the mill to " +
          "reach the stone bridge before the village square opens."
        val wrapped = docs.select(col("doc_id"), col("source"),
          concat_ws("\n",
            lit("the report has to be checked and that will hold with care."),
            concat(col("text"), lit(".")),
            when(col("doc_id") % 13 === 0, lit(shared))
              .otherwise(lit("one more sentence lands here! does a question count? yes it does. the paragraph closes now.")),
            when(col("doc_id") % 11 === 0, lit("template artifact { left behind."))
              .otherwise(lit("clean final line stands here."))).as("text"))
        val wetDir = java.nio.file.Files
          .createTempDirectory("graft_wetingest_stage").toString
        val staged = wrapped
          .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
        val perSeg = math.max(1, math.ceil(staged.length / 40.0).toInt)
        staged.grouped(perSeg).zipWithIndex.foreach { case (seg, i) =>
          graft.ingest.WetFixture.writeWet(
            f"$wetDir/seg-$i%05d.warc.wet.gz",
            seg.map { case (id, src, text) =>
              (s"https://crawl.test/$src/$id", "2024-06-01T00:00:00Z", text)
            }.toSeq)
        }
        val nStaged = staged.length.toLong
        val corpus = graft.operators.Corpus.curatePages(
          wrapped.filter(col("doc_id") % 2 === 0), "text", "doc_id")
          .filter(col("kept")).select(col("id").as("doc_id"), col("clean"))
        val corpusHashes = Streams.dedupCorpusHashes(corpus, "clean").persist()
        val corpusSigs = Streams
          .nearDupCorpusSignatures(corpus, "clean", "doc_id").persist()
        val benchGrams = graft.operators.Corpus.decontaminationGrams(
          docs.filter(col("doc_id") % 17 === 0), "text", "doc_id", n = 8)
          .persist()
        Seq(corpusHashes, corpusSigs, benchGrams).foreach(_.count())
        val budgets = (0 until 20).map(i => s"src$i" -> 40000L).toMap
        val base = java.nio.file.Files
          .createTempDirectory("graft_wetingest_ledgers").toString
        val urlRe = "^https://crawl\\.test/([^/]+)/(\\d+)$"
        val pages = Streams
          .readWetStream(spark, wetDir, maxFilesPerTrigger = Some(perTrigger))
          .select(
            regexp_extract(col("url"), urlRe, 2).cast("bigint").as("doc_id"),
            regexp_extract(col("url"), urlRe, 1).as("source"),
            col("text"))
        var placed = 0L
        val t0 = System.nanoTime()
        val q = Streams.ingestToBins(
          pages, corpusHashes, corpusSigs, "text", "doc_id", "source",
          budgets, binBudget = 2048L, nShards = 8, ledgerBase = base,
          onBins = { (batch, _) =>
            placed += batch.count()
          },
          benchGrams = Some(benchGrams)).start()
        q.processAllAvailable()
        q.stop(); q.awaitTermination()
        val wall = (System.nanoTime() - t0) / 1e9
        println(f"""{"metric":"stream_wetingest_rows_per_sec","model":"persisted","rows_per_sec":${placed / wall}%.0f,"input_rows_per_sec":${nStaged / wall}%.0f,"scored_rows":$placed,"input_rows":$nStaged,"wall_sec":$wall%.1f,"files_per_trigger":$perTrigger}""")
        Seq(corpusHashes, corpusSigs, benchGrams).foreach(_.unpersist())
      case "warcingest" =>
        // CRAWL-NATIVE end-to-end, one step EARLIER than wetingest: raw
        // .warc.gz segments (HTML bodies inside captured HTTP envelopes
        // across the transfer-shape matrix) through readWarcStream →
        // envelope split + de-chunk + content-decode + charset decode →
        // line-preserving HTML strip → the same curation/quota/bin
        // chain. The delta vs the wetingest row is the price of the
        // HTTP transport + HTML strip (both narrow per-file work).
        val shared = "the steady river winds to be close with the quiet " +
          "valley and that old stone wall today while morning light settles " +
          "over the far meadow and the old road bends past the mill to " +
          "reach the stone bridge before the village square opens."
        val wrapped = docs.select(col("doc_id"), col("source"),
          concat_ws("\n",
            lit("the report has to be checked and that will hold with care."),
            concat(col("text"), lit(".")),
            when(col("doc_id") % 13 === 0, lit(shared))
              .otherwise(lit("one more sentence lands here! does a question count? yes it does. the paragraph closes now.")),
            when(col("doc_id") % 11 === 0, lit("template artifact { left behind."))
              .otherwise(lit("clean final line stands here."))).as("text"))
        val warcDir = java.nio.file.Files
          .createTempDirectory("graft_warcingest_stage").toString
        val staged = wrapped
          .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
        val perSeg = math.max(1, math.ceil(staged.length / 40.0).toInt)
        staged.grouped(perSeg).zipWithIndex.foreach { case (seg, i) =>
          graft.ingest.WetFixture.writeWarc(
            f"$warcDir/seg-$i%05d.warc.gz",
            seg.map { case (id, src, text) =>
              val shape = (id % 4) match {
                case 0 => graft.ingest.WetFixture.HttpShape(chunked = true)
                case 1 => graft.ingest.WetFixture.HttpShape(encoding = "gzip")
                case 2 => graft.ingest.WetFixture.HttpShape(
                  encoding = "deflate", chunked = true)
                case _ => graft.ingest.WetFixture.HttpShape()
              }
              (s"https://crawl.test/$src/$id", "2024-06-01T00:00:00Z",
                graft.ingest.WetFixture.wrapHtml(text), shape)
            }.toSeq)
        }
        val nStaged = staged.length.toLong
        val corpus = graft.operators.Corpus.curatePages(
          wrapped.filter(col("doc_id") % 2 === 0), "text", "doc_id")
          .filter(col("kept")).select(col("id").as("doc_id"), col("clean"))
        val corpusHashes = Streams.dedupCorpusHashes(corpus, "clean").persist()
        val corpusSigs = Streams
          .nearDupCorpusSignatures(corpus, "clean", "doc_id").persist()
        val benchGrams = graft.operators.Corpus.decontaminationGrams(
          docs.filter(col("doc_id") % 17 === 0), "text", "doc_id", n = 8)
          .persist()
        Seq(corpusHashes, corpusSigs, benchGrams).foreach(_.count())
        val budgets = (0 until 20).map(i => s"src$i" -> 40000L).toMap
        val base = java.nio.file.Files
          .createTempDirectory("graft_warcingest_ledgers").toString
        val urlRe = "^https://crawl\\.test/([^/]+)/(\\d+)$"
        val pages = Streams
          .readWarcStream(spark, warcDir, maxFilesPerTrigger = Some(perTrigger))
          .filter(col("http_status") === 200)
          .select(
            regexp_extract(col("url"), urlRe, 2).cast("bigint").as("doc_id"),
            regexp_extract(col("url"), urlRe, 1).as("source"),
            graft.functions.TextFunctions.stripHtmlLines(col("body")).as("text"))
        var placed = 0L
        val t0 = System.nanoTime()
        val q = Streams.ingestToBins(
          pages, corpusHashes, corpusSigs, "text", "doc_id", "source",
          budgets, binBudget = 2048L, nShards = 8, ledgerBase = base,
          onBins = { (batch, _) =>
            placed += batch.count()
          },
          benchGrams = Some(benchGrams)).start()
        q.processAllAvailable()
        q.stop(); q.awaitTermination()
        val wall = (System.nanoTime() - t0) / 1e9
        println(f"""{"metric":"stream_warcingest_rows_per_sec","model":"persisted","rows_per_sec":${placed / wall}%.0f,"input_rows_per_sec":${nStaged / wall}%.0f,"scored_rows":$placed,"input_rows":$nStaged,"wall_sec":$wall%.1f,"files_per_trigger":$perTrigger}""")
        Seq(corpusHashes, corpusSigs, benchGrams).foreach(_.unpersist())
      case "curatesem" =>
        // the FIVE-stage chain: curatechain + the optional semantic
        // stage. The semantic embedding happens INSIDE the stage on the
        // CLEANED text, so the collapsed-trigram-space problem the
        // incsemantic bench salts around (this synthetic corpus sits at
        // cross-doc cosine ~0.999) is solved at page construction: the
        // wrapper plants a content-keyed SALT LINE — THREE DISTINCT
        // chained md5 blocks (a REPEATED single block is periodic text
        // and the Gopher repetition rules kill the page at curation),
        // digits translated to letters so Gopher's alphabetic-word rule
        // keeps it, chunked into 4-char words, closed with a period so
        // C4 keeps the line. Exact copies share the salt; distinct
        // texts diversify — SaltProbe-measured on the cleaned pages:
        // avg cross-doc cosine 0.69, p99 0.86, all kept. The hottest
        // SRP buckets still hold ~31% of the corpus (the shared
        // wrapper mass), which is exactly the adversary that ground
        // the UNCAPPED first shape >20 min on one micro-batch — the
        // index carries maxBucket=256 (docs/SCALE.md r13). Persistable
        // units = the four model frames, semanticCorpusIndex included.
        val shared = "the steady river winds to be close with the quiet " +
          "valley and that old stone wall today while morning light settles " +
          "over the far meadow and the old road bends past the mill to " +
          "reach the stone bridge before the village square opens."
        def saltLine(text: org.apache.spark.sql.Column) = {
          val blocks = (0 until 3).map { i =>
            translate(md5(concat(text, lit("#" + i))),
              "0123456789", "ghijklmnop")
          }
          concat(regexp_replace(concat(blocks: _*), "(.{4})", "$1 "),
            lit("here now."))
        }
        val wrapped = docs.select(col("doc_id"), concat_ws("\n",
          lit("the report has to be checked and that will hold with care."),
          concat(col("text"), lit(".")),
          saltLine(col("text")),
          when(col("doc_id") % 13 === 0, lit(shared))
            .otherwise(lit("one more sentence lands here! does a question count? yes it does. the paragraph closes now.")),
          when(col("doc_id") % 11 === 0, lit("template artifact { left behind."))
            .otherwise(lit("clean final line stands here."))).as("text"))
        val chainDir = java.nio.file.Files
          .createTempDirectory("graft_curatesem_stage").toString
        wrapped.repartition(40).write.mode("overwrite").parquet(chainDir)
        val nWrapped = wrapped.count()
        val corpus = graft.operators.Corpus.curatePages(
          wrapped.filter(col("doc_id") % 2 === 0), "text", "doc_id")
          .filter(col("kept")).select(col("id").as("doc_id"), col("clean"))
        val corpusHashes = Streams.dedupCorpusHashes(corpus, "clean")
        val corpusSigs = Streams
          .nearDupCorpusSignatures(corpus, "clean", "doc_id")
        val semIndex = Streams.semanticCorpusIndex(
          corpus.select(col("doc_id"),
            graft.functions.TextFunctions.embedText(col("clean"), 128)
              .as("emb")),
          "emb", "doc_id", maxBucket = 256)
        val benchGrams = graft.operators.Corpus.decontaminationGrams(
          docs.filter(col("doc_id") % 17 === 0), "text", "doc_id", n = 8)
        run("stream_curatesem_rows_per_sec",
          Seq(corpusHashes, corpusSigs, semIndex, benchGrams),
          chainDir, wrapped.schema, nWrapped) { (s, h) =>
          val base = java.nio.file.Files
            .createTempDirectory("graft_curatesem_ledgers").toString
          Streams.run(s, h)(Streams.curationHead(corpusHashes, corpusSigs,
            "text", "doc_id", s"$base/exact", s"$base/near") ++ Seq(
            Streams.semanticAdmission(semIndex, "clean", "doc_id", s"$base/sem",
              embed = true),
            Streams.decontamination(benchGrams, "clean", "doc_id")): _*)
        }
      case "decontamsurg" =>
        // streaming SURGICAL decontamination: same stream/bench shape
        // as decontam, but the contaminated spans are cut out instead
        // of the docs dropped; persistable unit = the span-hash frame
        // (unpersisted, every micro-batch re-windows the benchmark)
        val benchSpans = graft.operators.Corpus.decontaminationSpanHashes(
          docs.filter(col("doc_id") % 17 === 0), "text", "doc_id", n = 8)
        run("stream_decontamsurg_rows_per_sec", Seq(benchSpans)) { (s, h) =>
          Streams.perBatch(s)(graft.operators.Corpus.decontaminateSpans(
            _, benchSpans, "text", "doc_id"))(h)
        }
      case "domquota" =>
        // streaming ingestion-budget admission: per-domain running token
        // totals against the replica's lang mix (en 6.1M chars, others
        // ~2.1M), budgets set at roughly half of each domain's total so
        // the stream crosses every boundary mid-run — the bench covers
        // both the admit-everything and the reject-everything regimes.
        // Stateless-model: the only state is the per-domain ledger the
        // deployment itself maintains (a handful of rows per batch).
        val budgets = Map("en" -> 3000000L, "zh" -> 1000000L,
          "es" -> 1000000L, "fr" -> 1000000L, "de" -> 1000000L)
        run("stream_domquota_rows_per_sec", Seq.empty) { (s, h) =>
          val ledger = java.nio.file.Files
            .createTempDirectory("graft_domquota_ledger").toString + "/ledger"
          Streams.run(s, h)(
            Streams.domainQuota("lang", "doc_id", "n_chars", budgets, ledger))
        }
      case "incdedup" =>
        // the "model" here is the static corpus whose hash projection
        // each micro-batch anti-joins; persisting it caches the corpus
        // rows (the md5+distinct still re-aggregates per batch — the
        // projection lives inside the operator)
        val corpus = docs.filter(col("doc_id") % 2 === 0)
        run("stream_incdedup_rows_per_sec", Seq(corpus)) { (s, h) =>
          val ledger = java.nio.file.Files
            .createTempDirectory("graft_incdedup_ledger").toString + "/ledger"
          Streams.run(s, h)(Streams.exactAdmission(
            Streams.dedupCorpusHashes(corpus, "text"), "text", "doc_id", ledger))
        }
      case "mediaadmit" =>
        // streaming perceptual IMAGE admission: synthetic coded PNGs
        // (decode + dHash recovers the planted 64-bit code exactly, so
        // the decode path does real ImageIO work), odd ids hamming-1
        // near-copies of the even sibling already held in the corpus —
        // the LAION re-encode arrival shape, ~half of each batch
        // dropped vs corpus. The persistable unit is the corpus
        // FINGERPRINT frame (8 bytes/item — mediaCorpusFingerprints):
        // unpersisted, the whole corpus re-decodes in every micro-batch.
        import org.apache.spark.sql.types.{BinaryType, LongType, StructField, StructType}
        val mediaSchema = StructType(Seq(
          StructField("media_id", LongType, nullable = false),
          StructField("content", BinaryType, nullable = true)))
        def mediaOf(ids: DataFrame): DataFrame = {
          val enc = org.apache.spark.sql.Encoders.row(mediaSchema)
          ids.select(col("doc_id")).mapPartitions { it =>
            it.map { r =>
              val id = r.getLong(0)
              // splitmix64 of the PAIR id: even/odd siblings share a
              // base code; odd flips one bit (hamming 1 — a near-copy)
              var x = (id >>> 1) + 0x9e3779b97f4a7c15L
              x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
              x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
              val code = (x ^ (x >>> 31)) ^ (if ((id & 1L) == 1L) 1L << 17 else 0L)
              org.apache.spark.sql.Row(id,
                graft.operators.Multimodal.JdkCodec.encodeCodedPng(code, 2, 2))
            }
          }(enc)
        }
        val mediaDir = java.nio.file.Files
          .createTempDirectory("graft_mediaadmit_stage").toString
        mediaOf(docs).repartition(40).write.mode("overwrite").parquet(mediaDir)
        val nMedia = spark.read.parquet(mediaDir).count()
        // corpus holds only the EVEN pairs' base image: stream items
        // from even pairs drop vs corpus (~50%), odd pairs' even member
        // admits and its hamming-1 sibling then drops within-batch or
        // vs the ledger — both admission outcomes on the hot path
        val corpusFps = Streams.mediaCorpusFingerprints(
          mediaOf(docs.filter(col("doc_id") % 4 === 0)), "image")
        run("stream_mediaadmit_rows_per_sec", Seq(corpusFps),
          streamDir = mediaDir, streamSchema = mediaSchema,
          nInput = nMedia) { (s, h) =>
          val ledger = java.nio.file.Files
            .createTempDirectory("graft_mediaadmit_ledger").toString + "/ledger"
          Streams.run(s, h)(
            Streams.mediaAdmission(corpusFps, ledger, maxHamming = 3, mediaType = "image"))
        }
      case "videoadmit" =>
        // streaming perceptual VIDEO admission: 4-frame MJPEG-AVIs of
        // coded PNGs (real demux + 4 ImageIO decodes per item); odd ids
        // flip 2 frames of the even sibling within hamming 3 (evidence
        // 2 = a near-copy), corpus holds only even pairs — both drop
        // and admit outcomes run. Persistable = the corpus FRAME
        // fingerprint table (<= 4 longs/video).
        import org.apache.spark.sql.types.{BinaryType, LongType, StructField, StructType}
        val mediaSchema = StructType(Seq(
          StructField("media_id", LongType, nullable = false),
          StructField("content", BinaryType, nullable = true)))
        val lanes = Array(0L, 0xFFFFL, 0xFFFF0000L, 0xFFFFFFFFL)
        def videosOf(ids: DataFrame): DataFrame = {
          val enc = org.apache.spark.sql.Encoders.row(mediaSchema)
          ids.select(col("doc_id")).mapPartitions { it =>
            it.map { r =>
              val id = r.getLong(0)
              var x = (id >>> 1) + 0x9e3779b97f4a7c15L
              x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
              x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
              val base = x ^ (x >>> 31)
              val odd = (id & 1L) == 1L
              val frames = (0 until 4).map { f =>
                val flip =
                  if (odd && f == 0) 1L | (1L << 21)
                  else if (odd && f == 1) 1L << 42
                  else if (odd) 0x0202020202020202L // far: not a match
                  else 0L
                graft.operators.Multimodal.JdkCodec
                  .encodeCodedPng(base ^ lanes(f) ^ flip, 1, 1)
              }
              org.apache.spark.sql.Row(
                id, graft.operators.MjpegAvi.encode(frames, 9, 8))
            }
          }(enc)
        }
        val mediaDir = java.nio.file.Files
          .createTempDirectory("graft_videoadmit_stage").toString
        videosOf(docs).repartition(40).write.mode("overwrite").parquet(mediaDir)
        val nMedia = spark.read.parquet(mediaDir).count()
        val corpusFps = Streams.videoCorpusFingerprints(
          videosOf(docs.filter(col("doc_id") % 4 === 0)), k = 4)
        run("stream_videoadmit_rows_per_sec", Seq(corpusFps),
          streamDir = mediaDir, streamSchema = mediaSchema,
          nInput = nMedia) { (s, h) =>
          val ledger = java.nio.file.Files
            .createTempDirectory("graft_videoadmit_ledger").toString + "/ledger"
          Streams.run(s, h)(Streams.videoAdmission(
            corpusFps, ledger, k = 4, maxHamming = 3, minMatches = 2))
        }
      case "bpescore" =>
        // tokenizer-artifact streaming encode, the production posture:
        // train ONCE on the corpus, PUBLISH via saveBpeMerges, and the
        // stream encodes with the LOADED artifact — the printed
        // train-vs-load contrast is the artifact's value (a per-deploy
        // retrain costs the full corpus scan + merge loop below AND
        // drifts with corpus growth). Stateless throughput: the merge
        // table is a driver-side literal inside the codegen'd encode.
        val t0 = System.nanoTime()
        val merges = graft.operators.Corpus.bpeTrain(
          docs, "text", numMerges = 512)
        val trainSec = (System.nanoTime() - t0) / 1e9
        val wh = java.nio.file.Files
          .createTempDirectory("graft_bpescore_wh").toString
        graft.operators.Corpus.saveBpeMerges(spark, wh, "bpe_merges", merges)
        val t1 = System.nanoTime()
        val loaded = graft.operators.Corpus.loadBpeMerges(spark, wh, "bpe_merges")
        val loadSec = (System.nanoTime() - t1) / 1e9
        require(loaded == merges, "snapshot round-trip must preserve rank order")
        println(f"""{"metric":"bpe_artifact_train_vs_load_sec","train_sec":$trainSec%.1f,"load_sec":$loadSec%.2f,"merges":${merges.length}}""")
        run("stream_bpescore_rows_per_sec", Seq.empty) { (s, h) =>
          Streams.perBatch(s)(graft.operators.Corpus.bpeEncode(_, "text", loaded))(h)
        }
    }
    spark.stop()
  }
}
