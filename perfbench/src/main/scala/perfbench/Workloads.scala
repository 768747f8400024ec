package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ingest.{Preview, Readers, WetReader}
import graft.operators.{Corpus, Dedup}
import graft.sink.Save
import graft.streaming.Streams

/** One timed op: its wall time, the items it processed (rows or pages),
  * named sub-timings, and the first check that failed, if any.
  */
final case class OpRecord(wallS: Double, items: Long, parts: Map[String, Double], error: Option[String])

/** A workload drives a single-client closed loop: `setup` builds the
  * inputs and runs a checked warm-up op; `op` runs one timed, checked op.
  */
trait Workload {
  /** Ops in one pass over the inputs; the loop stops only between passes. */
  def opsPerPass: Int = 1
  def setup(rep: Int): Option[String]
  def op(i: Int): OpRecord
  def close(): Unit
}

object Workload {
  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** A progress line for the run's log (standard error). */
  def log(msg: String): Unit = System.err.println(s"perfbench: $msg")

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** Parquet part files under a published table: (count, bytes). */
  def partFiles(dir: String): (Long, Long) = {
    val parts = Option(new File(dir).listFiles()).getOrElse(Array.empty[File])
      .filter(f => f.getName.startsWith("part-"))
    (parts.length.toLong, parts.map(_.length).sum)
  }
}

/** upload_save: preview a file, then save a typed projection of it. */
final class UploadSave(spark: SparkSession, tracer: Tracer, seed: Long, work: File,
    shape: Gen.UploadShape) extends Workload {
  private var truth: IndexedSeq[Gen.FileTruth] = IndexedSeq.empty
  private var inputDir: File = _
  private val warehouse = new File(work, "warehouse").getPath
  private var tag = ""

  /** Op order over the size-sorted files: bit-reversed, so every prefix of
    * a pass mixes small and large files.
    */
  private var order: IndexedSeq[Int] = IndexedSeq.empty

  def setup(rep: Int): Option[String] = {
    tag = s"r$rep"
    inputDir = new File(work, s"upload-$rep")
    truth = Gen.uploadFiles(seed, inputDir, shape).toIndexedSeq
    Gen.writeText(new File(inputDir, "truth.json"), Gen.truthJson(files))
    val bits = 32 - Integer.numberOfLeadingZeros(math.max(1, files.length - 1))
    order = (0 until (1 << bits)).map(i => Integer.reverse(i) >>> (32 - bits))
      .filter(_ < files.length)
    // warm-up: the median-size file and the largest
    run(files(files.length / 2), s"warm_${tag}").error
      .orElse(run(files.last, s"warm_${tag}_last").error)
  }

  override def opsPerPass: Int = files.length

  /** The truth of the current upload set, sorted by row count. */
  def files: IndexedSeq[Gen.FileTruth] = truth

  def op(i: Int): OpRecord = run(files(order(i % order.length)), s"t_${tag}_$i")

  /** One upload: preview then save, timed; then the checks, untimed. */
  def run(f: Gen.FileTruth, table: String): OpRecord = {
    val path = new File(inputDir, f.file).getPath
    val t0 = System.nanoTime()
    val pv = tracer.span("ingest.preview")(Preview.preview(spark, path))
    val previewS = Workload.secondsSince(t0)
    if (tracer.enabled) tracer.span("ingest.read")(Workload.noop(Readers.read(spark, path)))
    val t1 = System.nanoTime()
    val out = tracer.span("sink.save")(Save.ingest(spark, path, warehouse, table, f.selected, f.types))
    val saveS = Workload.secondsSince(t1)
    val wall = Workload.secondsSince(t0)
    val err = Checks.upload(spark, f, pv, out)
    if (err.isEmpty) tracer.count("ingest.rows_out", f.rows.toDouble)
    val (nFiles, nBytes) = Workload.partFiles(out)
    tracer.count("sink.files_written", nFiles.toDouble)
    tracer.count("sink.bytes_written", nBytes.toDouble)
    Workload.deleteTree(new File(out))
    OpRecord(wall, if (err.isEmpty) f.rows else 0L, Map("preview_s" -> previewS, "save_s" -> saveS), err)
  }

  def close(): Unit = ()
}

/** crawl_batch: one curation job over a fixed set of WET segments. */
final class CrawlBatch(spark: SparkSession, tracer: Tracer, seed: Long, work: File,
    nPages: Int, nSegments: Int) extends Workload {
  private val held = ArrayBuffer.empty[DataFrame]
  private var inputDir: File = _
  private var truth: Gen.CrawlTruth = _
  private val warehouse = new File(work, "warehouse").getPath
  private var tag = ""

  def setup(rep: Int): Option[String] = {
    tag = s"r$rep"
    inputDir = new File(work, s"crawl-$rep")
    truth = Gen.crawlBatch(seed, inputDir, nPages, nSegments)
    Gen.writeText(new File(inputDir, "truth.json"), Checks.crawlTruthJson(truth))
    job(s"warm_$tag").error
  }

  def op(i: Int): OpRecord = job(s"crawl_${tag}_$i")

  /** One layer call inside its span. Layers are lazy, so a traced run
    * materialises the layer's output to a noop sink inside the span and
    * keeps it cached, so the next layer does not recompute it.
    */
  private def stage(name: String)(make: => DataFrame): DataFrame =
    tracer.span(name) {
      val df = make
      if (!tracer.enabled) df
      else {
        val p = df.persist()
        held += p
        Workload.noop(p)
        p
      }
    }

  private def releaseStages(): Unit = {
    held.foreach(_.unpersist())
    held.clear()
    graft.ops.Caches.release()
  }

  private def job(table: String): OpRecord = {
    val t0 = System.nanoTime()
    val pages = stage("ingest.wet_read") {
      WetReader.read(spark, inputDir.getPath, globFilter = Some("*.warc.wet.gz"))
        .select(regexp_extract(col("url"), Gen.UrlIdPattern, 1).cast("long").as("id"), col("text"))
    }
    val kept = stage("operators.c4_gopher") {
      val c4 = Corpus.c4Clean(pages, "text", "id").filter(col("kept")).select("id", "text")
      val gopher = Corpus.gopherQuality(c4, "text", "id").filter(col("kept")).select("id")
      c4.join(gopher, Seq("id"), "left_semi")
    }
    val unique = stage("operators.dedup_exact")(Dedup.exact(kept, "text", "id"))
    val pairs = stage("operators.minhash")(Dedup.minhashNearDups(unique, "text", "id"))
    val survivors = stage("operators.survivors")(Dedup.nearDupSurvivors(unique, pairs, "id"))
    val out = tracer.span("sink.publish") {
      Save.save(spark, survivors, warehouse, table, Seq("id", "text"),
        Map("id" -> "BIGINT", "text" -> "TEXT"))
    }
    val wall = Workload.secondsSince(t0)
    if (tracer.enabled && tracer.op >= 0) {
      val nIn = pages.count().toDouble
      tracer.count("ingest.rows_out", nIn)
      tracer.count("operators.kept_ratio", kept.count() / nIn)
      val candidates = Dedup.minhashCandidates(unique, "text", "id").count().toDouble
      tracer.count("operators.lsh_candidates", candidates)
      tracer.count("operators.verify_precision", if (candidates == 0) 0.0 else pairs.count() / candidates)
      val (nFiles, nBytes) = Workload.partFiles(out)
      tracer.count("sink.files_written", nFiles.toDouble)
      tracer.count("sink.bytes_written", nBytes.toDouble)
    }
    releaseStages()
    val err = Checks.survivors(spark, truth, out)
    Workload.deleteTree(new File(out))
    OpRecord(wall, if (err.isEmpty) truth.pages else 0L, Map.empty, err)
  }

  def close(): Unit = ()
}

/** crawl_stream: segments land one at a time in a watched directory; the
  * curation stream admits them against a corpus store built in set-up.
  */
final class CrawlStream(spark: SparkSession, tracer: Tracer, seed: Long, work: File,
    corpusPages: Int, segmentPages: Int) extends Workload {
  private val warehouse = new File(work, "warehouse").getPath
  private var corpus: IndexedSeq[Gen.Page] = IndexedSeq.empty
  private var store: Seq[DataFrame] = Nil
  private var query: org.apache.spark.sql.streaming.StreamingQuery = _
  private var dir: File = _
  private val published = new java.util.concurrent.ConcurrentLinkedQueue[String]()

  def setup(rep: Int): Option[String] = {
    close()
    val t0 = System.nanoTime()
    dir = new File(work, s"stream-$rep")
    Seq("landing", "staging").foreach(d => new File(dir, d).mkdirs())
    corpus = Gen.streamCorpus(seed, corpusPages)
    val corpusDf = spark.createDataFrame(spark.sparkContext.parallelize(
      corpus.map(p => (p.id, p.text)), spark.sparkContext.defaultParallelism)).toDF("doc_id", "text")
    val curated = Corpus.curatePages(corpusDf, "text", "doc_id").filter(col("kept"))
      .select(col("id").as("doc_id"), col("clean")).persist()
    val hashes = Streams.dedupCorpusHashes(curated, "clean").persist()
    val sigs = Streams.nearDupCorpusSignatures(curated, "clean", "doc_id").persist()
    store = Seq(hashes, sigs)
    store.foreach(_.count())
    curated.unpersist()
    val tStore = System.nanoTime()
    val docs = Streams.readWetStream(spark, new File(dir, "landing").getPath)
      .select(regexp_extract(col("url"), Gen.UrlIdPattern, 1).cast("long").as("doc_id"), col("text"))
    val tag = s"r$rep"
    query = Streams.curateIncrementalBatches(docs, hashes, sigs, "text", "doc_id",
      new File(dir, "ledger-exact").getPath, new File(dir, "ledger-near").getPath,
      onBatch = (batch: DataFrame, batchId: Long) => {
        published.add(Save.save(spark, batch, warehouse, s"seg_${tag}_$batchId",
          Seq("doc_id", "clean"), Map("doc_id" -> "BIGINT", "clean" -> "TEXT")))
        ()
      })
      .option("checkpointLocation", new File(dir, "checkpoint").getPath)
      .start()
    val tQuery = System.nanoTime()
    val warm = segment(-1)
    Workload.log(f"setup $rep: corpus store ${(tStore - t0) / 1e9}%.2f s, " +
      f"query start ${(tQuery - tStore) / 1e9}%.2f s, warm-up segment ${warm.wallS}%.2f s")
    warm.error
  }

  def op(i: Int): OpRecord = segment(i)

  private def segment(index: Int): OpRecord = {
    val (pages, truth) = Gen.streamSegment(seed, index, segmentPages, corpus)
    val name = f"segment-$index%05d.warc.wet.gz"
    val staged = new File(new File(dir, "staging"), name)
    Gen.writeSegment(staged, pages)
    val t0 = System.nanoTime()
    Files.move(staged.toPath, new File(new File(dir, "landing"), name).toPath,
      StandardCopyOption.ATOMIC_MOVE)
    tracer.span("streaming.batch") {
      // processAllAvailable can return on a trigger that listed the
      // directory just before the move; wait for this segment's batch
      while (published.isEmpty) {
        query.processAllAvailable()
        if (published.isEmpty) {
          require(Workload.secondsSince(t0) < 120, s"segment $index was not processed within 120 s")
          Thread.sleep(5)
        }
      }
    }
    val wall = Workload.secondsSince(t0)
    val outs = Iterator.continually(published.poll()).takeWhile(_ != null).toList
    val err = Checks.admitted(spark, index, truth, outs)
    outs.foreach(o => Workload.deleteTree(new File(o)))
    OpRecord(wall, if (err.isEmpty) truth.pages.toLong else 0L, Map.empty, err)
  }

  def close(): Unit = {
    if (query != null) { query.stop(); query = null }
    store.foreach(_.unpersist())
    store = Nil
    published.clear()
  }
}

/** Output checks against the generator's truth. Each returns the first
  * mismatch as a message, or None.
  */
object Checks {
  def upload(spark: SparkSession, f: Gen.FileTruth, pv: Preview.Result, out: String): Option[String] = {
    val rows = pv.rows.map(r => (0 until r.length).map(j => Option(r.get(j)).map(_.toString)))
    val back = spark.read.parquet(out)
      .agg(count(lit(1)), sum(col(s"`${f.decimalCol}`")))
      .first()
    val sum0 = Option(back.getDecimal(1)).getOrElse(java.math.BigDecimal.ZERO)
    if (pv.headers != f.headers) Some(s"${f.file}: preview headers ${pv.headers} != ${f.headers}")
    else if (rows != f.preview) Some(s"${f.file}: preview rows differ from the first 10 generated rows")
    else if (back.getLong(0) != f.rows) Some(s"${f.file}: published ${back.getLong(0)} rows, expected ${f.rows}")
    else if (sum0.compareTo(f.decimalSum) != 0)
      Some(s"${f.file}: sum(${f.decimalCol}) = $sum0, expected ${f.decimalSum}")
    else None
  }

  def survivors(spark: SparkSession, t: Gen.CrawlTruth, out: String): Option[String] = {
    val n = spark.read.parquet(out).count()
    if (n == t.survivors) None else Some(s"crawl job published $n survivors, expected ${t.survivors}")
  }

  def admitted(spark: SparkSession, index: Int, t: Gen.SegmentTruth, outs: Seq[String]): Option[String] = {
    val n = outs.map(o => spark.read.parquet(o).count()).sum
    if (n == t.admitted) None else Some(s"segment $index admitted $n pages, expected ${t.admitted}")
  }

  def crawlTruthJson(t: Gen.CrawlTruth): String =
    s"""{"pages":${t.pages},"exact_copies":${t.exactCopies},"near_copies":${t.nearCopies},""" +
      s""""c4_fail":${t.c4Fail},"gopher_fail":${t.gopherFail},"survivors":${t.survivors}}""" + "\n"
}
