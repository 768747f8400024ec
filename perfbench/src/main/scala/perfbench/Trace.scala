package perfbench

import java.io.File
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Spans around the benchmark's calls into each engine module, with Spark
  * task metrics attributed to them.
  *
  * A span is `<module>.<step>` with start, end, parent and op id. While a
  * span is open the driver thread's job group names it, so every job the
  * call starts is attributed to the innermost open span. Jobs started on
  * other threads (streaming micro-batches) carry no such group; they go to
  * the innermost span open at the job's start time. Counters are therefore
  * exclusive: a parent span's cpu_s excludes its children's.
  *
  * Spans stay in memory and are written as JSON lines when the run ends.
  * A disabled tracer runs each body bare and registers no listener.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean, cores: Int) {
  import Tracer._

  private val sc = spark.sparkContext
  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private val opWalls = mutable.LinkedHashMap.empty[Int, Double]
  private val counts = mutable.LinkedHashMap.empty[String, Double]

  /** Op id spans are recorded under; warm-up ops are negative. */
  var op: Int = -1

  private final class Job(val group: String, val timeMs: Long, val name: String) {
    var tasks, failed = 0L
    var runMs, cpuNs, gcMs, shuffleBytes, fetchWaitMs = 0L
  }
  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val progress = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Long)]()

  if (enabled) {
    sc.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
        val name = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
        jobs.put(e.jobId, new Job(group, e.time, name))
        e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val j = jobs.get(stageJob.getOrDefault(e.stageId, -1))
        if (j != null) j.synchronized {
          j.tasks += 1
          if (e.taskInfo.failed || e.taskInfo.killed) j.failed += 1
          val m = e.taskMetrics
          if (m != null) {
            j.runMs += m.executorRunTime
            j.cpuNs += m.executorCpuTime
            j.gcMs += m.jvmGCTime
            j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
            j.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
          }
        }
      }
    })
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val d = e.progress.durationMs
        if (d.containsKey("addBatch"))
          progress.add((java.time.Instant.parse(e.progress.timestamp).toEpochMilli,
            d.get("addBatch").longValue, Option(d.get("walCommit")).map(_.longValue).getOrElse(0L)))
      }
    })
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = new Span(spans.length, name, stack.headOption.map(_.id).getOrElse(-1), op,
        System.nanoTime(), System.currentTimeMillis())
      spans += s
      stack = s :: stack
      sc.setJobGroup(s"perfbench-span-${s.id}", name, interruptOnCancel = false)
      try body
      finally {
        s.endNs = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(s"perfbench-span-${p.id}", p.name, interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** Record the wall time of a finished op. */
  def opDone(opId: Int, wallS: Double): Unit = if (enabled) opWalls(opId) = wallS

  /** Add to a layer count for the current (measured) op. */
  def count(name: String, value: Double): Unit =
    if (enabled && op >= 0) counts(name) = counts.getOrElse(name, 0.0) + value

  /** Per-span statistics; call once, after the last op. */
  def finish(): Seq[SpanStats] = {
    if (!enabled) return Nil
    org.apache.spark.PerfbenchAccess.drainListenerBus(sc)
    val byId = spans.map(s => s.id -> new SpanStats(s)).toMap
    def depth(s: Span): Int = if (s.parent < 0) 0 else 1 + depth(spans(s.parent))
    jobs.asScala.foreach { case (_, j) =>
      val target =
        if (j.group.startsWith("perfbench-span-")) byId.get(j.group.stripPrefix("perfbench-span-").toInt)
        else spans.filter(s => s.startMs <= j.timeMs && j.timeMs <= s.endMs)
          .sortBy(s => -depth(s)).headOption.map(s => byId(s.id))
      target.foreach { t =>
        t.jobs += 1
        if (j.name.contains("Sniffer")) t.sniffJobs += 1
        t.tasks += j.tasks; t.failedTasks += j.failed
        t.runS += j.runMs / 1e3; t.cpuS += j.cpuNs / 1e9; t.gcS += j.gcMs / 1e3
        t.shuffleMb += j.shuffleBytes / 1e6; t.fetchWaitS += j.fetchWaitMs / 1e3
      }
    }
    progress.asScala.foreach { case (t, add, wal) =>
      spans.filter(s => s.name == "streaming.batch" && s.startMs <= t && t <= s.endMs)
        .headOption.foreach { s =>
          val st = byId(s.id)
          st.batches += 1; st.addBatchMs += add; st.walCommitMs += wal
        }
    }
    spans.foreach { s =>
      val kids = spans.filter(_.parent == s.id).map(c => byId(c.id).wallS).sum
      byId(s.id).selfS = byId(s.id).wallS - kids
    }
    spans.map(s => byId(s.id)).toSeq
  }

  /** The per-layer metrics: every counter of every span name, as a mean
    * per measured op (a layer a workload bypasses reads 0), plus the
    * layer counts.
    */
  def layerMetrics(stats: Seq[SpanStats]): Seq[(String, Double, String)] = {
    val measured = stats.filter(_.span.op >= 0)
    val nOps = math.max(1, opWalls.keys.count(_ >= 0))
    val perSpan = SpanNames.flatMap { n =>
      val ss = measured.filter(_.span.name == n)
      def m(f: SpanStats => Double) = ss.map(f).sum / nOps
      Seq(
        (s"$n.wall_s", m(_.wallS), "s"),
        (s"$n.self_s", m(_.selfS), "s"),
        (s"$n.cpu_s", m(_.cpuS), "s"),
        (s"$n.gc_s", m(_.gcS), "s"),
        (s"$n.idle_core_s", m(s => s.selfS * cores - s.runS), "s"),
        (s"$n.jobs", m(_.jobs.toDouble), "count"),
        (s"$n.tasks", m(_.tasks.toDouble), "count"),
        (s"$n.shuffle_mb", m(_.shuffleMb), "MB"),
        (s"$n.fetch_wait_s", m(_.fetchWaitS), "s"),
        (s"$n.failed_tasks", m(_.failedTasks.toDouble), "count"))
    }
    val batch = measured.filter(_.span.name == "streaming.batch")
    val nBatches = math.max(1, batch.map(_.batches).sum)
    def c(n: String) = counts.getOrElse(n, 0.0) / nOps
    perSpan ++ Seq(
      ("ingest.rows_out", c("ingest.rows_out"), "rows"),
      ("ingest.sniff_jobs", measured.filter(_.span.name == "ingest.preview").map(_.sniffJobs).sum.toDouble / nOps, "count"),
      ("sink.bytes_written", c("sink.bytes_written"), "bytes"),
      ("sink.files_written", c("sink.files_written"), "count"),
      ("operators.kept_ratio", c("operators.kept_ratio"), "ratio"),
      ("operators.lsh_candidates", c("operators.lsh_candidates"), "pairs"),
      ("operators.verify_precision", c("operators.verify_precision"), "ratio"),
      ("streaming.jobs_per_batch", batch.map(_.jobs).sum.toDouble / nBatches, "count"),
      ("streaming.add_batch_ms", batch.map(_.addBatchMs).sum.toDouble / nBatches, "ms"),
      ("streaming.wal_commit_ms", batch.map(_.walCommitMs).sum.toDouble / nBatches, "ms"))
  }

  /** Spans and op walls as JSON lines. */
  def writeJsonl(file: File, stats: Seq[SpanStats]): Unit = {
    val sb = new StringBuilder
    opWalls.foreach { case (o, w) => sb.append(s"""{"type":"op","op":$o,"wall_s":$w}""").append('\n') }
    stats.foreach { s =>
      sb.append(s"""{"type":"span","id":${s.span.id},"name":"${s.span.name}","parent":${s.span.parent},""" +
        s""""op":${s.span.op},"start_ms":${s.span.startMs},"end_ms":${s.span.endMs},"wall_s":${s.wallS},""" +
        s""""self_s":${s.selfS},"cpu_s":${s.cpuS},"gc_s":${s.gcS},"run_s":${s.runS},"jobs":${s.jobs},""" +
        s""""tasks":${s.tasks},"shuffle_mb":${s.shuffleMb},"fetch_wait_s":${s.fetchWaitS},""" +
        s""""failed_tasks":${s.failedTasks},"batches":${s.batches}}""").append('\n')
    }
    Gen.writeText(file, sb.toString)
  }
}

object Tracer {
  /** Every span the benchmark records, in pipeline order. */
  val SpanNames: Seq[String] = Seq(
    "ingest.preview", "ingest.read", "ingest.wet_read", "sink.save", "sink.publish",
    "operators.c4_gopher", "operators.dedup_exact", "operators.minhash",
    "operators.survivors", "streaming.batch")

  final class Span(val id: Int, val name: String, val parent: Int, val op: Int,
      val startNs: Long, val startMs: Long) {
    var endNs = 0L
    var endMs = 0L
  }

  final class SpanStats(val span: Span) {
    val wallS: Double = (span.endNs - span.startNs) / 1e9
    var selfS, cpuS, gcS, runS, shuffleMb, fetchWaitS = 0.0
    var jobs, tasks, failedTasks, sniffJobs, batches = 0L
    var addBatchMs, walCommitMs = 0L
  }
}
