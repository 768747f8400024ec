package perfbench

import java.io.File

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** Benchmark JVM: one workload, one seed, one run.
  *
  * {{{
  * perfbench.Main --workload <upload_save|crawl_batch|crawl_stream> --seed <n>
  *   --seconds <s> --trace <0|1> --work <dir> --out <result.json> [--spans <spans.jsonl>]
  * }}}
  *
  * Set-up (input generation, store build, checked warm-up op) runs
  * [[SetupReps]] times and `setup_s` is its median. Then ops run in a
  * closed loop until `--seconds` have passed. The result file holds the
  * end-to-end metrics (always), the per-layer metrics (traced runs), the
  * workload's own named metrics and the check failures; `run.py` turns it
  * into the benchmark's output line.
  */
object Main {
  val SetupReps = 3

  /** Inputs per workload, sized so one op is a fraction of a run. */
  val Upload = Gen.UploadShape(delimited = 10, minRows = 2000, maxRows = 100000,
    binary = 1, minBinaryRows = 200, maxBinaryRows = 3000)
  val BatchPages = 2000
  val BatchSegments = 8
  val StreamCorpusPages = 1000
  val StreamSegmentPages = 100

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val work = new File(a("work"))
    val cores = Runtime.getRuntime.availableProcessors
    val load0 = loadAvg()

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "spark-warehouse").getPath)
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val tracer = new Tracer(spark, traced, cores)

    val wl: Workload = workload match {
      case "upload_save" => new UploadSave(spark, tracer, seed, work, Upload)
      case "crawl_batch" => new CrawlBatch(spark, tracer, seed, work, BatchPages, BatchSegments)
      case "crawl_stream" => new CrawlStream(spark, tracer, seed, work, StreamCorpusPages, StreamSegmentPages)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val errors = ArrayBuffer.empty[String]
    val setupS = (0 until SetupReps).map { rep =>
      tracer.op = -1 - rep
      val t0 = System.nanoTime()
      val err = try wl.setup(rep) catch { case e: Exception => Some(s"setup: $e") }
      err.foreach(errors += _)
      val t = Workload.secondsSince(t0)
      Workload.log(f"set-up $rep took $t%.3f s")
      t
    }
    val ops = measure(wl, tracer, seconds)
    Workload.log(s"op walls: ${ops.map(o => f"${o.wallS}%.3f").mkString(" ")}")
    ops.flatMap(_.error).foreach(errors += _)
    wl.close()
    val stats = tracer.finish()
    a.get("spans").foreach(p => tracer.writeJsonl(new File(p), stats))
    val layers = tracer.layerMetrics(stats)
    val load1 = loadAvg()
    spark.stop()

    val walls = ops.map(_.wallS).toIndexedSeq
    val itemsPerS = ops.map(_.items).sum / walls.sum
    val endToEnd = Seq(
      ("op_p50_s", Stats.median(walls), "s"),
      ("items_per_s", itemsPerS, "items/s"),
      ("setup_s", Stats.median(setupS), "s"))
    val attempted = ops.length + SetupReps
    val failed = errors.length
    def part(k: String) = ops.flatMap(_.parts.get(k)).toIndexedSeq
    val named = workload match {
      case "upload_save" =>
        Seq(("rows_per_s", itemsPerS, "rows/s"),
          ("preview_p50_s", Stats.median(part("preview_s")), "s")) ++
          Stats.tail("preview_tail", part("preview_s")) ++
          Seq(("save_p50_s", Stats.median(part("save_s")), "s"))
      case "crawl_batch" =>
        Seq(("docs_per_s", itemsPerS, "pages/s"))
      case _ =>
        Seq(("segment_p50_s", Stats.median(walls), "s")) ++
          Stats.tail("segment_tail", walls) ++
          Seq(("stream_docs_per_s", itemsPerS, "pages/s"))
    }
    val all = named ++ Seq(
      ("failed_ops_ratio", failed.toDouble / attempted, "ratio"),
      ("peak_rss_mb", peakRssMb(), "MB"))

    def obj(ms: Seq[(String, Double, String)]) =
      ms.map { case (n, v, u) => s""""$n":{"value":$v,"unit":"$u"}""" }.mkString("{", ",", "}")
    def str(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"").replace("\n", " ") + "\""
    val json =
      s"""{"workload":"$workload","seed":$seed,"trace":${if (traced) 1 else 0},""" +
        s""""correct":${failed == 0},"attempted":$attempted,"failed":$failed,""" +
        s""""ops":${ops.length},"end_to_end":${obj(endToEnd)},"named":${obj(all)},""" +
        s""""per_layer":${obj(layers)},""" +
        s""""noise":{"nproc":$cores,"heap_mb":${Runtime.getRuntime.maxMemory / (1 << 20)},""" +
        s""""load_start":${str(load0)},"load_end":${str(load1)}},""" +
        s""""errors":${errors.map(str).mkString("[", ",", "]")}}"""
    Gen.writeText(new File(a("out")), json + "\n")
  }

  /** The closed loop: ops back to back until `seconds` have passed and a
    * pass over the inputs is complete (at least one pass). An op that
    * throws is recorded as failed with its message.
    */
  def measure(wl: Workload, tracer: Tracer, seconds: Double): Seq[OpRecord] = {
    val ops = ArrayBuffer.empty[OpRecord]
    val loop0 = System.nanoTime()
    while (ops.isEmpty || ops.length % wl.opsPerPass != 0 || Workload.secondsSince(loop0) < seconds) {
      val i = ops.length
      tracer.op = i
      val t0 = System.nanoTime()
      val rec = try wl.op(i) catch {
        case e: Exception => OpRecord(Workload.secondsSince(t0), 0L, Map.empty, Some(s"op $i: $e"))
      }
      tracer.opDone(i, rec.wallS)
      ops += rec
    }
    ops.toSeq
  }

  private def loadAvg(): String =
    scala.util.Try(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/proc/loadavg"))).trim.split(" ").take(3).mkString(" ")).getOrElse("")

  private def peakRssMb(): Double =
    scala.util.Try {
      val line = scala.io.Source.fromFile("/proc/self/status").getLines().find(_.startsWith("VmHWM:")).get
      line.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(Runtime.getRuntime.totalMemory / 1048576.0)
}

object Stats {
  def median(xs: IndexedSeq[Double]): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest whole percentile with at least ten samples beyond it
    * (nearest rank) as `<name>_s`, with the percentile and the sample
    * count beside it; nothing when there are ten samples or fewer.
    */
  def tail(name: String, xs: IndexedSeq[Double]): Seq[(String, Double, String)] = {
    val n = xs.length
    if (n <= 10) Nil
    else {
      val p = math.floor(100.0 * (n - 10) / n).toInt
      val rank = math.max(1, math.ceil(p / 100.0 * n).toInt)
      Seq((s"${name}_s", xs.sorted.apply(rank - 1), "s"),
        (s"${name}_percentile", p.toDouble, "percentile"),
        (s"${name}_samples", n.toDouble, "count"))
    }
  }
}
