package graft.tools

import org.apache.spark.sql.SparkSession

/** Plan-audit utility: `runMain graft.tools.Inspect <sfDir> <mode>:<arg>`
  * over the registered gate queries. Timing belongs to `graft.Bench` and
  * `perfbench`; these modes read plans and attribute work.
  *
  *   - `explain:<query>`: print the formatted physical plan
  *     (PushedFilters / ReadSchema / codegen spans).
  *   - `explainfiles:<outDir>+<suffix>+<q1,q2,..>`: write each query's
  *     formatted plan to `<outDir>/<query>_<suffix>.txt`.
  *   - `show:<query>`: print up to 100 result rows.
  *   - `scans:<q1,q2,..>`: execute each query and audit its final
  *     adaptive plan (parquet scans, reused exchanges, AQE coalescing).
  *   - `jobs:<query>`: per-job wall ms, task count and description.
  *   - `stages:<query>`: the 25 slowest stages.
  */
object Inspect {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val what = args.lift(1).getOrElse("explain:q01_pricing_summary")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      // measured round 20: canChangeCachedPlanOutputPartitioning=true
      // (AQE inside cached plans) coalesces KB-scale cached frames to 1
      // partition and SERIALIZES the CPU-bound consumers (q139's pair
      // search went 8.1 -> 16.6 s)
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    what.split(":", 2) match {
      case Array("explain", q) =>
        graft.SparkEntry.queries(q)(spark, sfDir).explain("formatted")
      case Array("show", q) =>
        graft.SparkEntry.queries(q)(spark, sfDir).show(100, truncate = false)
      case Array("explainfiles", spec) =>
        // batch plan capture: "explainfiles:<outDir>+<suffix>+<q1,q2,..>"
        // writes <outDir>/<query>_<suffix>.txt with the FORMATTED plan of
        // each named query — one JVM for the whole set (a per-query
        // sbt runMain pays ~60 s of JVM/compile warmup each).
        val Array(outDir, suffix, names) = spec.split("\\+", 3)
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
        names.split(",").map(_.trim).filter(_.nonEmpty).foreach { q =>
          val df = graft.SparkEntry.queries(q)(spark, sfDir)
          val plan = df.queryExecution.explainString(
            org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
          java.nio.file.Files.writeString(
            java.nio.file.Paths.get(s"$outDir/${q}_$suffix.txt"), plan)
          println(s"[inspect] wrote $outDir/${q}_$suffix.txt")
        }
      case Array("jobs", q) =>
        // Per-JOB time attribution for one query (noop-sink action):
        // registers a listener, prints every Spark job's wall ms, task
        // count and description — the driver-scheduling-vs-compute
        // breakdown the iterative gates need (their cost is N small
        // actions, invisible to stage-level reasoning from outside).
        val jobs = new java.util.concurrent.ConcurrentHashMap[
          Int, (Long, String, Int)]()
        val done = new java.util.concurrent.ConcurrentHashMap[
          Int, (Long, String)]()
        spark.sparkContext.addSparkListener(
          new org.apache.spark.scheduler.SparkListener {
            override def onJobStart(
                js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
              val desc = Option(js.properties)
                .flatMap(p => Option(p.getProperty("spark.job.description")))
                .getOrElse("")
              jobs.put(js.jobId,
                (js.time, desc, js.stageInfos.map(_.numTasks).sum))
            }
            override def onJobEnd(
                je: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
              val (t0, desc, _) = jobs.getOrDefault(je.jobId, (je.time, "", 0))
              done.put(je.jobId, (je.time - t0, desc))
            }
          })
        // warm rep first (codegen/JIT), then the measured rep
        graft.SparkEntry.queries(q)(spark, sfDir)
          .write.mode("overwrite").format("noop").save()
        spark.sharedState.cacheManager.clearCache()
        jobs.clear(); done.clear()
        val t0 = System.nanoTime()
        graft.SparkEntry.queries(q)(spark, sfDir)
          .write.mode("overwrite").format("noop").save()
        val wall = (System.nanoTime() - t0) / 1e9
        Thread.sleep(500)
        import scala.jdk.CollectionConverters._
        val rows = done.asScala.toSeq.sortBy(_._1)
        var acc = 0L
        rows.foreach { case (id, (ms, desc)) =>
          val nt = jobs.getOrDefault(id, (0L, "", 0))._3
          acc += ms
          println(f"[inspect-job] #$id%-4d ${ms}%6d ms  tasks=$nt%-4d ${desc.take(90)}")
        }
        println(f"[inspect-job] $q: ${rows.size} jobs, ${acc} ms in jobs, " +
          f"wall $wall%.2f s (gap = driver/planning ${wall - acc / 1000.0}%.2f s)")
      case Array("stages", q) =>
        // Per-STAGE attribution (the jobs: mode one level down): stage
        // wall ms, task count, stage name — finds the hot stage inside
        // a fat job.
        val done = new java.util.concurrent.ConcurrentLinkedQueue[
          (Int, Long, Int, String)]()
        spark.sparkContext.addSparkListener(
          new org.apache.spark.scheduler.SparkListener {
            override def onStageCompleted(
                sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
              val si = sc.stageInfo
              val ms = (for {
                a <- si.completionTime; b <- si.submissionTime
              } yield a - b).getOrElse(-1L)
              done.add((si.stageId, ms, si.numTasks, si.name.take(120)))
            }
          })
        graft.SparkEntry.queries(q)(spark, sfDir)
          .write.mode("overwrite").format("noop").save()
        spark.sharedState.cacheManager.clearCache()
        done.clear()
        val t0s = System.nanoTime()
        graft.SparkEntry.queries(q)(spark, sfDir)
          .write.mode("overwrite").format("noop").save()
        val wallS = (System.nanoTime() - t0s) / 1e9
        Thread.sleep(500)
        import scala.jdk.CollectionConverters._
        done.asScala.toSeq.sortBy(-_._2).take(25).foreach {
          case (id, ms, nt, name) =>
            println(f"[inspect-stage] #$id%-5d ${ms}%6d ms tasks=$nt%-4d $name")
        }
        println(f"[inspect-stage] $q wall $wallS%.2f s")
      case Array("scans", names) =>
        // Runtime scan/reuse audit, one JVM for the whole set: AQE
        // exchange reuse does NOT show in the static plan, so execute
        // first (collect — gate outputs are small) and read the FINAL
        // adaptive plan, splitting off the "== Initial Plan ==" section.
        names.split(",").map(_.trim).filter(_.nonEmpty).foreach { q =>
          spark.sharedState.cacheManager.clearCache()
          try {
            val df = graft.SparkEntry.queries(q)(spark, sfDir)
            df.collect()
            val finalPlan = df.queryExecution.executedPlan.toString
              .split("== Initial Plan ==").head
            val nScan = "Scan parquet".r.findAllIn(finalPlan).length
            val nReuse = "ReusedExchange".r.findAllIn(finalPlan).length
            val nCoal = "AQEShuffleRead coalesced".r.findAllIn(finalPlan).length
            println(s"[inspect] $q: parquet scans=$nScan, " +
              s"reused exchanges=$nReuse, aqeCoalesced=$nCoal")
            finalPlan.linesIterator
              .filter(l => l.contains("Scan parquet") ||
                l.contains("ReusedExchange") || l.contains("AQEShuffleRead"))
              .foreach(l => println("[inspect]   " + l.trim.take(160)))
            java.nio.file.Files.writeString(
              java.nio.file.Paths.get(s"/tmp/graft_plan_$q.txt"), finalPlan)
          } catch {
            case scala.util.control.NonFatal(e) =>
              println(s"[inspect] $q FAILED: ${e.getMessage}")
          }
        }
      case other =>
        sys.error(s"unknown inspect target: ${other.mkString(":")}")
    }
    spark.stop()
  }
}
