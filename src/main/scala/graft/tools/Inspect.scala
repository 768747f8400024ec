package graft.tools

import org.apache.spark.sql.SparkSession

/** Plan/profiling utility: `runMain graft.tools.Inspect <sfDir> <what>`.
  *
  *   - `explain:<query>`: print the formatted physical plan of a
  *     registered gate query (PushedFilters / ReadSchema / codegen spans).
  *   - `time:<query>`: run + time it.
  *   - `dedup-debug`: stage-by-stage row counts + timings of the
  *     MinHash-LSH pipeline (signature, banding, buckets, candidates,
  *     verify) — the operator most sensitive to corpus skew.
  */
object Inspect {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val what = args.lift(1).getOrElse("explain:q01_pricing_summary")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    // measurement-only override: test shuffle-partition sensitivity
    // without touching the Bench/Verify contract sessions
    val shuf = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", cpus)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shuf)
      .config("spark.sql.adaptive.enabled", "true")
      // measured round 20: canChangeCachedPlanOutputPartitioning=true
      // (AQE inside cached plans) coalesces KB-scale cached frames to 1
      // partition and SERIALIZES the CPU-bound consumers (q139's pair
      // search went 8.1 -> 16.6 s); keep the default (off), knob stays
      // for re-measurement
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
        sys.env.getOrElse("SPARK_GRAFT_CACHED_AQE", "false"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def timed[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[inspect] $label: ${(System.nanoTime() - t0) / 1e9}%.2fs")
      r
    }

    what.split(":", 2) match {
      case Array("explain", q) =>
        graft.SparkEntry.queries(q)(spark, sfDir).explain("formatted")
      case Array("time", q) =>
        val n = timed(q)(graft.SparkEntry.queries(q)(spark, sfDir).count())
        println(s"[inspect] $q rows: $n")
      case Array("timen", q) =>
        // noop-write timing — the Bench action. count() lets
        // ColumnPruning drop projection-only work and eliminate left
        // joins against unique-keyed model tables (the q130-shaped
        // trap); use THIS mode for anything scoring-shaped.
        timed(q)(graft.SparkEntry.queries(q)(spark, sfDir)
          .write.mode("overwrite").format("noop").save())
      case Array("timen5", q) =>
        // 5 warm in-JVM reps (cache cleared between, the Bench
        // discipline) + the median — the standalone twin of a driver
        // bench number for one query.
        val times = (1 to 5).map { i =>
          spark.sharedState.cacheManager.clearCache()
          val t0 = System.nanoTime()
          graft.SparkEntry.queries(q)(spark, sfDir)
            .write.mode("overwrite").format("noop").save()
          val s = (System.nanoTime() - t0) / 1e9
          println(f"[inspect] $q rep $i: $s%.2fs")
          s
        }
        println(f"[inspect] $q median-of-5: ${times.sorted.apply(2)}%.2fs")
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
      case Array("timemulti", spec) =>
        // batch warm timing: "timemulti:<reps>+<q1,q2,..>" — per query,
        // <reps> noop-sink reps with clearCache between (the Bench
        // discipline), printing each rep plus min/median. One JVM for
        // the whole target set; queries run in the given order.
        val Array(repsS, names) = spec.split("\\+", 2)
        val reps = repsS.toInt
        names.split(",").map(_.trim).filter(_.nonEmpty).foreach { q =>
          val times = (1 to reps).map { i =>
            spark.sharedState.cacheManager.clearCache()
            val t0 = System.nanoTime()
            graft.SparkEntry.queries(q)(spark, sfDir)
              .write.mode("overwrite").format("noop").save()
            (System.nanoTime() - t0) / 1e9
          }
          val s = times.sorted
          println(f"[inspect] $q reps=" +
            times.map(t => f"$t%.2f").mkString("[", ",", "]") +
            f" min=${s.head}%.2f med=${s(s.size / 2)}%.2f")
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
      case Array("scansmulti", names) =>
        // batch runtime scan/reuse audit: one JVM for the whole set;
        // per query, execute (collect) and report parquet-scan /
        // reused-exchange counts plus every AQEShuffleRead line with
        // the stage task-width pattern — the coalesced-hot-stage sweep.
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
            println(s"[inspect] $q: scans=$nScan reused=$nReuse " +
              s"aqeCoalesced=$nCoal")
            finalPlan.linesIterator
              .filter(_.contains("AQEShuffleRead"))
              .foreach(l => println("[inspect]   " + l.trim.take(160)))
            java.nio.file.Files.writeString(
              java.nio.file.Paths.get(s"/tmp/graft_plan_$q.txt"), finalPlan)
          } catch {
            case scala.util.control.NonFatal(e) =>
              println(s"[inspect] $q FAILED: ${e.getMessage}")
          }
        }
      case Array("scans", q) =>
        // Runtime scan/reuse audit: AQE exchange reuse does NOT show in
        // the static plan, so execute first (collect — gate outputs are
        // small) and read the FINAL adaptive plan, splitting off the
        // "== Initial Plan ==" section.
        val df = graft.SparkEntry.queries(q)(spark, sfDir)
        df.collect()
        val finalPlan = df.queryExecution.executedPlan.toString
          .split("== Initial Plan ==").head
        val nScan = "Scan parquet".r.findAllIn(finalPlan).length
        val nReuse = "ReusedExchange".r.findAllIn(finalPlan).length
        println(s"[inspect] $q executed plan: parquet scans=$nScan, " +
          s"reused exchanges=$nReuse")
        finalPlan.linesIterator
          .filter(l => l.contains("Scan parquet") || l.contains("ReusedExchange"))
          .foreach(l => println("[inspect]   " + l.trim.take(160)))
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"/tmp/graft_plan_$q.txt"), finalPlan)
      case Array("dedup-debug") =>
        import org.apache.spark.sql.functions._
        import graft.operators.Dedup
        val docs = graft.queries.Tables.documents(spark, sfDir)
        val n = timed("docs count")(docs.count())
        println(s"[inspect] docs: $n")
        val sig = docs.select(col("doc_id"),
          Dedup.minhashSignature(col("text")).as("sig"))
        timed("signatures")(sig.count())
        val stats = timed("bucket stats")(
          Dedup.lshBucketStats(docs, "text", "doc_id").collect())
        println("[inspect] bucket_size -> n_buckets:")
        stats.foreach(r => println(s"  ${r.getLong(0)} -> ${r.getLong(1)}"))
        val cand = timed("candidates")(
          Dedup.minhashCandidates(docs, "text", "doc_id").count())
        println(s"[inspect] candidate pairs: $cand")
        val verified = timed("verify")(
          Dedup.minhashNearDups(docs, "text", "doc_id", threshold = 0.7).count())
        println(s"[inspect] verified pairs: $verified")
      case other =>
        sys.error(s"unknown inspect target: ${other.mkString(":")}")
    }
    spark.stop()
  }
}
