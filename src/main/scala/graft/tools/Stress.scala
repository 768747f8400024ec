package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Corpus, Dedup, Paths, Similarity, TimeSeries}

/** 10×-sf0.1 stress probe (50k docs with 10 exact copies each — an
  * adversarial dup density that hammers hot LSH buckets): times the
  * dedup/similarity pipelines on /tmp-replicated data to evidence the
  * scale claims. Run `python`-side replication first (see docs/SCALE.md).
  */
object Stress {
  /** noop-write timing (the Bench action): count() lets ColumnPruning
    * drop scored/cleaned output columns AND eliminate left joins
    * against unique-keyed model relations — operators whose cost IS
    * that work time as a bare scan under count().
    */
  private def timeN(label: String)(df: DataFrame): Unit = {
    val t0 = System.nanoTime()
    df.write.mode("overwrite").format("noop").save()
    println(f"[stress] $label: ${(System.nanoTime() - t0) / 1e9}%.1fs (noop write)")
  }

  /** Round-11 operators: LM scoring + semantic decontamination at
    * replica scale (docs/SCALE.md round 11).
    */
  private def r11(docs: DataFrame, embs: DataFrame): Unit = {
    // round-11 operators: LM quality scoring + semantic decontamination
    // over the same replica. LM cost should track corpus tokens (the
    // model is Zipf-bounded: 10 exact copies add ZERO new grams, only
    // count mass); decontam should track train rows × bench size
    // (exact) or candidate collisions (LSH). noop WRITE, not count():
    // the scored/flagged output columns are exactly what count() lets
    // ColumnPruning drop (left joins against unique-keyed model tables
    // prune away entirely) — the count-based figures first published
    // for these rows understated the model-join work.
    timeN("bigram LM train+score (90/10 split)")(
      Corpus.ngramLmScore(docs.filter(col("doc_id") % 10 =!= 0),
        docs.filter(col("doc_id") % 10 === 0), "text", "doc_id"))
    timeN("trigram LM train+score (stupid backoff)")(
      Corpus.ngramBackoffScore(docs.filter(col("doc_id") % 10 =!= 0),
        docs.filter(col("doc_id") % 10 === 0), "text", "doc_id", n = 3))
    timeN("5-gram LM train+score (stupid backoff, CCNet order)")(
      Corpus.ngramBackoffScore(docs.filter(col("doc_id") % 10 =!= 0),
        docs.filter(col("doc_id") % 10 === 0), "text", "doc_id", n = 5))
    timeN("semantic decontam (exact, broadcast bench)")(
      Similarity.semanticDecontaminate(
        embs.filter(col("vec_id") % 10 =!= 0),
        embs.filter(col("vec_id") % 10 === 0),
        "embedding", "vec_id", threshold = 0.9))
    locally {
      // q124's planted construction at replica scale: LSH path timing,
      // flag recall vs the exact path, and the scan fraction (verified
      // candidate pairs / full bipartite cross size) — the number that
      // justifies the prefilter at a non-broadcastable bench.
      val vd = col("embedding").cast("array<double>")
      val train = embs.filter(col("vec_id") % 10 =!= 0)
        .select(col("vec_id"), vd.as("vec"))
      val planted = train.filter(col("vec_id") % 30 === 1)
        .select(transform(sequence(lit(1), lit(64)), i =>
          lit(0.9) * element_at(col("vec"), i) +
            lit(0.1) * element_at(col("vec"), lit(65) - i)).as("vec"))
      val bench = planted.unionByName(
        embs.filter(col("vec_id") % 10 === 0).select(vd.as("vec")))
      timeN("semantic decontam (LSH prefilter, planted bench)")(
        Similarity.semanticDecontaminateLsh(train, bench, "vec", "vec_id",
          threshold = 0.9, bits = 8, tables = 12))
      val exactFlagged = Similarity.semanticDecontaminate(
        train, bench, "vec", "vec_id", threshold = 0.9)
        .filter(col("contaminated")).count()
      val lshFlagged = Similarity.semanticDecontaminateLsh(
        train, bench, "vec", "vec_id", threshold = 0.9, bits = 8, tables = 12)
        .filter(col("contaminated")).count()
      // candidate collisions = the pairs the verify stage actually pays
      val sigT = train.select(
        posexplode(graft.plans.HashExpressions.srpSignatures(
          col("vec"), 8, 12)).as(Seq("tbl", "sig")))
      val sigB = bench.select(
        posexplode(graft.plans.HashExpressions.srpSignatures(
          col("vec"), 8, 12)).as(Seq("tbl_b", "sig_b")))
      val cand = sigT.join(sigB,
        col("tbl") === col("tbl_b") && col("sig") === col("sig_b")).count()
      val cross = train.count() * bench.count()
      println(f"[stress] decontam-lsh: flag recall $lshFlagged/$exactFlagged, " +
        f"verified pairs $cand of $cross cross (${cand.toDouble / cross}%.4f scan fraction)")
    }
  }

  /** Round-11b operators: DSIR weighting, duplicate spans, C4 clean,
    * URL dedup. DSIR's model is capped at B = 16^3 buckets per side
    * (constant in corpus size — stronger than Zipf); duplicate spans on
    * the 10-copy replica is the adversarial case where EVERY window is
    * cross-doc duplicated (doc-frequency join at maximal hit rate); C4
    * clean and URL canonicalization are narrow work and should track
    * the scan.
    */
  private def r11b(docs: DataFrame): Unit = {
    timeN("dsir weights (90/10 split, hexChars=3)")(
      Corpus.dsirWeights(docs.filter(col("doc_id") % 10 =!= 0),
        docs.filter(col("doc_id") % 10 === 0), "text", "doc_id"))
    timeN("duplicate spans (n=8, every window duplicated)")(
      Corpus.duplicateSpans(docs, "text", "doc_id", n = 8))
    timeN("c4 clean (planted junk lines)")(
      Corpus.c4Clean(
        docs.withColumn("text", concat_ws("\n",
          col("text"), lit("short line"),
          lit("Please enable JavaScript to continue."),
          lit("a clean closing sentence stands here."))),
        "text", "doc_id"))
    timeN("url canonicalize + dedup (50k planted urls)")(
      Corpus.dedupByUrl(
        docs.select(col("doc_id"), concat(
          lit("HTTPS://w"), (col("doc_id") % 1000).cast("string"),
          lit(".example.org/d/"), (col("doc_id") % 5000).cast("string"),
          lit("?utm_source=crawl&x="), (col("doc_id") % 7).cast("string"))
          .as("url")),
        "url", "doc_id"))
    timeN("gopher quality rules (one fused pass)")(
      Corpus.gopherQuality(docs, "text", "doc_id"))
    locally {
      // BPE: the 10-copy replica has EXACTLY the sf0.1 vocabulary (10
      // copies add word-frequency mass, not words), so per-merge cost
      // must match the gate's — only the initial tokenize+count scan
      // sees 10× the rows. Train wall is driver-loop-inclusive.
      val t0 = System.nanoTime()
      val merges = Corpus.bpeTrain(docs, "text", numMerges = 24, minFreq = 2L)
      val trainS = (System.nanoTime() - t0) / 1e9
      println(f"[stress] bpe train 24 merges (vocab-bounded loop): ${merges.size} merges in $trainS%.1fs")
      timeN("bpe encode 50k docs (trained table)")(
        Corpus.bpeEncode(docs, "text", merges))
    }
    locally {
      // classifier: 8 GD passes over 45k tagged docs — feature rows
      // scale 10×, the weight table stays <= 4096 rows; per-pass cost
      // should track the feature shuffles (the q130 gate at 10×).
      val qTag = lit((" informative well researched careful article " +
        "clear structure cited sources balanced thorough analysis") * 3)
      val sTag = lit((" click casino spam winner free offer act now " +
        "limited deal exclusive prize claim instantly") * 3)
      val train = docs.filter(col("doc_id") % 10 =!= 0)
      val t0 = System.nanoTime()
      val model = Corpus.trainQualityClassifier(
        train.filter(col("doc_id") % 2 === 0)
          .select(col("doc_id"), concat(col("text"), qTag).as("text")),
        train.filter(col("doc_id") % 2 =!= 0)
          .select(col("doc_id"), concat(col("text"), sTag).as("text")),
        "text", "doc_id", hexChars = 3, iters = 8, lr = 8.0)
      println(f"[stress] classifier train 8 passes (45k tagged docs): ${(System.nanoTime() - t0) / 1e9}%.1fs")
      timeN("classifier score 50k docs")(
        Corpus.scoreWithClassifier(docs, model, "text", "doc_id"))
    }
  }

  /** Round-12 operators: the Gopher repetition family (scan-bound like
    * its sibling), the combined filter, the stateless curation prefix,
    * the near-dup pair rule on the adversarial 10-copy replica (every
    * doc has 9 exact twins — maximal true-pair load), and the
    * driver-local BPE merge loop at a REAL vocabulary-scale merge
    * count (the per-merge-Spark-job path measured ~0.3 s/merge, i.e.
    * hours at 32k merges; the local loop must land in seconds).
    */
  private def r12(docs: DataFrame, embs: DataFrame): Unit = {
    timeN("gopher repetition rules (one fused pass)")(
      Corpus.gopherRepetition(docs, "text", "doc_id"))
    timeN("complete gopher filter (both halves, one projection)")(
      Corpus.gopherQualityFull(docs, "text", "doc_id"))
    timeN("curate pages (C4 -> full Gopher, stateless prefix)")(
      Corpus.curatePages(
        docs.withColumn("text", concat_ws("\n",
          col("text"), lit("short line"),
          lit("Please enable JavaScript to continue."),
          lit("a clean closing sentence stands here with the end of day."))),
        "text", "doc_id"))
    locally {
      val t0 = System.nanoTime()
      val survivors = docs.join(
        Corpus.exactNgramPairs(docs, "text", "doc_id", threshold = 0.5, n = 3)
          .select(col("id_b").as("doc_id")).distinct(),
        Seq("doc_id"), "left_anti").count()
      println(f"[stress] near-dup pair rule (10 exact copies each): " +
        f"$survivors survivors of 50000 in ${(System.nanoTime() - t0) / 1e9}%.1fs")
    }
    timeN("duplicate-span removal (every window duplicated)")(
      // adversarial: 10 exact copies ⇒ every window cross-doc
      // duplicated ⇒ every covered doc reconstructs to "" — maximal
      // coverage explode + rebuild load
      Corpus.removeDuplicateSpans(docs, "text", "doc_id", n = 8))
    locally {
      // the SCALE path for the same job: MinHash-banded candidates +
      // verification + cluster survivors — the banding caps what the
      // exact PPJoin pays quadratically at this dup density
      val t0 = System.nanoTime()
      val survivors = Dedup.nearDupSurvivors(docs,
        Dedup.minhashNearDups(docs, "text", "doc_id", threshold = 0.5),
        "doc_id").count()
      println(f"[stress] near-dup via MinHash+cluster (same replica): " +
        f"$survivors survivors of 50000 in ${(System.nanoTime() - t0) / 1e9}%.1fs")
    }
    locally {
      // SemDeDup on the 10-copy embedding replica — maximal semantic
      // dup density: every copy group co-clusters (identical vectors)
      // and the within-cluster pair search carries the full 45 pairs
      // per group; survivors must be exactly the 2,000 distinct
      // vectors (copies never escape the cluster search)
      val t0 = System.nanoTime()
      val kept = Similarity.semDeDup(embs, "embedding", "vec_id",
        nClusters = 32, dim = 64, eps = 0.01)
        .filter(col("keep")).count()
      println(f"[stress] semDeDup (k=32, 10 exact copies each): " +
        f"$kept survivors of 20000 in ${(System.nanoTime() - t0) / 1e9}%.1fs")
    }
    locally {
      // vocabulary-scale BPE: a synthetic 24k-word dict (the replica's
      // word-soup vocabulary is ~40 words — it dries up in hundreds of
      // merges), 4,000 merges through the driver-local loop
      val spark = docs.sparkSession
      val wide = spark.range(50000).select(
        concat(lit("alpha"), (col("id") % 12000).cast("string"),
          lit("xq beta"), (col("id") % 11000).cast("string"),
          lit("zr gamma"), (col("id") % 997).cast("string")).as("text"))
      val t0 = System.nanoTime()
      val merges = Corpus.bpeTrain(wide, "text", numMerges = 4000,
        minPairFreq = 1L)
      val s = (System.nanoTime() - t0) / 1e9
      println(f"[stress] bpe driver-local train: ${merges.size} merges, " +
        f"~24k-word dict, $s%.1fs (${merges.size / s}%.0f merges/s)")
    }
  }

  /** Round-13 evidence: the semDeDup mass-duplicate guard (100×
    * copy-sets must stay flat — identity pre-dedup collapses each
    * copy-set to one representative before the within-cluster pair
    * search), the published pipeline run END-TO-END with the
    * banded-MinHash dedup stage (q138's shape) with per-stage walls,
    * and the in-engine text embedding throughput + its semDeDup
    * composition at replica scale.
    */
  /** Round-16 operators: raw-WARC (HTTP envelope) read throughput, the
    * streaming-vs-whole-file-inflate parse A/B, and the video
    * perceptual-dedup replica (docs/SCALE.md round 16).
    */
  /** Round-17 flood-guard A/Bs — the degenerates the q159 oracle
    * proves semantically, measured at flood size: identical-fp floods
    * (the silent-clip / solid-frame shape), near-miss chunk floods,
    * and title-card frame floods. Each guarded leg must stay flat
    * while the unguarded leg shows the quadratic it replaced.
    */
  private def r17(docs: DataFrame): Unit = {
    val spark = docs.sparkSession
    def time(label: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val n = f
      println(f"[stress] $label: $n rows in ${(System.nanoTime() - t0) / 1e9}%.1fs")
    }
    // codegen/classload warmup so the first timed leg isn't the cold one
    graft.operators.Dedup.simhashPairs(
      spark.range(1, 100).select(col("id"), col("id").as("fp")), 3).count()
    graft.operators.Dedup.simhashPairs(
      spark.range(1, 100).select(col("id"), col("id").as("fp")), 3,
      maxIdentity = Int.MaxValue, maxBucket = Int.MaxValue).count()
    graft.ops.Caches.release()
    // 1) identity flood: 20k items, ONE fingerprint (every silent clip
    //    energy-hashes identically). Guarded = 19,999 star edges;
    //    unguarded = the 200M-pair clique. The ROWS column is the
    //    scale story: output is quadratic in flood size unguarded
    //    (2M identical fps -> 2e12 pairs downstream must ingest),
    //    linear guarded — local wall at 20k hides it because the
    //    clique generation is codegen-cheap; the downstream consumer
    //    (clusters, admission anti-joins) is what drowns.
    // the timed action is the ADMISSION CONSUMER (drop-set distinct over
    // id_b — the media admission stage's exact shape), not a bare
    // count. Run BOTH legs at 20k and 100k: the guarded leg's work is
    // LINEAR in flood size (star edges) while the unguarded clique is
    // QUADRATIC — 5× the flood is 25× the pairs, and no local
    // constant-factor cleverness survives that curve (2M identical fps
    // at the 100 TB design point is 2×10¹² pairs).
    def dropSet(pairs: DataFrame): Long =
      pairs.select(col("id_b")).distinct().count()
    for (n <- Seq(20000, 100000)) {
      val flood = spark.range(1, n + 1).select(col("id"), lit(42L).as("fp"))
      time(s"identity flood n=$n GUARDED (star edges -> drop set)")(
        dropSet(graft.operators.Dedup.simhashPairs(flood, 3)))
      graft.ops.Caches.release()
      time(s"identity flood n=$n UNGUARDED (clique -> drop set)")(
        dropSet(graft.operators.Dedup.simhashPairs(flood, 3,
          maxIdentity = Int.MaxValue, maxBucket = Int.MaxValue)))
      graft.ops.Caches.release()
    }
    // 2) near-miss flood: 20k DISTINCT fps sharing one 16-bit chunk
    //    value (identity collapse can't help; only the bucket valve
    //    can). Guarded drops the bucket; the hypothetical unguarded
    //    join would emit ~2e8 raw candidate pairs before filtering —
    //    run the census instead of paying it.
    val near = spark.range(1, 20001)
      .select(col("id"), (col("id") * 65536L + 0x1111L).as("fp"))
    time("near-miss flood GUARDED (valve)")(
      graft.operators.Dedup.simhashPairs(near, 3).count())
    graft.ops.Caches.release()
    val top = graft.operators.Dedup.hammingBucketStats(near, 3).head()
    println(s"[stress] near-miss hot bucket: chunk=${top.getInt(0)} " +
      s"ch=${top.getLong(1)} n=${top.getLong(2)} (valve cap 2000)")
    // 3) title-card frame flood: 1500 videos all carrying the same two
    //    boilerplate frames (1500 stays under the bucket valve so the
    //    UNCAPPED leg shows the df-cap's own failure mode, not the
    //    valve's rescue). df-capped: frames drop, nothing pairs.
    //    Uncapped: two 1500-member identity groups -> ~2.2M frame
    //    pairs -> ~1.1M bogus video pairs, every video "a dup" of
    //    every other.
    val cards = spark.range(0, 1500).select(col("id").as("media_id"))
      .select(col("media_id"), explode(array(
        struct(lit(0).as("frame_idx"), lit(0x0101010101010101L).as("fp")),
        struct(lit(1).as("frame_idx"), lit(0x0101010101010101L ^ 0xFFFFL).as("fp"))))
        .as("f"))
      .select(col("media_id"), col("f.frame_idx"), col("f.fp"))
    time("title-card flood DF-CAPPED (boilerplate dropped)")(
      graft.operators.Multimodal.frameEvidencePairs(
        cards, stride = 2L, maxHamming = 3, minMatches = 2).count())
    graft.ops.Caches.release()
    time("title-card flood UNCAPPED (bogus dup cliques)")(
      graft.operators.Multimodal.frameEvidencePairs(
        cards, stride = 2L, maxHamming = 3, minMatches = 2,
        maxFrameDf = Int.MaxValue).count())
    graft.ops.Caches.release()
  }

  private def r16(docs: DataFrame): Unit = {
    val spark = docs.sparkSession
    locally {
      // raw-WARC read+parse+decode throughput: the replica corpus
      // rendered as HTML inside captured HTTP responses across the
      // transfer-shape matrix (identity / chunked / gzip /
      // deflate-under-chunked rotating), framed as 32 .warc.gz
      // segments, read back through the streaming distributed scan.
      // count() cannot prune the work — envelope split, de-chunk,
      // content-decode, and charset decode all happen inside the
      // flatMap.
      val dir = java.nio.file.Files
        .createTempDirectory("graft_stress_warc").toString
      val rows = docs.select(col("doc_id"), col("text")).collect()
        .map { r =>
          val id = r.getLong(0)
          val shape = (id % 4) match {
            case 0 => graft.ingest.WetFixture.HttpShape(chunked = true)
            case 1 => graft.ingest.WetFixture.HttpShape(encoding = "gzip")
            case 2 => graft.ingest.WetFixture.HttpShape(
              encoding = "deflate", chunked = true)
            case _ => graft.ingest.WetFixture.HttpShape()
          }
          (s"https://crawl.test/d/$id", "2024-05-01T00:00:00Z",
            graft.ingest.WetFixture.wrapHtml(r.getString(1)), shape)
        }
      val per = math.max(1, math.ceil(rows.length / 32.0).toInt)
      rows.grouped(per).zipWithIndex.foreach { case (seg, i) =>
        graft.ingest.WetFixture.writeWarc(
          f"$dir/seg-$i%05d.warc.gz", seg.toSeq)
      }
      val bytes = new java.io.File(dir).listFiles().map(_.length()).sum
      val t0 = System.nanoTime()
      val n = graft.ingest.WarcHttp.readResponses(spark, dir).count()
      val secs = (System.nanoTime() - t0) / 1e9
      println(f"[stress] warc read+parse+decode: $n%d responses, " +
        f"${bytes / 1e6}%.1f MB gz in $secs%.1fs " +
        f"(${n / secs}%.0f rows/s, ${bytes / 1e6 / secs}%.1f MB/s)")
      // streaming-vs-whole-file-inflate parse A/B on one segment: the
      // record-at-a-time path must not pay for its O(largest record)
      // memory bound in wall time (JVM-local, no Spark)
      val segPath = new java.io.File(dir).listFiles()
        .filter(_.getName.endsWith(".warc.gz")).minBy(_.getName)
      val raw = java.nio.file.Files.readAllBytes(segPath.toPath)
      def timeIt(f: => Int): (Int, Double) = {
        val t = System.nanoTime()
        val n0 = f
        (n0, (System.nanoTime() - t) / 1e9)
      }
      (1 to 3).foreach { rep =>
        val (nI, sI) = timeIt(
          graft.ingest.WetReader.parseWarc(
            graft.ingest.WetReader.inflate(raw)).size)
        val (nS, sS) = timeIt(
          graft.ingest.WetReader.parseWarcStream(
            new java.util.zip.GZIPInputStream(
              new java.io.ByteArrayInputStream(raw), 1 << 16)).size)
        require(nI == nS, s"record count parity: $nI != $nS")
        println(f"[stress] parse A/B rep$rep: inflate-whole $sI%.2fs vs " +
          f"streaming $sS%.2fs (${segPath.length() / 1e6}%.1f MB gz, $nI records)")
      }
    }
    locally {
      // video perceptual dedup at replica scale: every doc becomes a
      // 4-frame MJPEG-AVI of coded PNGs; doc_id % 10 == 1 gets a twin
      // (+10^7) matching on exactly 2 frames — the q158 shape at
      // corpus size. One demux+decode scan + banded frame join.
      import org.apache.spark.sql.types.{BinaryType, LongType, StructField, StructType}
      val enc = org.apache.spark.sql.Encoders.row(StructType(Seq(
        StructField("media_id", LongType, nullable = false),
        StructField("content", BinaryType))))
      val lanes = Array(0L, 0xFFFFL, 0xFFFF0000L, 0xFFFFFFFFL)
      val media = docs.select(col("doc_id")).flatMap { r =>
        val id = r.getLong(0)
        def avi(twin: Boolean): Array[Byte] = {
          val frames = (0 until 4).map { f =>
            val flip =
              if (!twin) 0L
              else if (f == 0) 1L | (1L << 21)
              else if (f == 1) 1L << 42
              else 0x0202020202020202L
            graft.operators.Multimodal.JdkCodec
              .encodeCodedPng((id * 0x9E3779B97F4A7C15L) ^ lanes(f) ^ flip, 1, 1)
          }
          graft.operators.MjpegAvi.encode(frames, 9, 8)
        }
        val base = Seq(org.apache.spark.sql.Row(id, avi(twin = false)))
        if (id % 10 == 1)
          base :+ org.apache.spark.sql.Row(id + 10000000L, avi(twin = true))
        else base
      }(enc)
      val nMedia = media.count()
      val t0 = System.nanoTime()
      val pairs = graft.operators.Multimodal
        .videoNearDups(media, k = 4, maxHamming = 3, minMatches = 2).count()
      val secs = (System.nanoTime() - t0) / 1e9
      graft.ops.Caches.release()
      println(f"[stress] video near-dup: $nMedia%d videos -> $pairs%d pairs " +
        f"in $secs%.1fs (${nMedia / secs}%.0f videos/s)")
    }
  }

  /** Round-14 operators: WET read throughput, the lshPlan threshold-0.9
    * A/B (candidate volume + recall vs the 8×8 default), and the image
    * perceptual-dedup replica (docs/SCALE.md round 14).
    */
  private def r14(docs: DataFrame): Unit = {
    val spark = docs.sparkSession
    import spark.implicits._
    locally {
      // WET read+parse throughput: the replica corpus rendered as 32
      // multi-member-gzip segments (the Common Crawl shard shape), read
      // back through the distributed reader. count() cannot prune the
      // parse — record splitting happens inside the flatMap.
      val dir = java.nio.file.Files.createTempDirectory("graft_stress_wet")
        .toString
      val rows = docs.select(col("doc_id"), col("text")).collect()
        .map(r => (s"https://crawl.test/d/${r.getLong(0)}",
          "2024-05-01T00:00:00Z", r.getString(1)))
      val per = math.max(1, math.ceil(rows.length / 32.0).toInt)
      rows.grouped(per).zipWithIndex.foreach { case (seg, i) =>
        graft.ingest.WetFixture.writeWet(
          f"$dir/seg-$i%05d.warc.wet.gz", seg.toSeq)
      }
      val bytes = new java.io.File(dir).listFiles().map(_.length()).sum
      val t0 = System.nanoTime()
      val n = graft.ingest.WetReader.read(spark, dir).count()
      val secs = (System.nanoTime() - t0) / 1e9
      println(f"[stress] wet read+parse: $n%d records, " +
        f"${bytes / 1e6}%.1f MB gz in $secs%.1fs " +
        f"(${n / secs}%.0f rows/s, ${bytes / 1e6 / secs}%.1f MB/s)")
    }
    locally {
      // lshPlan A/B at threshold 0.9: the planned banding vs the 8×8
      // default on the 10-copy replica — candidate volume, verified
      // pairs >= 0.9, and recall of the planned path against the 8×8
      // verified set (8×8 at 0.9 is near-exhaustive per-pair: S-curve
      // 0.989 at s = 0.9, 1.0 on the exact copies that dominate here)
      val (bP, rP) = Dedup.lshPlan(0.9, 64)
      println(s"[stress] lshPlan(0.9, 64) = ${bP}x$rP bands")
      def run(tag: String, bands: Int): Set[(Long, Long)] = {
        val t0 = System.nanoTime()
        val cand = Dedup.minhashCandidates(docs, "text", "doc_id", 64, bands)
          .persist()
        val nCand = cand.count()
        val tCand = (System.nanoTime() - t0) / 1e9
        val t1 = System.nanoTime()
        val pairs = Dedup.verifyJaccard(cand, docs, "text", "doc_id", 0.9)
          .select(col("id_a"), col("id_b")).collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        val tVer = (System.nanoTime() - t1) / 1e9
        cand.unpersist()
        println(f"[stress] lsh@0.9 $tag: $nCand%d candidates in $tCand%.1fs, " +
          f"${pairs.size}%d verified pairs in $tVer%.1fs")
        pairs
      }
      val p88 = run("8x8 default", 8)
      val pPl = run(s"planned ${bP}x$rP", bP)
      val recall = if (p88.isEmpty) 1.0
        else pPl.intersect(p88).size.toDouble / p88.size
      println(f"[stress] lsh@0.9 planned recall vs 8x8 verified set: $recall%.4f")
    }
    locally {
      // image perceptual dedup replica: 20k coded PNGs + a 10% twin set
      // (3-bit flips), decode → dHash → hamming banding end-to-end
      val unit = 1L + (1L << 16) + (1L << 32) + (1L << 48)
      val flips = 1L | (1L << 21) | (1L << 42)
      val enc = org.apache.spark.sql.Encoders.row(
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("media_id",
            org.apache.spark.sql.types.LongType, nullable = false),
          org.apache.spark.sql.types.StructField("content",
            org.apache.spark.sql.types.BinaryType))))
      val media = spark.range(16384).toDF("id")
        .select(col("id"), (col("id") * unit).as("code"))
        .unionByName(spark.range(16384).toDF("id")
          .filter(col("id") % 10 === 0)
          .select((col("id") + 100000L).as("id"),
            (col("id") * unit).bitwiseXOR(lit(flips)).as("code")))
        .repartition(32)
        .mapPartitions { it =>
          it.map { r =>
            val id = r.getLong(0)
            org.apache.spark.sql.Row(id,
              graft.operators.Multimodal.JdkCodec.encodeCodedPng(
                r.getLong(1), sx = 1 + (id % 3).toInt, sy = 1 + (id % 2).toInt))
          }
        }(enc)
        .persist()
      val nImg = media.count() // materialize renders OUTSIDE the timing
      val t0 = System.nanoTime()
      val pairs = graft.operators.Multimodal.imageNearDups(media, maxHamming = 3)
        .count()
      println(f"[stress] image dHash dedup: $nImg%d images -> $pairs%d pairs " +
        f"in ${(System.nanoTime() - t0) / 1e9}%.1fs (decode+hash+band)")
      media.unpersist()
      spark.sharedState.cacheManager.clearCache()
    }
    locally {
      // exactNtile 99%-one-VALUE adversary (the r13 verdict's flagged
      // degenerate): 100M rows, one group, 99% sharing order value 5.0 —
      // every one of them lands in ONE range bucket. A/B: guard off
      // (hotBucket = MaxValue, the pre-r14 shape where that bucket is
      // one window sort task) vs the default guard (hot-value sections
      // + 256 tie sub-buckets).
      val adversary = spark.range(100000000L)
        .select(col("id"), lit("g").as("grp"),
          when(col("id") % 100 =!= 0, lit(5.0))
            .otherwise(col("id").cast("double") / 1000).as("v"))
        .persist()
      adversary.count()
      def run(tag: String, hot: Int): Unit = {
        val t0 = System.nanoTime()
        val n = Corpus.exactNtile(adversary, "grp", col("v"), col("id"),
          n = 3, hotBucket = hot).filter(col("ntile") === 2L).count()
        println(f"[stress] exactNtile 99%%-one-value $tag: " +
          f"$n%d mid-tile rows in ${(System.nanoTime() - t0) / 1e9}%.1fs")
      }
      run("guard OFF (one-task window)", Int.MaxValue)
      run("guard ON (sections + tie subs)", 1 << 16)
      adversary.unpersist()
    }
  }

  private def r13(docs: DataFrame, embs: DataFrame): Unit = {
    val spark = docs.sparkSession
    locally {
      // r12's shape re-run post-guard: 10 copies each of 2,000 vectors
      val t0 = System.nanoTime()
      val kept = Similarity.semDeDup(embs, "embedding", "vec_id",
        nClusters = 32, dim = 64, eps = 0.01).filter(col("keep")).count()
      println(f"[stress] semDeDup k=32 (10 copies each, guarded): " +
        f"$kept survivors of 20000 in ${(System.nanoTime() - t0) / 1e9}%.1fs")
    }
    locally {
      // MASS-copy adversary: the same 20,000 rows but 100 copies each
      // of 200 distinct vectors — pre-guard this concentrated 100-row
      // copy-sets in single clusters (O(copies²) on one key); guarded,
      // only 200 representatives reach the pair search
      val mass = embs.select(col("embedding")).distinct().limit(200)
        .withColumn("g", monotonically_increasing_id())
        .crossJoin(spark.range(100).select(col("id").as("c")))
        .select((col("g") * 100 + col("c")).as("vec_id"), col("embedding"))
      val t0 = System.nanoTime()
      val kept = Similarity.semDeDup(mass, "embedding", "vec_id",
        nClusters = 32, dim = 64, eps = 0.01).filter(col("keep")).count()
      println(f"[stress] semDeDup k=32 (100-copy MASS sets, guarded): " +
        f"$kept survivors of 20000 in ${(System.nanoTime() - t0) / 1e9}%.1fs")
    }
    locally {
      // the q138-shaped published pipeline END-TO-END on the replica,
      // per-stage walls (each stage persisted+counted so its share is
      // attributable): URL keep-first → C4 → full Gopher → banded
      // MinHash near-dup (the scale stage; the exact PPJoin measured
      // 213 s standalone on this dup density in r12) → 8-gram
      // decontamination vs the %17 raw slice
      def stage[T](label: String)(f: => T): T = {
        val t0 = System.nanoTime()
        val out = f
        println(f"[stress] pipeline stage $label: ${(System.nanoTime() - t0) / 1e9}%.1fs")
        out
      }
      val tAll = System.nanoTime()
      val messy = docs.select(col("doc_id"),
        concat(lit("https://example.com/art/"),
          (col("doc_id") % 45000).cast("string")).as("url"),
        concat_ws("\n",
          lit("the report has to be checked and that will hold with care."),
          concat(col("text"), lit(".")),
          lit("one more sentence lands here! does a question count? yes it does. the paragraph closes now."),
          when(col("doc_id") % 11 === 0, lit("template artifact { left behind."))
            .otherwise(lit("clean final line stands here."))).as("text"))
      val s1 = stage("url-dedup") {
        val kept = Corpus.dedupByUrl(messy, "url", "doc_id")
          .filter(col("keep")).select(col("id").as("doc_id"))
        val out = messy.join(kept, Seq("doc_id")).persist()
        println(s"[stress]   rows after url-dedup: ${out.count()}")
        out
      }
      val s2 = stage("c4-clean") {
        val out = Corpus.c4Clean(s1, "text", "doc_id")
          .filter(col("kept")).select(col("id"), col("text").as("clean"))
          .persist()
        println(s"[stress]   rows after c4: ${out.count()}")
        out
      }
      val s3 = stage("gopher-full") {
        val gq = Corpus.gopherQualityFull(s2, "clean", "id")
          .filter(col("kept")).select(col("id"))
        val out = s2.join(gq, Seq("id")).persist()
        println(s"[stress]   rows after gopher: ${out.count()}")
        out
      }
      val s4 = stage("near-dup-minhash") {
        val dropped = Dedup.ngramJaccardNearDups(s3, "clean", "id", 0.5, 3)
          .select(col("id_b").as("id")).distinct()
        val out = s3.join(dropped, Seq("id"), "left_anti").persist()
        println(s"[stress]   rows after near-dup: ${out.count()}")
        out
      }
      stage("decontaminate-8gram") {
        val bench = docs.filter(col("doc_id") % 17 === 0)
          .select(col("doc_id").as("id"), col("text").as("clean"))
        val n = Corpus.decontaminate(s4, bench, "clean", "id", 8).count()
        println(s"[stress]   rows after decontam: $n")
      }
      println(f"[stress] pipeline TOTAL (MinHash dedup stage): " +
        f"${(System.nanoTime() - tAll) / 1e9}%.1fs")
      Seq(s1, s2, s3, s4).foreach(_.unpersist())
    }
    timeN("text embed 50k docs (hashed 3-gram, dim=256)")(
      docs.select(col("doc_id"),
        graft.functions.TextFunctions.embedText(col("text"), 256).as("emb")))
    locally {
      // q139 oracle margin: the closed form (keep == id < 100000) needs
      // every NATURAL cross-doc cosine of the salted construction to
      // sit far below the 0.99 drop threshold — measure the max over
      // ALL distinct pairs at both gate scales (unsalted, this corpus
      // saturates at ~0.999; the md5 salt is what buys the margin)
      for (sfd <- Seq("/root/testdata/sf0.01", "/root/testdata/sf0.1")) {
        val d = spark.read.parquet(sfd + "/documents.parquet")
        val salt = repeat(regexp_replace(
          md5(col("doc_id").cast("string")), "(.{4})", "$1 "), 5)
        val emb = d.select(col("doc_id").as("id"),
          graft.functions.TextFunctions.embedText(
            concat(col("text"), lit(" "), salt), 256).as("v"))
        val t0 = System.nanoTime()
        val mx = emb.as("x").join(emb.as("y"), col("x.id") < col("y.id"))
          .select(max(Similarity.cosine(col("x.v"), col("y.v"))).as("m"))
          .collect()(0).getDouble(0)
        println(f"[stress] q139 salted max natural cosine @$sfd: $mx%.4f " +
          f"(${(System.nanoTime() - t0) / 1e9}%.1fs)")
      }
    }
    locally {
      // in-engine embedding → semDeDup composition: 10 identical texts
      // per base doc embed to 10 identical vectors, so the identity
      // guard collapses ~50k rows to ~5k representatives before the
      // pair search; near-identical NATURAL texts (this synthetic
      // corpus saturates char-3-gram cosine at ~0.999) also merge —
      // the reported survivor count is the semantic-unique set
      val emb = docs.select(col("doc_id"),
        graft.functions.TextFunctions.embedText(col("text"), 256).as("emb"))
      val t0 = System.nanoTime()
      val kept = Similarity.semDeDup(emb, "emb", "doc_id",
        nClusters = 32, dim = 256, eps = 0.01).filter(col("keep")).count()
      println(f"[stress] embedText -> semDeDup (50k docs, k=32): " +
        f"$kept survivors in ${(System.nanoTime() - t0) / 1e9}%.1fs")
    }
    locally {
      // SURGICAL decontamination at replica scale vs the drop-the-doc
      // path, same bench (the %17 raw slice): the surgery pays the
      // word-split + rebuild where the drop path pays only a gram
      // semi-join, but keeps ~all docs — both walls and both kept/cut
      // masses printed so the tradeoff is a measured fact. Bench side
      // built once and persisted (the persistable-unit discipline).
      val bench = docs.filter(col("doc_id") % 17 === 0)
      val spans = Corpus.decontaminationSpanHashes(
        bench, "text", "doc_id", n = 8).persist()
      spans.count()
      val grams = Corpus.decontaminationGrams(
        bench, "text", "doc_id", n = 8).persist()
      grams.count()
      val t0 = System.nanoTime()
      val cut = Corpus.decontaminateSpans(docs, spans, "text", "doc_id", n = 8)
      cut.write.mode("overwrite").format("noop").save()
      val tCut = (System.nanoTime() - t0) / 1e9
      val stats = cut.agg(
        count(lit(1)), sum(col("n_removed_tokens")),
        sum(when(col("n_removed_tokens") > 0, 1L).otherwise(0L))).collect()(0)
      val t1 = System.nanoTime()
      val kept = Corpus.decontaminateAgainstGrams(
        docs, grams, "text", "doc_id", n = 8)
      kept.write.mode("overwrite").format("noop").save()
      val tDrop = (System.nanoTime() - t1) / 1e9
      val nKept = kept.count()
      println(f"[stress] decontaminate 50k vs %%17 bench — surgical: " +
        f"$tCut%.1fs (${stats.getLong(0)} docs kept, ${stats.getLong(2)} cut, " +
        f"${stats.getLong(1)} tokens removed); drop-path: $tDrop%.1fs " +
        f"($nKept docs kept)")
      spans.unpersist(); grams.unpersist()
    }
    locally {
      // exactNtile under the dominant-group adversary (its reason to
      // exist): 99% of rows in ONE group — a window ntile sorts that
      // group in a single task; the range-bucketed rank spreads it
      // over 256 value buckets. Order key = n_chars + a doc_id jitter
      // so the value range actually spreads (the operator's documented
      // normal case for scores).
      val grouped = docs.select(col("doc_id"),
        when(col("doc_id") % 100 === 0, col("lang"))
          .otherwise(lit("web")).as("grp"),
        (col("n_chars") * 1000 + col("doc_id") % 997).as("v"))
      val t0 = System.nanoTime()
      val out = Corpus.exactNtile(grouped, "grp", col("v"), col("doc_id"), 3)
      out.write.mode("overwrite").format("noop").save()
      val dt = (System.nanoTime() - t0) / 1e9
      val sizes = out.groupBy(col("grp"), col("ntile"))
        .count().collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      val web = sizes.filter(_._1 == "web").sortBy(_._2)
        .map(t => s"t${t._2}:${t._3}").mkString(" ")
      println(f"[stress] exactNtile (hot 99%% group, n=3): $dt%.1fs  web $web")
    }
    locally {
      // domainMixture under the dominant-domain adversary: 99% of rows
      // collapse into ONE domain ("web") — the shape that makes a naive
      // PARTITION BY domain window a single sort task. The bucketed
      // prefix runs 256 window keys per (domain, epoch) regardless, so
      // the wall should track corpus size, not the largest domain; the
      // rare domains exercise the epoch-upsampling branch at the same
      // time (tiny totals, generous budgets, maxEpochs=3).
      val mixed = docs.select(col("doc_id"),
        when(col("doc_id") % 100 === 0, col("lang"))
          .otherwise(lit("web")).as("dom"),
        col("n_chars"))
      val budgets = Map("web" -> 10000000L, "en" -> 500000L,
        "de" -> 500000L, "fr" -> 500000L, "es" -> 500000L, "zh" -> 500000L)
      val t0 = System.nanoTime()
      val out = Corpus.domainMixture(
        mixed, "doc_id", "dom", col("n_chars"), budgets, maxEpochs = 3)
      out.write.mode("overwrite").format("noop").save()
      val dt = (System.nanoTime() - t0) / 1e9
      val perDom = out.groupBy(col("domain"))
        .agg(count(lit(1)).as("n"), sum(col("n_tokens")).as("tok"),
          max(col("epoch")).as("maxep"))
        .collect().map(r => s"${r.getString(0)}:${r.getLong(1)}rows/" +
          s"${r.getLong(2)}tok/ep${r.getLong(3)}").sorted.mkString(" ")
      println(f"[stress] domainMixture (hot 99%% domain, 3 epochs): " +
        f"$dt%.1fs  $perDom")
    }
  }

  def main(args: Array[String]): Unit = {
    val docsPath = args.headOption.getOrElse("/tmp/sf1_documents.parquet")
    val embPath = args.lift(1).getOrElse("/tmp/sf1_embeddings.parquet")
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val docs = spark.read.parquet(docsPath).repartition(32)
    val embs = spark.read.parquet(embPath).repartition(32)

    def time(label: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val n = f
      println(f"[stress] $label: $n rows in ${(System.nanoTime() - t0) / 1e9}%.1fs")
    }

    println(s"[stress] docs=${docs.count()} embs=${embs.count()}")
    if (sys.env.contains("STRESS_R17_ONLY")) { r17(docs); spark.stop(); return }
    if (sys.env.contains("STRESS_R16_ONLY")) { r16(docs); spark.stop(); return }
    if (sys.env.contains("STRESS_R14_ONLY")) { r14(docs); spark.stop(); return }
    if (sys.env.contains("STRESS_R13_ONLY")) { r13(docs, embs); spark.stop(); return }
    if (sys.env.contains("STRESS_R12_ONLY")) { r12(docs, embs); spark.stop(); return }
    if (sys.env.contains("STRESS_R11_ONLY")) { r11(docs, embs); r11b(docs); spark.stop(); return }

    // ANN recall@k against brute-force truth — a scale-credible ANN
    // needs a recall number NEXT TO its latency. Recall is score-based:
    // an ANN hit counts iff its cosine reaches the k-th true cosine
    // (−1e-9), which is robust to ties — on the 10-copy replica every
    // vector has 10 exact-duplicate neighbors, so id-set recall would
    // punish returning a different-but-equally-similar copy. Configs
    // match the oracle gates exactly (q35: bits=8 probes=4; q36:
    // 16 clusters nprobe=4).
    locally {
      val k = 10
      val (assigned, cents) =
        Similarity.ivfIndex(embs, "embedding", nClusters = 16, dim = 64)
      assigned.persist()
      val qIds = embs.select(col("vec_id")).distinct()
        .orderBy(col("vec_id")).limit(96).collect()
        .map(_.getLong(0)).grouped(4).map(_.head).take(24).toSeq
      def recallOf(ann: DataFrame, kth: Double): Double =
        ann.collect().map(_.getDouble(1)).count(_ >= kth - 1e-9).toDouble / k
      // gate configs by default; STRESS_RECALL_SWEEP walks the full
      // probes/nprobe curves for the docs/SCALE.md recall table
      val sweep = sys.env.contains("STRESS_RECALL_SWEEP")
      val lshProbes = if (sweep) Seq(4, 16, 32, 64, 128) else Seq(4)
      val ivfProbes = if (sweep) Seq(1, 2, 4, 8, 16) else Seq(4)
      val t0 = System.nanoTime()
      val stats = qIds.map { qid =>
        val qv = embs.filter(col("vec_id") === qid)
          .select(col("embedding")).collect()(0).getSeq[Float](0)
        val rest = embs.filter(col("vec_id") =!= qid)
        val truth = Similarity
          .bruteForceTopK(rest, "embedding", "vec_id", qv, k).collect()
        val kth = truth.last.getDouble(1)
        val rls = lshProbes.map(p => recallOf(Similarity.lshTopK(rest,
          "embedding", "vec_id", qv, k, dim = 64, bits = 8, probes = p), kth))
        val ris = ivfProbes.map(p => recallOf(Similarity.ivfTopK(
          assigned.filter(col("vec_id") =!= qid), cents,
          "embedding", "vec_id", qv, k, nprobe = p), kth))
        (rls, ris)
      }
      assigned.unpersist()
      def mean(xs: Seq[Double]) = xs.sum / xs.length
      val lshLine = lshProbes.zipWithIndex.map { case (p, i) =>
        f"probes=$p:${mean(stats.map(_._1(i)))}%.2f" }.mkString(" ")
      val ivfLine = ivfProbes.zipWithIndex.map { case (p, i) =>
        f"nprobe=$p:${mean(stats.map(_._2(i)))}%.2f" }.mkString(" ")
      println(f"[stress] recall@10 over ${qIds.length} queries " +
        f"(${(System.nanoTime() - t0) / 1e9}%.1fs incl. truth): " +
        s"lsh(bits=8) $lshLine; ivf(nClusters=16) $ivfLine")
      val q0 = embs.filter(col("vec_id") === qIds.head)
        .select(col("embedding")).collect()(0).getSeq[Float](0)
      time("lsh kNN top-10 (q35 config)")(
        Similarity.lshTopK(embs.filter(col("vec_id") =!= qIds.head),
          "embedding", "vec_id", q0, 10, dim = 64, bits = 8, probes = 4).count())
      val (a2, c2) = Similarity.ivfIndex(embs, "embedding", nClusters = 16, dim = 64)
      time("ivf kNN top-10 incl. index build (q36 config)")(
        Similarity.ivfTopK(a2.filter(col("vec_id") =!= qIds.head), c2,
          "embedding", "vec_id", q0, 10, nprobe = 4).count())
    }
    if (sys.env.contains("STRESS_RECALL_ONLY")) { spark.stop(); return }

    time("exact dedup groups")(
      Dedup.exactGroups(docs, "text", "doc_id").count())
    time("minhash candidates")(
      Dedup.minhashCandidates(docs, "text", "doc_id").count())
    time("minhash near-dups (verify)")(
      Dedup.minhashNearDups(docs, "text", "doc_id", threshold = 0.7).count())
    time("simhash near-dups")(
      Dedup.simhashNearDups(docs, "text", "doc_id", maxHamming = 4).count())
    time("embedding near-dups (LSH)")(
      Similarity.embeddingNearDups(embs, "embedding", "vec_id",
        threshold = 0.9, dim = 64, bits = 8, tables = 16).count())
    val q = embs.filter(col("vec_id") === 0)
      .select(col("embedding")).collect()(0).getSeq[Float](0)
    time("brute kNN top-20")(
      Similarity.bruteForceTopK(embs.filter(col("vec_id") =!= 0),
        "embedding", "vec_id", q, k = 20).count())

    // round-6 operators (10× docs / 1M events; see docs/SCALE.md)
    time("exact n-gram pairs (PPJoin, t=0.5)")(
      Corpus.exactNgramPairs(docs, "text", "doc_id", 0.5, 3).count())
    // candidate volume is quadratic in exact-copy multiplicity (every
    // copy shares every prefix gram) — the production composition runs
    // exact dedup FIRST, then mines near-dups among unique contents
    time("exact dedup -> n-gram pairs (composition)")(
      Corpus.exactNgramPairs(Dedup.exact(docs, "text", "doc_id"),
        "text", "doc_id", 0.5, 3).count())
    time("sequence packing (2048-token bins)")(
      Corpus.packSequences(docs, "doc_id", col("doc_id") % 32,
        col("doc_id"), col("n_chars"), 2048L).count())
    time("temperature resample (alpha=0.5 by lang)")(
      Corpus.temperatureResample(docs, "doc_id", "lang").count())

    // round-7 operators over the same adversarial replica
    time("strip boilerplate (per-source frequent lines)")(
      Corpus.stripBoilerplate(
        docs.withColumn("text",
          concat_ws("\n", concat(lit("=== "), col("source"), lit(" ===")),
            col("text"), lit("footer line"))),
        "text", "doc_id", "source").count())
    time("strip html (regex chain)")(
      docs.select(graft.functions.TextFunctions.stripHtml(
        concat(lit("<html><body><p>"), col("text"), lit("</p></body></html>")))
        .as("t")).filter(length(col("t")) > 0).count())
    time("survivors by quality over LSH near-dup edges")(
      Dedup.nearDupSurvivorsBy(
        embs, Similarity.embeddingNearDups(embs, "embedding", "vec_id",
          threshold = 0.9, dim = 64, bits = 8, tables = 16),
        "vec_id", col("vec_id") % 97).count())

    r11(docs, embs)

    r11b(docs)

    val evPath = args.lift(2).getOrElse("/tmp/sf1_events.parquet")
    if (!new java.io.File(evPath).exists()) {
      println(s"[stress] events replica missing at $evPath — skipping event ops")
      spark.stop(); return
    }
    val ev = spark.read.parquet(evPath).repartition(32)
    println(s"[stress] events=${ev.count()}")
    time("funnel view->click->purchase")(
      Paths.funnel(ev, "user_id", "ts", "event_type",
        Seq("view", "click", "purchase")).count())
    time("event transitions")(
      Paths.transitions(ev, "user_id", "ts", "event_id", "event_type")
        .count())
    time("rolling 7-row stats per user")(
      TimeSeries.rolling(ev, "user_id", "ts", "event_id", "value", 7)
        .count())
    time("gap-filled hourly resample per type")(
      TimeSeries.gapFill(ev, "event_type", "ts", "value", "hour").count())
    spark.stop()
  }
}
