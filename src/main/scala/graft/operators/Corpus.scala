package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Corpus-curation operators for a large-scale training-data pipeline:
  * exact n-gram near-dup pairs, benchmark decontamination, per-domain
  * quota caps, deterministic hash sampling, incremental (batch-vs-corpus)
  * dedup, and document-frequency-weighted term relevance.
  *
  * Every operator here is a declarative DataFrame plan (no UDFs, no
  * collect of data) whose semantics are exactly expressible in ANSI SQL —
  * each has a DuckDB oracle gate (graft.queries.Extensions q77–q82).
  * Determinism rules: ordering keys are md5 hex strings (bit-identical
  * across engines, stable under growth and repartitioning — the same
  * argument as [[Split.assignment]]); relevance scores are single IEEE
  * divisions of integer counts (correctly rounded in every engine),
  * never sums of floats or `ln` (whose last-ulp behavior is
  * implementation-defined).
  */
object Corpus {

  private val cr = graft.ops.Cleanse.colRef _

  /** Run `body` with AQE disabled when `tiny` (round 21): the GD
    * iteration actions over a diet-sized cached feature frame are
    * sub-second queries whose remaining cost is AQE's own machinery —
    * 3-5 stage-jobs plus a re-optimization pause per action (q163
    * measured 73 jobs with a 2.3 s driver gap). When the trainer
    * already re-laid the frame BELOW defaultParallelism (the measured-
    * tiny case), its iteration shuffles are KB-sized and skew-free by
    * construction, so static planning is strictly cheaper; any real
    * corpus keeps featParts at the cap and trains with AQE exactly as
    * before. Conf restored in finally; only the EAGER iteration
    * actions execute inside, so the session's lazy gate plans are
    * planned under the session default as always.
    */
  private def withStaticPlanning[T](
      spark: org.apache.spark.sql.SparkSession, tiny: Boolean)(body: => T): T =
    if (!tiny) body
    else {
      val key = "spark.sql.adaptive.enabled"
      val old = spark.conf.getOption(key)
      spark.conf.set(key, "false")
      try body
      finally old match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }

  /** Distinct word-`n`-gram rows `(id, gram)` for each document — the
    * inverted-index building block shared by [[exactNgramPairs]] and
    * [[contaminationCounts]].
    *
    * The tokens projection is separated from the n-gram transform by a
    * hash repartition on `id`. That exchange is load-bearing twice over:
    *  - CollapseProject would otherwise merge the two selects and inline
    *    the regex tokenizer into the `transform` lambda, and
    *    higher-order functions evaluate interpreted with no
    *    loop-invariant hoisting — the tokenizer re-runs once per gram
    *    position (the re-evaluation trap: ~17× measured on this scan).
    *    Projections never collapse across an exchange.
    *  - the n-gram explode multiplies rows ~|tokens|×; pre-shuffling the
    *    1× text guarantees the expansion runs at full parallelism even
    *    when the source is a single file/row-group (measured 27 s → 1 s
    *    at sf0.1, where the 5k-doc parquet arrives as ONE partition).
    *    At corpus scale the exchange is 1× the text bytes — noise next
    *    to the explode it parallelizes, and downstream per-id
    *    aggregations reuse the partitioning instead of re-shuffling.
    */
  def gramIndex(df: DataFrame, textCol: String, idCol: String, n: Int): DataFrame =
    df.select(cr(idCol).as("id"), TextFunctions.tokens(cr(textCol)).as("_graft_toks"))
      // numbered ⇒ exempt from AQE coalescing: the exchange moves slim
      // (id, tokens) rows but everything DOWNSTREAM of it (n-gram
      // explode, window sizing, prefix ranking, pair fan-out) is
      // compute-bound — size-based coalescing was squeezing those
      // stages onto 2 tasks and serializing the operator's hot path.
      // Width = max(cores, spark.sql.shuffle.partitions): never below
      // cluster width locally, and on a real cluster it follows the
      // operator-sized shuffle partitioning (100 TB / cores per task
      // would otherwise be the failure mode of a cores-only pin).
      .repartition(
        math.max(df.sparkSession.sparkContext.defaultParallelism,
          df.sparkSession.sessionState.conf.numShufflePartitions),
        col("id"))
      .select(
        col("id"),
        explode(TextFunctions.wordNgramsOfTokens(col("_graft_toks"), n)).as("gram"))

  /** EXACT n-gram Jaccard pairs at or above `threshold`, by
    * prefix-filtered inverted-index blocking (the set-similarity join of
    * Vernica et al., SIGMOD 2010 / PPJoin): with grams totally ordered
    * (rarest first), two sets with Jaccard >= t MUST share a gram inside
    * their first `|s| - ceil(t*|s|) + 1` grams, so joining only those
    * prefixes is lossless while skipping the common grams that dominate
    * sum(df^2) in a naive gram-equi-join. This is the oracle-checkable
    * exact twin of the MinHash-blocked [[Dedup.ngramJaccardNearDups]]
    * (q77), the same role q51 plays for q52 on embeddings.
    *
    * Stages (scale shape) — no gram ARRAYS anywhere: every frame is
    * fixed-width (id, gram-hash, counts) rows, so each shuffle moves
    * slim data and nothing materializes per-doc state:
    *  1. grams hashed to 64-bit (xxhash64) once at the source — all
    *     downstream joins/sorts compare longs, not 25-byte strings;
    *  2. gram df counts — one partial-aggregated shuffle on the hash;
    *  3. per-doc gram rank by (df asc, hash) — one shuffle back to `id`
    *     (the per-doc TRUE set size rides the same window partition);
    *  4. candidate pairs — self-join of the PREFIX grams only (rarest
    *     ~(1-t) fraction of each doc), then three LOSSLESS prunes:
    *     the |min| >= t*|max| length filter, pair-dedup via groupBy, and
    *     the PPJoin positional filter: a shared gram at ranks (i, j)
    *     bounds the overlap by min(i,j) + min(|a|-i, |b|-j) (shared
    *     grams before it number at most min(i,j)-1 plus itself, after
    *     it at most the min remaining suffix); J >= t needs overlap
    *     alpha = ceil(t/(1+t)*(|a|+|b|)), every shared-gram row yields
    *     a valid bound, and min-aggregating per pair keeps the tightest;
    *  5. verification — inverted-index COUNT join: each candidate pair
    *     fans out over its SMALLER doc's grams (J >= t bounds the
    *     fan-out at min(|a|,|b|) <= |a∩b|/t), matches them against the
    *     unpruned gram index on (partner id, hash), and a count-agg
    *     yields the exact intersection. Replacing the previous
    *     array_intersect-over-collect_list verification removed the fat
    *     intermediate (per-pair gram arrays shuffled between two
    *     sort-merge joins — hundreds of MB at sf0.1) and its
    *     collect_list build; measured 12.9 s → ~4 s at sf0.1 with 308k
    *     candidates. Reported scores are the TRUE Jaccard over full
    *     gram sets.
    *
    * Hashing caveat: two distinct grams colliding in 64 bits would
    * merge in the df counts and the intersection. That needs ~2^32
    * distinct grams for even-odds (birthday bound) — at gate scale the
    * probability is ~1e-11; at a 10-billion-gram corpus a handful of
    * colliding gram PAIRS exist globally, each shifting one pair's
    * intersection count by at most 1. For strict bit-exactness at that
    * scale, block by the full gram string instead (`hashGrams = false`)
    * and pay string-width shuffles.
    *
    * `maxDf` drops grams whose document frequency exceeds the cap from
    * candidate generation (the standard crawl-scale common-gram prune).
    * Denominators and intersections still come from the UNPRUNED sets,
    * so the score of every reported pair stays exact; the only effect of
    * the cap is one-sided and PRECISELY characterizable — a pair is
    * reported iff its true Jaccard ≥ `threshold` AND at least one shared
    * gram has df ≤ cap (proof sketch: rank positions are computed over
    * surviving grams while prefix lengths use the TRUE set size, so the
    * first surviving shared gram in global (df, hash) order sits within
    * both prefixes — the dropped shared grams above it shrink the
    * surviving sets at least as fast as they consume prefix budget).
    * Pairs whose every shared gram is ultra-common are boilerplate
    * collisions, not near-duplicates.
    *
    * `maxDf` modes:
    *  - `-1` (default): auto-cap at `max(100, ceil(0.1 · nDocs))` — the
    *    classic max-df rule (a gram in >10% of documents carries no
    *    dedup signal). The doc count comes from a 1-row aggregate branch
    *    of the SAME gram pipeline (exchange-reused, broadcast back), so
    *    the auto mode adds no extra scan of the corpus. This is the
    *    scale-safe default: without a cap the candidate self-join on a
    *    hot gram grows as df², and a heavy-tailed corpus at 100× scale
    *    turns one boilerplate 3-gram into a quadratic shuffle.
    *  - `0`: explicitly lossless — no cap. Opt-in only: the caller
    *    asserts the corpus has no heavy-tailed common grams (or accepts
    *    the quadratic hot-gram cost). The LSH-blocked
    *    [[Dedup.ngramJaccardNearDups]] is the right operator when
    *    neither holds.
    *  - `> 0`: explicit absolute cap.
    */
  def exactNgramPairs(
      df: DataFrame,
      textCol: String,
      idCol: String,
      threshold: Double = 0.5,
      n: Int = 3,
      maxDf: Long = -1L,
      hashGrams: Boolean = true): DataFrame = {
    require(threshold > 0, "threshold must be > 0: at 0 the blocking is no longer lossless")
    // SINGLE gram pipeline, fanned out by exchange reuse: every branch
    // below (df counts, ranking, verification index) descends from this
    // one [[gramIndex]], whose internal hash exchange on `id` is
    // structurally identical in each branch — ReuseExchange runs the
    // scan+tokenize ONCE and the branches read its shuffle output. (A
    // per-branch re-derivation re-ran the tokenizer 5x over the corpus:
    // measured 80 s → ~2 s at sf0.1 for the whole operator.)
    val g = if (hashGrams) xxhash64(col("gram")) else col("gram")
    val grams = gramIndex(df, textCol, idCol, n).select(col("id"), g.as("g"))
    // TRUE (unpruned) per-doc set size via an unordered window over the
    // existing id partitioning — no extra exchange, no collect_list
    val wId = Window.partitionBy(col("id"))
    val sized = grams.withColumn("sz", count(lit(1)).over(wId))
    val dfreq0 = grams.groupBy(col("g")).agg(count(lit(1)).as("_df"))
    val dfreq =
      if (maxDf == 0L) dfreq0
      else if (maxDf > 0L) dfreq0.filter(col("_df") <= maxDf)
      else {
        // auto cap: max(100, ceil(0.1 * nDocs)). The doc count is a
        // 1-row aggregate over the same gram frame (exchange-reused,
        // not a second corpus scan) broadcast onto the df counts, so
        // the cap stays fully declarative — one query, one job.
        val nDocs = grams.agg(countDistinct(col("id")).as("_ndocs"))
        dfreq0.crossJoin(broadcast(nDocs))
          .filter(col("_df") <=
            greatest(lit(100L), ceil(lit(0.1) * col("_ndocs")).cast("long")))
          .select(col("g"), col("_df"))
      }
    // rank each doc's (surviving) grams rarest-first; under a maxDf cap
    // the prefix is computed over fewer grams, so it can only get
    // shorter (more misses, never wrong scores: the documented
    // one-sided tradeoff)
    val w = Window.partitionBy(col("id")).orderBy(col("_df").asc, col("g").asc)
    val ranked = sized
      .join(dfreq, Seq("g"))
      .withColumn("pos", row_number().over(w))
    // prefix length |s| - ceil(t*|s|) + 1; the tiny epsilon keeps an
    // exactly-integer t*|s| from ceiling one too high under FP noise
    // (a too-SHORT prefix would break losslessness; epsilon can only
    // lengthen it)
    val prefixes = ranked
      .filter(col("pos") <=
        col("sz") - ceil(lit(threshold) * col("sz") - lit(1e-9)) + 1)
      .select(col("id"), col("g"), col("sz"), col("pos"))
    val alpha = ceil(
      lit(threshold / (1 + threshold)) * (col("sz_a") + col("sz_b")) - lit(1e-9))
    val cands = prefixes.select(
      col("id").as("id_a"), col("g"), col("sz").as("sz_a"), col("pos").as("pos_a"))
      .join(prefixes.select(
        col("id").as("id_b"), col("g"), col("sz").as("sz_b"), col("pos").as("pos_b")),
        Seq("g"))
      .filter(col("id_a") < col("id_b") &&
        least(col("sz_a"), col("sz_b")).cast("double") >=
          lit(threshold) * greatest(col("sz_a"), col("sz_b")).cast("double") - lit(1e-9))
      .select(col("id_a"), col("id_b"), col("sz_a"), col("sz_b"),
        (least(col("pos_a"), col("pos_b")) +
          least(col("sz_a") - col("pos_a"), col("sz_b") - col("pos_b"))).as("ubound"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(min(col("ubound")).as("ub"), first(col("sz_a")).as("sz_a"),
        first(col("sz_b")).as("sz_b"))
      .filter(col("ub") >= alpha)
      .select(col("id_a"), col("id_b"), col("sz_a"), col("sz_b"))
    // verification: fan each pair out over its SMALLER doc's grams,
    // probe the unpruned index on (partner id, gram hash), count
    val fan = cands.select(col("id_a"), col("id_b"), col("sz_a"), col("sz_b"),
      when(col("sz_a") <= col("sz_b"), col("id_a")).otherwise(col("id_b")).as("id"),
      when(col("sz_a") <= col("sz_b"), col("id_b")).otherwise(col("id_a")).as("partner"))
      .join(grams, Seq("id"))
      .select(col("id_a"), col("id_b"), col("sz_a"), col("sz_b"),
        col("partner").as("id"), col("g"))
    fan
      .join(grams, Seq("id", "g"), "left_semi")
      .groupBy(col("id_a"), col("id_b"), col("sz_a"), col("sz_b"))
      .agg(count(lit(1)).as("inter"))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("sz_a") + col("sz_b") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Per-document count of distinct word-`n`-grams shared with ANY
    * benchmark document — the decontamination signal. Every `train` id
    * appears exactly once (`n_shared = 0` when clean).
    *
    * Scale shape: the benchmark gram set is tiny relative to the corpus
    * (eval suites are thousands of docs, the corpus billions), so the
    * semi-join broadcasts it; the train side stays a single scan +
    * explode + partial-aggregated count, no corpus-sized shuffle.
    */
  def contaminationCounts(
      train: DataFrame,
      bench: DataFrame,
      textCol: String,
      idCol: String,
      n: Int = 8): DataFrame = {
    val benchGrams = gramIndex(bench, textCol, idCol, n)
      .select(col("gram")).distinct()
    val shared = gramIndex(train, textCol, idCol, n)
      .join(benchGrams, Seq("gram"), "left_semi")
      .groupBy(col("id")).agg(count(lit(1)).as("n_shared"))
    train.select(cr(idCol).as("id"))
      .join(shared, Seq("id"), "left")
      .select(col("id"), coalesce(col("n_shared"), lit(0L)).as("n_shared"))
  }

  /** `train` minus every document sharing at least one word-`n`-gram
    * with the benchmark set (the Brown/GPT-3-style n-gram overlap
    * filter).
    */
  def decontaminate(
      train: DataFrame,
      bench: DataFrame,
      textCol: String,
      idCol: String,
      n: Int = 8): DataFrame =
    decontaminateAgainstGrams(
      train, decontaminationGrams(bench, textCol, idCol, n), textCol, idCol, n)

  /** The distinct benchmark n-gram frame [[decontaminate]] probes — the
    * PERSISTABLE unit for repeated decontamination (the streaming
    * deployment, [[graft.streaming.Streams.perBatch]] over
    * [[decontaminateAgainstGrams]], probes
    * it every micro-batch; unpersisted, each batch re-tokenizes the
    * whole benchmark corpus — the model-persist lesson every scoring
    * deployment measured). One `gram` column.
    */
  def decontaminationGrams(
      bench: DataFrame, textCol: String, idCol: String, n: Int = 8): DataFrame =
    gramIndex(bench, textCol, idCol, n).select(col("gram")).distinct()

  /** [[decontaminate]] against a PRECOMPUTED benchmark gram frame
    * (`gram` column, as built by [[decontaminationGrams]]). `n` must
    * match the gram frame's n — gram strings of a different order
    * simply never collide, silently disabling the filter.
    */
  def decontaminateAgainstGrams(
      train: DataFrame,
      benchGrams: DataFrame,
      textCol: String,
      idCol: String,
      n: Int = 8): DataFrame = {
    val dirty = gramIndex(train, textCol, idCol, n)
      .join(benchGrams.select(col("gram")), Seq("gram"), "left_semi")
      .select(col("id")).distinct()
    train.join(dirty.withColumnRenamed("id", idCol), Seq(idCol), "left_anti")
  }

  /** [[decontaminate]] with a bloom-filter pre-pass — the 100 TB path.
    *
    * The exact operator broadcasts the distinct benchmark gram set into
    * a hash relation; at crawl scale that set is tens of millions of
    * 8-grams (gigabytes as a hash table, re-built per executor). Here
    * the driver folds the bench grams into a [[BloomFilter]] sized from
    * their exact count (`stat.bloomFilter` — a treeAggregate, so driver
    * memory holds one sketch, never the grams), executors probe it as a
    * codegen'd expression (~`-n·ln(fpp)/ln²2` bits: ~12 MB per 10M grams
    * at 1%), and only the surviving ~(contaminated + fpp·N) train grams
    * reach the exact semi-join that removes false positives.
    *
    * Because bloom filters have NO false negatives and the exact join
    * removes every false positive, the result set is IDENTICAL to
    * [[decontaminate]] for any `fpp` — the gate asserts that against the
    * same SQL oracle.
    */
  def bloomDecontaminate(
      train: DataFrame,
      bench: DataFrame,
      textCol: String,
      idCol: String,
      n: Int = 8,
      fpp: Double = 0.01): DataFrame = {
    require(fpp > 0 && fpp < 1, "fpp in (0,1)")
    // cached (round 20): the distinct bench-gram frame is consumed
    // THREE times (the sizing count, the bloom-filter treeAggregate,
    // the exact false-positive semi-join) — uncached, each evaluation
    // re-tokenizes and re-distincts the benchmark corpus. Eval-suite-
    // sized by contract; operator-owned (Caches.release()).
    val benchGrams = graft.ops.Caches.owned(
      gramIndex(bench, textCol, idCol, n).select(col("gram")).distinct())
    // one scalar to size the sketch (a sizing decision, not data motion)
    val expected = math.max(benchGrams.count(), 1L)
    val bloom = benchGrams.stat.bloomFilter("gram", expected, fpp)
    val candidates = gramIndex(train, textCol, idCol, n)
      .filter(graft.plans.BloomExpressions.mightContain(col("gram"), bloom))
    val dirty = candidates.join(benchGrams, Seq("gram"), "left_semi")
      .select(col("id")).distinct()
    train.join(dirty.withColumnRenamed("id", idCol), Seq(idCol), "left_anti")
  }

  /** Keep predicate for the hot-group pre-thin: md5 prefix below `frac`
    * quantized to 2³² buckets (floored at one bucket so the probe keeps
    * something). The kept set is a DOWNWARD-CLOSED PREFIX of the
    * (md5(id), id) quota order — an 8-hex-char prefix below the
    * threshold implies the full hash sorts below every hash at or above
    * it — which is what makes pre-thinning lossless whenever the quota
    * cut lands inside the thinned set. Null ids ALWAYS pass: md5(null)
    * is null, and the quota window orders by (md5(id), id) asc
    * nulls-first, so a null-id row ranks ahead of every hashed row and
    * belongs to every downward-closed prefix — dropping it here would
    * thin away a row the exact operator keeps while the row-count probe
    * still reads "safe".
    */
  private def thinKeep(id: Column, frac: Column): Column = {
    val buckets = least(greatest(floor(frac * 4294967296.0), lit(1.0)),
      lit(4294967295.0)).cast("long")
    id.isNull ||
      (substring(md5(id.cast("string")), 1, 8) < format_string("%08x", buckets))
  }

  /** At most `cap` rows per group, chosen deterministically: rows rank
    * by md5 of their id within each group, so the kept subset is stable
    * under corpus growth, re-partitioning, and engine choice — a
    * shuffled-but-reproducible "random" cap (the per-domain quota stage
    * of crawl pipelines).
    *
    * Scale shape: one hash-partition shuffle on `groupCol` + a
    * window-sort within each group. A pathologically hot group would
    * sort on one task (AQE does not split window partitions), so groups
    * larger than `preThinFactor × cap` are pre-thinned IN-OPERATOR with
    * [[thinKeep]] at `preThinFactor × cap / |group|` before the window:
    * the thinned set is a prefix of the quota order, so the result is
    * identical whenever it still holds ≥ cap rows — expected size is
    * `preThinFactor × cap`, so with the default factor the exact path
    * is a ≈ e^-8·cap tail event. Groups where the probe does come up
    * short (including a group thinned to zero — possible only for
    * adversarial id sets aligned against the hash) are detected lazily
    * and recomputed exactly through a fallback branch, so the operator
    * is exact ALWAYS, with the single-task sort bounded to
    * `preThinFactor × cap` rows per group on the main path.
    */
  def quotaPerGroup(
      df: DataFrame,
      groupCol: String,
      idCol: String,
      cap: Int,
      preThinFactor: Double = 8.0): DataFrame = {
    require(cap > 0, "cap must be positive")
    require(preThinFactor > 0, "preThinFactor must be positive")
    val (rn, gT, g2T, cntT, tcntT) = ("_graft_quota_rn", "_graft_quota_g",
      "_graft_quota_g2", "_graft_quota_cnt", "_graft_quota_tcnt")
    require(!df.columns.exists(_.startsWith("_graft_quota_")),
      "input already has _graft_quota_* columns — rename them first")
    val w = Window.partitionBy(cr(groupCol))
      .orderBy(md5(cr(idCol).cast("string")), cr(idCol))
    val counts = df.groupBy(cr(groupCol).as(gT)).agg(count(lit(1)).as(cntT))
    val hot = col(cntT) > lit(preThinFactor * cap)
    // null-safe join: a null group is a real window partition and must
    // not be dropped by the count lookup
    val joined = df.join(counts, cr(groupCol) <=> col(gT))
    val thinned = joined.filter(!hot ||
      thinKeep(cr(idCol), lit(preThinFactor * cap) / col(cntT)))
    // safety probe as plain aggregates, NOT window counts: per-group
    // stats of the thinned set are a map-side-combined groupBy, so the
    // expensive window sort runs exactly once, on the main path only.
    // A left join from counts also covers groups thinned to zero
    // (absent from thinStats → tcnt 0). A group is unsafe iff the
    // probe kept fewer than cap rows AND actually dropped some.
    val thinStats = thinned.groupBy(cr(groupCol).as(g2T))
      .agg(count(lit(1)).as(tcntT))
    val unsafeGroups = counts
      .join(thinStats, col(gT) <=> col(g2T), "left")
      .filter(coalesce(col(tcntT), lit(0L)) < cap &&
        coalesce(col(tcntT), lit(0L)) < col(cntT))
      .select(col(gT).as(g2T))
    val main = thinned
      .join(unsafeGroups, cr(groupCol) <=> col(g2T), "left_anti")
      .withColumn(rn, row_number().over(w))
      .filter(col(rn) <= cap)
      .drop(rn, gT, cntT)
    val fallback = df
      .join(unsafeGroups, cr(groupCol) <=> col(g2T), "left_semi")
      .withColumn(rn, row_number().over(w))
      .filter(col(rn) <= cap)
      .drop(rn)
    main.unionByName(fallback)
  }

  /** Global exact paragraph dedup (the RefinedWeb/MassiveText stage,
    * distinct from [[stripBoilerplate]]'s per-group frequency rule):
    * every repeated paragraph keeps exactly its FIRST occurrence —
    * ordered by (id, position) — and loses all others, corpus-wide.
    * Paragraphs shorter than `minChars` are exempt (blank separators
    * and stubby fragments carry no duplication signal and must not
    * collapse across unrelated documents). Document paragraph order is
    * preserved; rows are preserved (a fully-deduped document keeps an
    * empty-text row).
    *
    * Scale shape: explode into (id, pos, para), then keep-first as a
    * partial-aggregated `min(struct(id, pos))` per paragraph hash
    * joined back onto the lines — deliberately NOT a window: a
    * boilerplate paragraph repeated across millions of documents would
    * be one hot window partition (a single-task sort AQE cannot
    * split), while the min-aggregation combines map-side and the
    * equi-join on the hash is AQE-skew-splittable. Then the same
    * id-keyed ordered reassembly as [[stripBoilerplate]].
    * Determinism: first-occurrence is a total (id, pos) order, no
    * hashing ties — oracle gate q116 runs the equivalent keep-first
    * window in SQL (identical result; the window is fine at oracle
    * scale).
    *
    * Contract: `idCol` must be UNIQUE — it is the reassembly key, so a
    * duplicated id would cross-multiply rows and merge documents. A
    * null id round-trips (the reassembly join is null-safe), though
    * keep-first order places null ids before all others.
    */
  def dedupParagraphs(
      df: DataFrame,
      textCol: String,
      idCol: String,
      minChars: Int = 20,
      sep: String = "\n"): DataFrame = {
    require(minChars >= 0, "minChars must be non-negative")
    val (idT, posT, paraT, hT, fT, textT) =
      ("_graft_pd_id", "_graft_pd_pos", "_graft_pd_para",
        "_graft_pd_h", "_graft_pd_first", "_graft_pd_text")
    require(!df.columns.exists(_.startsWith("_graft_pd_")),
      "input already has _graft_pd_* columns — rename them first")
    val paras = df.select(
      cr(idCol).as(idT),
      posexplode(split(cr(textCol),
        java.util.regex.Pattern.quote(sep))).as(Seq(posT, paraT)))
      .withColumn(hT, md5(col(paraT)))
    // keep-first via partial-aggregated min, not a window (see scaladoc)
    val firsts = paras.groupBy(col(hT))
      .agg(min(struct(col(idT), col(posT))).as(fT))
    val kept = paras.join(firsts, Seq(hT))
      .filter(length(col(paraT)) < minChars ||
        struct(col(idT), col(posT)) === col(fT))
    val cleaned = kept
      .groupBy(col(idT))
      .agg(array_join(
        transform(
          array_sort(collect_list(struct(col(posT), col(paraT)))),
          x => x.getField(paraT)),
        sep).as(textT))
    // null-safe reassembly: a NULL-id row must rejoin its own exploded
    // lines, not silently lose its text to a non-matching equi-join.
    // Ids are REQUIRED unique (scaladoc) — id-keyed reassembly is only
    // well-defined then; duplicate ids would cross-multiply rows here.
    df.join(cleaned, cr(idCol) <=> col(idT), "left")
      .withColumn(textCol,
        when(cr(textCol).isNull, lit(null.asInstanceOf[String]))
          .otherwise(coalesce(col(textT), lit(""))))
      .drop(idT, textT)
  }

  /** Token-budget quota per group — the data-mixing twin of
    * [[quotaPerGroup]]: documents are admitted in deterministic md5
    * order until the group's CUMULATIVE token count reaches `budget`
    * (pretraining mixes are specified in tokens, not documents, so a
    * doc-count cap over-weights short-doc sources). A document is kept
    * iff the tokens BEFORE it are under budget — the boundary doc
    * straddles in (same policy as [[packSequences]]), so every
    * non-empty group keeps at least one document and the kept total
    * overshoots by at most one document.
    *
    * Scale shape: one hash-partition shuffle on the group + an
    * in-partition running sum; selection is stable under corpus growth
    * and repartitioning (the [[quotaPerGroup]] md5 argument). Hot
    * groups carry the same in-operator guard as [[quotaPerGroup]]:
    * groups whose token total exceeds `preThinFactor × budget` are
    * pre-thinned with [[thinKeep]] at `preThinFactor × budget /
    * groupTokens` (id hashes are independent of document length, so
    * the thinned set's expected token mass is `preThinFactor ×
    * budget`); the thinned set is a prefix of the admission order, so
    * the cut is exact whenever the thinned set still carries ≥ budget
    * tokens. Groups where the probe comes up short are recomputed
    * exactly through the lazy fallback branch — exact ALWAYS, with
    * the single-task sort bounded on the main path.
    */
  def tokenQuotaPerGroup(
      df: DataFrame,
      groupCol: String,
      idCol: String,
      tokens: Column,
      budget: Long,
      preThinFactor: Double = 8.0): DataFrame = {
    require(budget > 0, "budget must be positive")
    require(preThinFactor > 0, "preThinFactor must be positive")
    val (prev, gT, g2T, cntT, gtokT, tcntT, tsumT) =
      ("_graft_tq_prev", "_graft_tq_g", "_graft_tq_g2", "_graft_tq_cnt",
        "_graft_tq_gtok", "_graft_tq_tcnt", "_graft_tq_tsum")
    require(!df.columns.exists(_.startsWith("_graft_tq_")),
      "input already has _graft_tq_* columns — rename them first")
    val tok = tokens.cast("long")
    val w = Window.partitionBy(cr(groupCol))
      .orderBy(md5(cr(idCol).cast("string")), cr(idCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    val counts = df.groupBy(cr(groupCol).as(gT))
      .agg(count(lit(1)).as(cntT), sum(tok).as(gtokT))
    // coalesce: an all-null-token group has a null total — not hot,
    // and must keep every row exactly as the unguarded cut would
    val hot = coalesce(col(gtokT) > lit(preThinFactor) * budget, lit(false))
    val joined = df.join(counts, cr(groupCol) <=> col(gT))
    val thinned = joined.filter(!hot ||
      thinKeep(cr(idCol), lit(preThinFactor) * budget / col(gtokT)))
    // safety probe as plain aggregates — see quotaPerGroup: the window
    // runs once, on the main path only; a left join from counts covers
    // groups thinned to zero. Unsafe iff the thinned token mass is
    // under budget AND the probe actually dropped rows.
    val thinStats = thinned.groupBy(cr(groupCol).as(g2T))
      .agg(count(lit(1)).as(tcntT), sum(tok).as(tsumT))
    val unsafeGroups = counts
      .join(thinStats, col(gT) <=> col(g2T), "left")
      .filter(coalesce(col(tsumT), lit(0L)) < budget &&
        coalesce(col(tcntT), lit(0L)) < col(cntT))
      .select(col(gT).as(g2T))
    val main = thinned
      .join(unsafeGroups, cr(groupCol) <=> col(g2T), "left_anti")
      .withColumn(prev, coalesce(sum(tok).over(w), lit(0L)))
      .filter(col(prev) < budget)
      .drop(prev, gT, cntT, gtokT)
    val fallback = df
      .join(unsafeGroups, cr(groupCol) <=> col(g2T), "left_semi")
      .withColumn(prev, coalesce(sum(tok).over(w), lit(0L)))
      .filter(col(prev) < budget)
      .drop(prev)
    main.unionByName(fallback)
  }

  /** Exact largest-remainder allocation of `totalTokens` across
    * domains proportional to `weights` — the driver-side arithmetic
    * that turns a published mixture spec ("50% web, 30% code, ...")
    * into the integer per-domain budgets [[domainMixture]] consumes.
    * Floors every share, then hands the leftover tokens one-by-one to
    * the largest fractional remainders (ties broken by domain name
    * asc, so the allocation is deterministic); the result sums to
    * exactly `totalTokens`.
    */
  def mixtureBudgets(
      weights: Map[String, Double], totalTokens: Long): Map[String, Long] = {
    require(weights.nonEmpty, "weights must be non-empty")
    require(weights.values.forall(w => w > 0 && !w.isNaN && !w.isInfinite),
      "weights must be positive and finite")
    require(totalTokens > 0, "totalTokens must be positive")
    val wSum = weights.values.sum
    val shares = weights.toSeq.map { case (d, w) =>
      val exact = w / wSum * totalTokens
      (d, exact.toLong, exact - exact.toLong)
    }
    val leftover = (totalTokens - shares.map(_._2).sum).toInt
    val bonus = shares.sortBy { case (d, _, rem) => (-rem, d) }
      .take(leftover).map(_._1).toSet
    shares.map { case (d, base, _) =>
      d -> (base + (if (bonus(d)) 1L else 0L))
    }.toMap
  }

  /** Temperature-smoothed mixture weights — the multilingual-sampling
    * formula (Conneau & Lample 2019 §3.1; mT5, Xue et al. 2021 §3.2):
    * `p_d ∝ n_d^alpha` over the observed per-domain token totals.
    * `alpha = 1` reproduces the natural distribution, `alpha → 0`
    * approaches uniform, the published sweet spots sit at 0.2–0.7
    * (mT5 uses 0.3). Returns WEIGHTS for [[mixtureBudgets]] — the
    * composition `mixtureBudgets(temperatureWeights(totals, a), T)`
    * yields per-domain budgets that sum to T exactly (the
    * largest-remainder step). Driver-side pure math over a
    * domains-sized map (the budgets map is a literal by construction
    * everywhere the engine consumes it).
    */
  def temperatureWeights(
      totals: Map[String, Long], alpha: Double): Map[String, Double] = {
    require(totals.nonEmpty, "totals must be non-empty")
    require(totals.values.forall(_ > 0), "totals must be positive")
    require(alpha > 0 && alpha <= 1, "alpha in (0, 1]")
    totals.map { case (d, n) => d -> math.pow(n.toDouble, alpha) }
  }

  /** Training-mixture construction (the DoReMi / Pile shape): each
    * domain contributes documents in a deterministic pseudo-random
    * order until its own token `budget` fills, and a domain whose
    * whole corpus is SMALLER than its budget repeats it — full passes
    * ("epochs") in the same order, up to `maxEpochs` — before giving
    * up (published mixtures upsample under-resourced domains exactly
    * this way; see Gao 2020 "The Pile" §2, Xie 2023 "DoReMi" §3).
    * Semantically: replicate every doc `maxEpochs` times tagged
    * `epoch` 0..maxEpochs-1, order each domain by
    * `(epoch, md5(id), id)`, and admit a copy iff the domain tokens
    * BEFORE it are under budget — the boundary doc straddles in (the
    * [[packSequences]] / [[tokenQuotaPerGroup]] policy, so a domain's
    * admitted mass overshoots by at most one document). Domains
    * absent from `budgets`, and rows with null ids (no identity → no
    * deterministic position), are dropped; null token counts read as
    * 0. Emits `(id, domain, epoch, n_tokens, start_off)` with
    * `start_off` the admitted copy's starting token offset — the
    * handoff [[packSequences]] consumes.
    *
    * Scale shape — contrast [[tokenQuotaPerGroup]]'s pre-thin guard:
    * mixture budgets are typically a LARGE fraction of each domain
    * (upsampled domains keep everything, several times over), so
    * probabilistic pre-thinning buys nothing; instead the running sum
    * is an exact DISTRIBUTED prefix: docs bucket by their md5 key's
    * first two hex chars (256 ordered ranges of the admission order),
    * the in-partition window runs per `(domain, epoch, bucket)` —
    * 256 × epochs keys per domain, so a single domain never becomes
    * one window task — and per-bucket token totals (a KB-sized frame:
    * domains × epochs × 256 rows) get one tiny cross-bucket prefix
    * window whose bases broadcast back. Epochs never replicate
    * wastefully: a one-row-per-domain aggregate bounds the copies at
    * `ceil(budget / domainTokens)` — copies beyond it start at or
    * past the budget and can admit nothing, so the bound is exact,
    * not a heuristic. Only id/domain/token columns move; column
    * pruning keeps document bodies out of every exchange.
    */
  def domainMixture(
      df: DataFrame,
      idCol: String,
      domainCol: String,
      tokens: Column,
      budgets: Map[String, Long],
      maxEpochs: Int = 1): DataFrame = {
    require(budgets.nonEmpty, "budgets must be non-empty")
    require(budgets.values.forall(_ > 0), "budgets must be positive")
    require(maxEpochs >= 1, "maxEpochs must be >= 1")
    require(!df.columns.exists(_.startsWith("_graft_dm_")),
      "input already has _graft_dm_* columns — rename them first")
    val budgetOf = budgets.foldLeft(lit(null).cast("long")) {
      case (els, (d, b)) => when(col("domain") === d, lit(b)).otherwise(els)
    }
    val base = df
      .filter(cr(idCol).isNotNull &&
        cr(domainCol).isin(budgets.keys.toSeq: _*))
      .select(
        cr(idCol).as("id"),
        cr(domainCol).as("domain"),
        coalesce(tokens.cast("long"), lit(0L)).as("n_tokens"),
        md5(cr(idCol).cast("string")).as("_graft_dm_key"))
      .withColumn("_graft_dm_bkt",
        conv(substring(col("_graft_dm_key"), 1, 2), 16, 10).cast("int"))
    // exact epoch bound: copies at e >= ceil(budget/total) start at
    // e*total >= budget and admit nothing (all-zero-token domains have
    // no such bound — every copy starts at 0 — so maxEpochs rules).
    // One ≤|budgets|-row collect (caller-bounded — the budgets map is
    // a literal) turns the bound into a literal CASE: no join, and the
    // totals aggregate subtree runs once instead of once per consumer.
    val epochsNeeded: Map[String, Long] = base.groupBy(col("domain"))
      .agg(sum(col("n_tokens")).as("_graft_dm_total"))
      .collect().map { r =>
        val d = r.getString(0)
        val total = if (r.isNullAt(1)) 0L else r.getLong(1)
        d -> (if (total <= 0L) maxEpochs.toLong
              else math.min(maxEpochs.toLong,
                (budgets(d) + total - 1L) / total))
      }.toMap
    val epochsOf = epochsNeeded.foldLeft(lit(1L)) {
      case (els, (d, e)) => when(col("domain") === d, lit(e)).otherwise(els)
    }
    val replicated = base
      .select(col("id"), col("domain"), col("n_tokens"),
        col("_graft_dm_key"), col("_graft_dm_bkt"),
        explode(sequence(lit(0L), epochsOf - 1L)).as("epoch"))
    val wLocal = Window
      .partitionBy(col("domain"), col("epoch"), col("_graft_dm_bkt"))
      .orderBy(col("_graft_dm_key"), col("id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wBase = Window.partitionBy(col("domain"))
      .orderBy(col("epoch"), col("_graft_dm_bkt"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val bases = replicated
      .groupBy(col("domain"), col("epoch"), col("_graft_dm_bkt"))
      .agg(sum(col("n_tokens")).as("_graft_dm_bt"))
      .withColumn("_graft_dm_base",
        coalesce(sum(col("_graft_dm_bt")).over(wBase), lit(0L)))
      .drop("_graft_dm_bt")
    replicated
      .withColumn("_graft_dm_local",
        coalesce(sum(col("n_tokens")).over(wLocal), lit(0L)))
      .join(broadcast(bases), Seq("domain", "epoch", "_graft_dm_bkt"))
      .withColumn("start_off", col("_graft_dm_base") + col("_graft_dm_local"))
      .filter(col("start_off") < budgetOf)
      .select(col("id").as(idCol), col("domain"), col("epoch"),
        col("n_tokens"), col("start_off"))
  }

  /** EXACT `ntile(n)` per group WITHOUT a per-group window — the
    * distributed form of `ntile(n) OVER (PARTITION BY grp ORDER BY
    * ord, tie)`, safe when one group holds most of the corpus (the
    * dominant-domain adversary: a naive window makes that group ONE
    * sort task). Two-pass range bucketing: per-group min/max splits
    * the order key's value range into 256 buckets, per-(group, bucket)
    * counts prefix-sum into bucket bases (a 256-key window per group —
    * the [[domainMixture]] posture), and the within-bucket
    * `row_number` rides on top for the exact global rank; the
    * SQL-standard tile formula (first `count % n` tiles take the
    * ceiling size) maps rank → tile. Results are EXACTLY the window
    * ntile's — q147 pins it against DuckDB's native `ntile` — and
    * deterministic under any partitioning (ties broken by `tie`).
    *
    * DEGENERATE-VALUE GUARD (round 14): range buckets are uniform over
    * the VALUE span, so a distribution where one group's rows mostly
    * share ONE order value re-concentrates into one bucket — and no
    * function of the order key can split equal values. But ordering
    * INSIDE one order value IS the tie key (that's its definition), so
    * buckets holding a hot value are sub-bucketed by a monotone double
    * image of the tie: each hot bucket's rows section into
    * (below-hot / at-hot / above-hot) intervals per hot value, and the
    * at-hot sections range-split 256 ways over the tie span. Detection
    * is one (group, bucket) count pass (reused as the rank bases when
    * nothing is hot, so the normal case pays ~nothing) plus, only when
    * a hot bucket exists, one per-value stats pass whose bounded
    * result compiles into literal codegen'd case expressions.
    * Semantics are unchanged — the spec pins equality with the window
    * ntile under 99% single-value concentration.
    *
    * `hotBucket` trades a FIXED two-extra-passes cost against the
    * single-task window sort: measured on local[32] (docs/SCALE.md
    * round 14) the serial sort is actually CHEAPER up through ~10⁸
    * rows-per-value (175 s vs 220 s at 10⁸ — one in-memory sort runs
    * at full memory bandwidth), so the default engages only at 2²²
    * rows, where the real-cluster failure mode it exists for —
    * one task sorting an executor-memory-sized value mass while the
    * cluster idles, spilling serially — is the operative risk, not
    * local wall time.
    *
    * LIFECYCLE: unless `hotBucket = Int.MaxValue`, CALLING this method
    * is not lazy — the hot-bucket probe (and, when hot, the bounded
    * stats collect) runs Spark jobs at plan-construction time, and the
    * input-derived frame is cached for the duration (operator-owned;
    * release via [[graft.ops.Caches.release]]). Callers that need a
    * purely lazy plan builder pass `hotBucket = Int.MaxValue`.
    */
  def exactNtile(
      df: DataFrame, groupCol: String, order: Column, tie: Column,
      n: Int, hotBucket: Int = 1 << 22): DataFrame = {
    require(n >= 1, "n >= 1")
    require(hotBucket >= 1, "hotBucket >= 1")
    // null order keys sit OUTSIDE the ranking (a window ntile would
    // sort them first/last by engine whim): routed around the machinery
    // and emitted with ntile = null, so every input row is accounted
    // for. The RAW key orders the within-bucket window; the double cast
    // only BUCKETS (long→double is monotone non-decreasing, so two
    // raws collapsing to one double land in the same bucket and the
    // raw ordering inside stays exact — no 2^53 precision hole).
    val withOrd0 = df.withColumn("_gnt_ordraw", order)
    // fail fast on non-numeric order types: for a string score column,
    // cast("double") nulls out every non-numeric-LOOKING value, which
    // would silently route REAL keys into the null-ntile branch (a
    // window ntile would rank them). Numeric/timestamp casts are total
    // — null out only from null in — so the null branch stays exactly
    // "genuinely null order key".
    withOrd0.schema("_gnt_ordraw").dataType match {
      case _: org.apache.spark.sql.types.NumericType => ()
      case org.apache.spark.sql.types.TimestampType | org.apache.spark.sql.types.NullType => ()
      case other => throw new IllegalArgumentException(
        s"exactNtile order column must be numeric or timestamp " +
          s"(cast-to-double must be null-preserving), got ${other.catalogString}")
    }
    // cached: the machinery fans out into SEVERAL independent plan
    // branches over this frame (null split, group span, bucket counts /
    // hot probe, rank bases, the ranked join) — uncached, EACH branch
    // re-derives the caller's upstream (a transcendental LM-scoring
    // chain in the CCNet gate: measured 1.38× on q148 when round 14
    // added the probe branch; cached, the upstream runs once and q148
    // came back BELOW its r13 wall). The simhashNearDups cache
    // convention: caller releases via Caches.release().
    val withOrdWide = graft.ops.Caches.owned(withOrd0
      .withColumn("_gnt_ord", col("_gnt_ordraw").cast("double")))
    // The ranked-machinery subtrees as a builder over the cached frame:
    // the hot probe below runs them once over the cache's inherited
    // layout, then the main plan rebuilds them over the (possibly
    // coalesced) final frame.
    def rankedParts(w: DataFrame): (DataFrame, DataFrame, DataFrame) = {
      val base = w.filter(col("_gnt_ord").isNotNull)
        .withColumn("_gnt_grp", cr(groupCol).cast("string"))
        .withColumn("_gnt_tie", tie)
      val span = base.groupBy(col("_gnt_grp"))
        .agg(min(col("_gnt_ord")).as("_gnt_lo"), max(col("_gnt_ord")).as("_gnt_hi"),
          count(lit(1)).as("_gnt_cnt"))
      // clamp in DOUBLE space before the int cast: a NaN/±Inf order key
      // (scores can degenerate) would otherwise throw under ANSI at the
      // cast. Spark's NaN-is-greatest ordering makes least() resolve NaN
      // to 255 — the same "sorts last" slot the window ntile gives it —
      // and greatest() floors -Inf to bucket 0; ordering INSIDE the
      // bucket is by the raw key either way.
      val bucketed = base.join(span, Seq("_gnt_grp"))
        .withColumn("_gnt_bkt",
          when(col("_gnt_hi") === col("_gnt_lo"), lit(0))
            .otherwise(least(lit(255.0), greatest(lit(0.0), floor(
              (col("_gnt_ord") - col("_gnt_lo")) /
                (col("_gnt_hi") - col("_gnt_lo")) * 256))).cast("int")))
      val bktCounts = bucketed.groupBy(col("_gnt_grp"), col("_gnt_bkt"))
        .agg(count(lit(1)).as("_gnt_bc"))
      (base, bucketed, bktCounts)
    }
    // Hot probe + scale-adaptive cache layout in ONE action (round 21,
    // guide §2.2 — partitioning derived from measured size): the probe
    // aggregation that decided the hot path now also returns the ranked
    // row count, which sizes a COALESCE of the cached frame at ~1000
    // rows/partition (capped at defaultParallelism). The cache inherits
    // the caller's exchange layout (65 partitions in q164's executed
    // plan), so every downstream branch's map stage scheduled one
    // near-empty task wave per cached partition — measured 29 jobs ×
    // 65-98 tasks over a 6.5k-row frame. Coalesce (not repartition) is
    // a narrow in-memory merge: no shuffle, no second cache; and AT the
    // cap (any real corpus) the frame keeps its layout, so the 100 TB
    // path pays nothing. Results are layout-independent — the tie
    // column keeps the within-bucket window order total. The
    // hotBucket = Int.MaxValue static opt-out keeps its zero-probe
    // contract (and therefore the inherited layout).
    val (noHot, withOrd) =
      if (hotBucket == Int.MaxValue) (true, withOrdWide)
      else {
        val (_, _, bcWide) = rankedParts(withOrdWide)
        val pr = bcWide.agg(
          coalesce(sum(col("_gnt_bc")), lit(0L)).as("_n"),
          coalesce(max(col("_gnt_bc")), lit(0L)).as("_mx")).head()
        val defaultPar = df.sparkSession.sparkContext.defaultParallelism
        val parts = math.max(1L,
          math.min(defaultPar.toLong, (pr.getLong(0) + 999L) / 1000L)).toInt
        val narrow =
          if (parts >= defaultPar) withOrdWide else withOrdWide.coalesce(parts)
        (pr.getLong(1) <= hotBucket, narrow)
      }
    val nullOrd = withOrd.filter(col("_gnt_ord").isNull)
      .drop("_gnt_ordraw", "_gnt_ord")
      .withColumn("ntile", lit(null).cast("long"))
    val (base, bucketed, bktCounts) = rankedParts(withOrd)
    // ---- hot-value tie sub-bucketing (the degenerate-value guard) ----
    // a monotone double image of the tie key, by STATIC type: numeric/
    // timestamp casts are order-preserving; strings map through their
    // first 13 hex chars (52 bits — UTF-8 byte order IS Spark's string
    // order, and prefix collisions just share a sub-bucket); anything
    // else collapses to one sub-bucket (correct, merely unsplit).
    val tieDouble: Column = base.schema("_gnt_tie").dataType match {
      case _: org.apache.spark.sql.types.NumericType =>
        col("_gnt_tie").cast("double")
      case org.apache.spark.sql.types.TimestampType =>
        col("_gnt_tie").cast("double")
      case org.apache.spark.sql.types.DateType =>
        col("_gnt_tie").cast("timestamp").cast("double")
      case org.apache.spark.sql.types.StringType =>
        conv(rpad(substring(hex(col("_gnt_tie")), 1, 13), 13, "0"), 16, 10)
          .cast("double")
      case _ => lit(null).cast("double")
    }
    val hotB = bktCounts.filter(col("_gnt_bc") > hotBucket)
      .select(col("_gnt_grp"), col("_gnt_bkt"))
    // `noHot` was decided by the one bounded probe above (the NORMAL
    // value-spread case pays one small (group × 256) aggregation and
    // NONE of the guard machinery — the guard's extra full-data
    // aggregations only run when a hot bucket actually exists;
    // measured: unconditional guard wiring cost the normal shape two
    // full shuffles for nothing). The bktCounts plan is still reused
    // as the rank bases below — lazily, no extra pass.
    val enriched = if (noHot) {
      bucketed.withColumn("_gnt_sec", lit(0)).withColumn("_gnt_sub", lit(0))
    } else {
      // rows inside hot buckets only; ONE aggregation yields both the
      // hot VALUES (count above the floor) and their tie spans. The
      // result is BOUNDED by construction (≤ total rows / hotBucket
      // values can exceed the floor), so it collects to the driver —
      // the requireSigCompat bounded-probe posture — and sections/
      // sub-buckets compile into LITERAL case expressions: pure
      // codegen'd per-row work, no broadcast joins, no interpreted
      // higher-order lambdas (the join+lambda formulation measured
      // SLOWER than the one-task sort it replaces at 20M rows).
      val hotRows = bucketed.join(broadcast(hotB),
        Seq("_gnt_grp", "_gnt_bkt"), "left_semi")
      val hotStats = hotRows.withColumn("_gnt_td", tieDouble)
        .groupBy(col("_gnt_grp"), col("_gnt_bkt"), col("_gnt_ordraw"))
        .agg(count(lit(1)).as("_gnt_vc"),
          min(col("_gnt_td")).as("_gnt_tlo"),
          max(col("_gnt_td")).as("_gnt_thi"))
        .filter(col("_gnt_vc") > hotBucket)
        .orderBy(col("_gnt_grp"), col("_gnt_bkt"), col("_gnt_ordraw"))
        .collect() // bounded: ≤ n/hotBucket rows, Spark-sorted (NaN last)
      // section = 2·(hot values below) + (at a hot value ? 1 : 0): hot
      // values become their own odd sections, the non-hot rows between
      // them the even ones — monotone in the order key by construction.
      // Spark's NaN-is-greatest comparison semantics keep a hot NaN
      // value's section last, matching its window sort slot.
      val byBucket = hotStats.groupBy(r => (r.getString(0), r.getInt(1)))
      val inBkt: ((String, Int)) => Column = { case (g, b) =>
        col("_gnt_grp") === g && col("_gnt_bkt") === b }
      val sec = byBucket.foldLeft(lit(0)) { case (els, (gb, rows)) =>
        // per hot bucket: when(ord < v1, 0).when(ord === v1, 1)
        //   .when(ord < v2, 2)... .otherwise(2k) — rows are sorted
        val chain = rows.zipWithIndex.foldRight(lit(2 * rows.length): Column) {
          case ((r, i), rest) =>
            val v = lit(r.get(2))
            when(col("_gnt_ordraw") < v, 2 * i)
              .when(col("_gnt_ordraw") === v, 2 * i + 1)
              .otherwise(rest)
        }
        when(inBkt(gb), chain).otherwise(els)
      }
      val sub = hotStats.foldLeft(lit(0)) { (els, r) =>
        // row layout: (grp, bkt, ordraw, vc, tlo, thi)
        val (tlo, thi) = (r.get(4), r.get(5))
        val span =
          if (tlo == null || thi == null || tlo == thi) lit(0)
          else least(lit(255.0), greatest(lit(0.0), floor(
            (tieDouble - lit(tlo)) /
              (lit(thi).cast("double") - lit(tlo)) * 256))).cast("int")
        when(col("_gnt_grp") === r.getString(0) &&
          col("_gnt_bkt") === r.getInt(1) &&
          col("_gnt_ordraw") === lit(r.get(2)), span).otherwise(els)
      }
      bucketed.withColumn("_gnt_sec", sec).withColumn("_gnt_sub", sub)
    }
    val wBase = Window.partitionBy(col("_gnt_grp"))
      .orderBy(col("_gnt_bkt"), col("_gnt_sec"), col("_gnt_sub"))
      .rowsBetween(Window.unboundedPreceding, -1)
    // normal path: sec/sub are constant 0, so the (grp, bkt) counts the
    // hot probe already aggregated ARE the bases — reusing them keeps
    // the guard's normal-case overhead at exactly one small aggregation
    val baseCounts =
      if (noHot) bktCounts
        .withColumn("_gnt_sec", lit(0)).withColumn("_gnt_sub", lit(0))
      else enriched
        .groupBy(col("_gnt_grp"), col("_gnt_bkt"), col("_gnt_sec"),
          col("_gnt_sub"))
        .agg(count(lit(1)).as("_gnt_bc"))
    val bases = baseCounts
      .withColumn("_gnt_base",
        coalesce(sum(col("_gnt_bc")).over(wBase), lit(0L)))
      .drop("_gnt_bc")
    val wLocal = Window
      .partitionBy(col("_gnt_grp"), col("_gnt_bkt"), col("_gnt_sec"),
        col("_gnt_sub"))
      .orderBy(col("_gnt_ordraw"), col("_gnt_tie"))
    // no explicit broadcast hint: bases is (groups x <= 256 x few
    // sections) rows — tiny for the language/domain use this serves,
    // where AQE broadcasts it anyway; with millions of groups it grows
    // past broadcastability and the keyed join is the correct fallback
    val ranked = enriched
      .join(bases, Seq("_gnt_grp", "_gnt_bkt", "_gnt_sec", "_gnt_sub"))
      .withColumn("_gnt_rank",
        col("_gnt_base") + row_number().over(wLocal))
    // SQL-standard ntile: with c rows and q = c div n, rem = c mod n,
    // the first rem tiles hold q+1 rows; q == 0 means tile = rank.
    // Integer division via floor over doubles — counts sit far below
    // 2^53 per group before any other machinery would have melted.
    val c = col("_gnt_cnt"); val q = floor(c / n).cast("long")
    val rem = c % n
    val big = q + 1L; val r0 = col("_gnt_rank") - 1L
    val tileCol = when(lit(n) === 1, lit(1L))
      .when(q === 0L, col("_gnt_rank"))
      .when(r0 < rem * big, floor(r0 / big).cast("long") + 1L)
      .otherwise(rem + floor((r0 - rem * big) / q).cast("long") + 1L)
    ranked.withColumn("ntile", tileCol.cast("long"))
      .drop("_gnt_grp", "_gnt_ordraw", "_gnt_ord", "_gnt_tie", "_gnt_lo",
        "_gnt_hi", "_gnt_cnt", "_gnt_bkt", "_gnt_base", "_gnt_rank",
        "_gnt_hot", "_gnt_tlo", "_gnt_thi", "_gnt_sec", "_gnt_sub")
      .unionByName(nullOrd)
  }

  /** CCNet-style perplexity bucketing (Wenzek et al., LREC 2020 §3.3:
    * score every page with a reference-domain LM, split each language
    * into head/middle/tail perplexity TERCILES, keep head+middle for
    * training): [[exactNtile]] per language over a perplexity-like
    * score column where LOWER = better (the engine's
    * `avg_neg_logscore` convention), ascending — tile 1 is `head`.
    * Emits the input plus `bucket` ∈ {head, middle, tail}; rows with a
    * null score (no n-grams) bucket as `tail` — a scoreless page is
    * not reference-like, and silently dropping it would break the
    * every-input-accounted contract. Composes from gate-proven parts
    * (langId → [[ngramBackoffScore]] → exactNtile); the composition
    * gate is rows-only because the score is transcendental (the
    * q130/q131 posture) — bucket SEMANTICS are oracle-pinned through
    * q147's integer-ordered ntile.
    */
  def perplexityBuckets(
      scored: DataFrame, langCol: String, scoreCol: String,
      tie: Column): DataFrame =
    exactNtile(scored, langCol, cr(scoreCol), tie, n = 3)
      .withColumn("bucket",
        when(col("ntile") === 1L, lit("head"))
          .when(col("ntile") === 2L, lit("middle"))
          .otherwise(lit("tail")))
      .drop("ntile")

  /** The fully MODEL-DRIVEN CCNet bucketing (Wenzek et al., LREC 2020
    * §3.2-3.3 end to end): language comes from a TRAINED
    * [[LangIdModel]] ([[langIdWith]] — the fastText-style multinomial
    * LR the paper actually deploys, any language count) instead of the
    * 5-language stopword heuristic
    * [[graft.functions.TextFunctions.langId]], and perplexity from an
    * already-trained reference [[LmNModel]] ([[scoreWithLmNModel]] —
    * no reference rescan per call). Emits the scored frame plus
    * `lang` and `bucket` ∈ {head, middle, tail}; terciles are per
    * MODEL-assigned language ([[perplexityBuckets]] semantics —
    * null-scored pages bucket as `tail`). Both models load from
    * snapshots ([[loadLangIdModel]] / [[loadLmNModel]]) for the
    * production posture; the heuristic `langId` remains the
    * zero-dependency fallback for corpora without a labeled
    * inventory.
    *
    * Scale shape: one langIdWith pass (feature projection + broadcast
    * weight join + per-doc argmax), one scoreWithLmNModel pass (keyed
    * model joins), one equi-join on `id` to marry them, then
    * [[exactNtile]]'s distributed tercile machinery — no crossJoin,
    * no reference-corpus rescan, nothing collected beyond langIdWith's
    * bias constants.
    */
  def ccnetBucketsWith(
      docs: DataFrame,
      lm: LmNModel,
      langModel: LangIdModel,
      textCol: String,
      idCol: String,
      alpha: Double = 0.4): DataFrame = {
    val scored = scoreWithLmNModel(docs, lm, textCol, idCol, alpha)
    val langs = langIdWith(docs, langModel, textCol, idCol)
      .select(col("id"), col("lang"))
    perplexityBuckets(
      scored.join(langs, Seq("id")), "lang", "avg_neg_logscore", col("id"))
  }

  /** Deterministic TRAINING ORDER over the [[domainMixture]] output —
    * the mixture's last mile: chunk each domain's admission stream
    * into `budget`-token bins (bin/off directly from `start_off`, the
    * [[packSequences]] formula — the mixture already computed the
    * prefix sum, no second window), then give every bin a seeded
    * GLOBAL position and shard: `ord_key = md5(salt:domain:bin)` — the
    * global sequence shuffle every pretraining run applies so
    * consecutive training sequences interleave domains instead of
    * replaying one domain block, reproducible and re-seedable via
    * `salt`; `shard` = first hex nibble of the same key mod `nShards`.
    * A training job reads shard files ordered by `(ord_key, off)`.
    *
    * Scale shape: one narrow projection over the mixture frame — the
    * key is a per-row md5, the bin a division; no joins, no windows.
    * The materializing sort by `ord_key` (the caller's write) is a
    * range-partitioned global sort, the one shuffle this stage pays.
    */
  def trainingOrder(
      mix: DataFrame, idCol: String, budget: Long, nShards: Int,
      salt: String = "order"): DataFrame = {
    require(budget > 0, "budget must be positive")
    require(nShards >= 1 && nShards <= 16,
      "nShards in [1,16] — shard is one hex nibble of the order key")
    val bin = floor(col("start_off") / budget).cast("long")
    val key = md5(concat_ws(":",
      lit(salt), col("domain"), bin.cast("string")))
    // pass-through: only `domain` and `start_off` are consumed (the
    // latter folds into bin/off: start_off == bin * budget + off);
    // every other input column — mixture epochs, carried text — rides
    // along, so the streaming composition keeps its payload
    mix
      .withColumn("bin", bin)
      .withColumn("off", col("start_off") % budget)
      .withColumn("ord_key", key)
      .withColumn("shard",
        conv(substring(key, 1, 1), 16, 10).cast("long") % nShards)
      .drop("start_off")
  }

  /** Keep-decision column for a deterministic Bernoulli(frac) sample:
    * true iff the first 8 hex chars of md5(id) sort below the quantized
    * threshold (fractions quantize to 1/2³²). Same engine-portable
    * hash-threshold argument as [[Split.assignment]]; a codegen'd
    * projection, no shuffle, no seed state.
    */
  def sampleKeep(id: Column, frac: Double): Column = {
    require(frac > 0 && frac < 1, "frac in (0,1)")
    val buckets = math.min(math.max(math.round(frac * 4294967296.0), 1L), 4294967295L)
    val threshold = f"$buckets%08x"
    substring(md5(id.cast("string")), 1, 8) < threshold
  }

  /** Deterministic fraction-`frac` sample of `df` by id hash. */
  def hashSample(df: DataFrame, idCol: String, frac: Double): DataFrame =
    df.filter(sampleKeep(cr(idCol), frac))

  /** Per-row weighted Bernoulli sample: keep a row iff its 8-hex-char
    * md5 prefix sorts below the row's weight quantized to 2³² buckets —
    * the data-mixture primitive: upweight high-quality sources,
    * downsample boilerplate, temperature-flatten domains, each as a
    * plain weight expression. Reduces to [[hashSample]] when the weight
    * is constant; stays a single codegen'd scan, no shuffle, no seed.
    *
    * The comparison stays in hex-string space (weight → `%08x` via
    * format_string) rather than parsing the hash to a number: every
    * engine formats a long to hex identically, while hex→int parsing
    * has no portable SQL spelling — this keeps the operator
    * oracle-checkable. Weights clamp to [0, (2³²−1)/2³²]; a weight of
    * exactly 1 thus drops the one-in-4-billion rows whose prefix is
    * "ffffffff" (the same quantization [[sampleKeep]] already accepts).
    */
  def weightedSample(df: DataFrame, idCol: String, weight: Column): DataFrame = {
    val buckets = least(greatest(floor(weight * 4294967296.0), lit(0.0)),
      lit(4294967295.0)).cast("long")
    df.filter(substring(md5(cr(idCol).cast("string")), 1, 8) <
      format_string("%08x", buckets))
  }

  /** Materialize packed training sequences: after [[packSequences]]
    * assigns (shard, bin), concatenate each bin's documents in pack
    * order into one training-sequence string. Shuffles on (shard, bin)
    * — each group holds ≈ budget tokens by construction, so group
    * state is bounded by the budget, never by document count; the
    * in-group ordering rides an array_sort over (order, text) structs
    * (deterministic, no collect_list-ordering reliance).
    */
  def packMaterialize(
      df: DataFrame,
      idCol: String,
      shard: Column,
      order: Column,
      tokens: Column,
      textCol: String,
      budget: Long,
      sep: String = " "): DataFrame = {
    val assigned = packSequences(df, idCol, shard, order, tokens, budget)
      .select(col(idCol), col("shard"), col("bin"))
    df.select(cr(idCol).as(idCol), order.as("_ord"), cr(textCol).as("_text"))
      .join(assigned, Seq(idCol))
      .groupBy(col("shard"), col("bin"))
      .agg(
        count(lit(1)).as("n_docs"),
        array_join(
          transform(
            array_sort(collect_list(struct(col("_ord"), col("_text")))),
            x => x.getField("_text")),
          sep).as("seq_text"))
  }

  /** Temperature resampling for data mixing: flatten the group
    * distribution toward `share^alpha` (alpha = 1 keeps the natural
    * mix, alpha → 0 approaches uniform) by DOWNSAMPLING only — the
    * per-group keep rate is `(n_min/n_g)^(1-alpha)`, which the
    * normalization constant provably cancels down to (scaled so the
    * rarest group keeps everything; no row replication). The keep
    * decision is the [[weightedSample]] md5-threshold chain, so the
    * whole operator is: one per-group count aggregation, a 1-row min
    * frame, a broadcast join, a codegen'd filter — no data shuffle.
    *
    * alpha = 0.5 (the common "square-root temperature" mix) uses
    * `sqrt`, which IEEE 754 requires correctly rounded — the keep rate
    * is then bit-identical in every engine (oracle-checkable, q102).
    * Other alphas go through `pow`, whose last ulp is libm-specific:
    * fine in production, excluded from hash gates.
    */
  def temperatureResample(
      df: DataFrame,
      idCol: String,
      groupCol: String,
      alpha: Double = 0.5): DataFrame = {
    require(alpha > 0 && alpha <= 1, "alpha in (0, 1]")
    if (alpha == 1.0) return df // natural mix: exact no-op, not weight-1
    // collision-proof internal names (same convention as quotaPerGroup /
    // incrementalDedup): a caller column named `_g`/`_keep` must not be
    // silently joined on or dropped
    val (gC, nC, minC, keepC) =
      ("_graft_tr_g", "_graft_tr_n", "_graft_tr_nmin", "_graft_tr_keep")
    Seq(gC, keepC).foreach(c =>
      require(!df.columns.contains(c), s"column $c already exists"))
    val counts = df.groupBy(cr(groupCol).as(gC))
      .agg(count(lit(1)).as(nC))
    val minN = counts.agg(min(col(nC)).as(minC))
    val ratio = col(minC).cast("double") / col(nC).cast("double")
    val keep = if (alpha == 0.5) sqrt(ratio) else pow(ratio, 1.0 - alpha)
    val stats = counts.crossJoin(minN).select(col(gC), keep.as(keepC))
    // null-safe join: a null group aggregates into its own stats row,
    // and must resample like any other group (a plain === would
    // silently drop every null-group row — diverging from the
    // alpha = 1 early return, which keeps them)
    weightedSample(
      df.join(broadcast(stats), cr(groupCol) <=> col(gC)),
      idCol, col(keepC))
      .drop(gC, keepC)
  }

  /** Per-group boilerplate-line removal (the CCNet/RefinedWeb recipe):
    * a LINE is boilerplate within a group (domain/source) when it
    * appears in at least `minDocFrac` of the group's documents — the
    * shared headers, footers and cookie banners that survive HTML
    * extraction. Those lines are stripped from every document in the
    * group; document line order is preserved; groups with fewer than
    * `minDocs` documents are left untouched (no reliable frequency
    * signal). Null-group documents pass through unstripped (equality
    * joins, both engines agree); a fully-boilerplate document keeps its
    * row with empty text — dropping rows is [[quotaPerGroup]]'s job,
    * not this operator's.
    *
    * Scale shape: one explode of the text into (group, line, pos) rows,
    * a distinct + count aggregation for per-group line document
    * frequencies, an anti-join of the lines against the boilerplate
    * set on (group, line), and an id-keyed reassembly via
    * array_sort-over-structs (the [[packMaterialize]] pattern — no
    * collect_list-ordering reliance). Line rows shuffle twice (df
    * count + reassembly); nothing materializes per-group state larger
    * than one document.
    *
    * Determinism: line splitting, frequency thresholds (`df ≥
    * frac·nDocs` as one IEEE multiply+compare of integer-derived
    * values) and ordered reassembly are all expressible identically in
    * ANSI SQL — oracle gate q112.
    *
    * Contract: `idCol` must be UNIQUE — it is the reassembly key, so a
    * duplicated id would cross-multiply rows and merge documents. A
    * null id round-trips (the reassembly join is null-safe).
    */
  def stripBoilerplate(
      df: DataFrame,
      textCol: String,
      idCol: String,
      groupCol: String,
      minDocFrac: Double = 0.5,
      minDocs: Int = 3,
      sep: String = "\n"): DataFrame = {
    require(minDocFrac > 0 && minDocFrac <= 1, "minDocFrac in (0,1]")
    require(minDocs >= 1, "minDocs must be positive")
    val (idT, gT, lineT, posT, textT) =
      ("_graft_bp_id", "_graft_bp_g", "_graft_bp_line", "_graft_bp_pos", "_graft_bp_text")
    require(!df.columns.exists(_.startsWith("_graft_bp_")),
      "input already has _graft_bp_* columns — rename them first")
    val lines = df.select(
      cr(idCol).as(idT), cr(groupCol).as(gT),
      posexplode(split(cr(textCol),
        java.util.regex.Pattern.quote(sep))).as(Seq(posT, lineT)))
    val nDocs = df.groupBy(cr(groupCol).as(gT))
      .agg(count(lit(1)).as("_graft_bp_n"))
    val lineDf = lines.select(col(gT), col(lineT), col(idT)).distinct()
      .groupBy(col(gT), col(lineT)).agg(count(lit(1)).as("_graft_bp_df"))
    val boiler = lineDf.join(nDocs, Seq(gT))
      .filter(col("_graft_bp_n") >= minDocs &&
        col("_graft_bp_df").cast("double") >= lit(minDocFrac) * col("_graft_bp_n"))
      .select(col(gT), col(lineT))
    val cleaned = lines.join(boiler, Seq(gT, lineT), "left_anti")
      .groupBy(col(idT))
      .agg(array_join(
        transform(
          array_sort(collect_list(struct(col(posT), col(lineT)))),
          x => x.getField(lineT)),
        sep).as(textT))
    // null-safe reassembly: a NULL-id row must rejoin its own exploded
    // lines, not silently lose its text to a non-matching equi-join.
    // Ids are REQUIRED unique (scaladoc) — id-keyed reassembly is only
    // well-defined then; duplicate ids would cross-multiply rows here.
    df.join(cleaned, cr(idCol) <=> col(idT), "left")
      .withColumn(textCol,
        when(cr(textCol).isNull, lit(null.asInstanceOf[String]))
          .otherwise(coalesce(col(textT), lit(""))))
      .drop(idT, textT)
  }

  /** Per-stratum deterministic sampling: each stratum keeps its own
    * hash-threshold fraction; strata absent from `fractions` are
    * dropped. The declarative CASE chain keeps the whole operator a
    * single codegen'd scan — contrast `DataFrame.stat.sampleBy`, whose
    * seeded Bernoulli stream is engine-private and so never
    * oracle-checkable ([[Split.stratified]] wraps it; this is the
    * reproducible path).
    */
  def stratifiedHashSample(
      df: DataFrame,
      stratumCol: String,
      idCol: String,
      fractions: Map[String, Double]): DataFrame = {
    require(fractions.nonEmpty, "fractions must be non-empty")
    val keep = fractions.foldLeft(lit(false)) { case (els, (stratum, frac)) =>
      when(cr(stratumCol) === stratum, sampleKeep(cr(idCol), frac)).otherwise(els)
    }
    df.filter(keep)
  }

  /** Rows of `batch` whose `textCol` content (by md5) does not already
    * appear in `corpus` — the incremental-ingest dedup stage: each new
    * crawl increment lands against the accumulated corpus without
    * re-deduplicating history.
    *
    * Scale shape: an anti-join shuffling ONLY 32-char digests (not
    * document bodies) on both sides; Spark's runtime row-group filtering
    * (a bloom built from the smaller side under AQE) prunes most batch
    * rows before the shuffle — the explicit-bloom pre-filter pattern,
    * without hand-maintaining a sketch.
    */
  def incrementalDedup(
      batch: DataFrame,
      corpus: DataFrame,
      textCol: String,
      idCol: String): DataFrame = {
    val h = "_graft_content_h"
    require(!batch.columns.contains(h), s"column $h already exists")
    val seen = corpus.select(md5(cr(textCol)).as(h)).distinct()
    batch.withColumn(h, md5(cr(textCol)))
      .join(seen, Seq(h), "left_anti")
      .drop(h)
  }

  /** Top-`k` terms per group ranked by relevance = tf / (docFreq + 1):
    * term frequency within the group, damped by corpus-wide document
    * frequency — the tf-idf family with a LINEAR idf. Chosen over
    * log-idf deliberately: the score is then one IEEE division of two
    * integers (bit-identical in every engine, so oracle-hashable),
    * whereas `ln`'s last ulp is libm-specific; the ordering it induces
    * matches log-idf's whenever df separates terms, which is the regime
    * the ranking exists for. Ties break on term asc.
    *
    * Scale shape: explode → two partial-aggregated counts (group-term
    * tf, term df) + one broadcast of the per-term df — no corpus-sized
    * shuffle beyond the tf aggregation itself.
    */
  def topTermsByRelevance(
      df: DataFrame,
      textCol: String,
      idCol: String,
      groupCol: String,
      k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    val toks = df.select(
      cr(groupCol).as("grp"),
      cr(idCol).as("id"),
      explode(TextFunctions.tokens(cr(textCol))).as("term"))
    val tf = toks.groupBy(col("grp"), col("term")).agg(count(lit(1)).as("tf"))
    val docFreq = toks.select(col("id"), col("term")).distinct()
      .groupBy(col("term")).agg(count(lit(1)).as("doc_freq"))
    val w = Window.partitionBy(col("grp"))
      .orderBy(col("relevance").desc, col("term").asc)
    tf.join(docFreq, Seq("term"))
      .withColumn("relevance", col("tf").cast("double") / (col("doc_freq") + 1))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("grp"), col("rank"), col("term"), col("tf"),
        col("doc_freq"), col("relevance"))
  }

  /** Sequence packing for training batches: documents concatenate in
    * `orderCol` order within a shard and cut at `budget`-token
    * boundaries; each document reports the bin its first token lands in
    * and its offset inside that bin (next-fit with straddling — the
    * "concatenate then chunk" scheme LM pretraining uses, which wastes
    * zero tokens). Pure integer window arithmetic: one shuffle on the
    * shard key, a running sum within each shard, no data movement
    * beyond it — the shard count, not the corpus size, bounds
    * parallelism, so the caller picks shards ≈ cluster cores.
    *
    * Output: (idCol, shard, n_tokens, bin, off) where
    * bin = floor(prefix_sum / budget), off = prefix_sum % budget.
    */
  def packSequences(
      df: DataFrame,
      idCol: String,
      shard: Column,
      order: Column,
      tokens: Column,
      budget: Long): DataFrame =
    packSequencesFrom(df, idCol, shard, order, tokens, budget, None)

  /** NO-SPLIT sequence packing — the PADDING variant of
    * [[packSequences]] (the other published scheme: when sequences
    * must hold whole documents — contrastive batches, document-level
    * objectives, RAG chunk stores — a doc that doesn't fit the open
    * bin's remainder closes that bin, the remainder is padding, and
    * the doc opens the next bin at offset 0; next-fit). A doc LARGER
    * than the budget occupies a bin alone at offset 0 (the caller's
    * truncation policy applies — dropping it silently would break the
    * every-input-accounted contract). Output shape = packSequences':
    * `(idCol, shard, n_tokens, bin, off)`.
    *
    * Unlike the straddling scheme — a pure prefix sum — this
    * recurrence is inherently SEQUENTIAL per shard (each placement
    * depends on the running remainder AND each earlier close
    * decision), which no window/prefix formulation expresses. So it
    * runs as the explicit per-partition walk the engine otherwise
    * avoids: hash-repartition on the shard key (a shard never spans
    * partitions), sort within partitions by (shard, order), carry
    * (bin, used) per shard. Parallelism = shards, exactly
    * packSequences' contract (callers pick shards ≈ cluster cores),
    * and the walk is a zero-allocation iterator — scan-bound.
    * Correctness: the q154 oracle replays the recurrence as a DuckDB
    * RECURSIVE CTE; the spec adds closed-form planted cases.
    */
  def packSequencesNoSplit(
      df: DataFrame,
      idCol: String,
      shard: Column,
      order: Column,
      tokens: Column,
      budget: Long): DataFrame = {
    require(budget > 0, "budget must be positive")
    val proj = df.select(cr(idCol).as(idCol), shard.as("shard"),
      order.as("_ord"), tokens.cast("long").as("n_tokens"))
    val outSchema = org.apache.spark.sql.types.StructType(Seq(
      proj.schema(0), proj.schema(1),
      org.apache.spark.sql.types.StructField("n_tokens",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("bin",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("off",
        org.apache.spark.sql.types.LongType)))
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    proj.repartition(col("shard"))
      .sortWithinPartitions(col("shard"), col("_ord"))
      .mapPartitions { it =>
        var curShard: Any = null
        var started = false
        var bin = 0L
        var used = 0L
        it.map { r =>
          val sh = r.get(1)
          val n = if (r.isNullAt(3)) 0L else r.getLong(3)
          if (!started || sh != curShard) {
            curShard = sh; started = true; bin = 0L; used = 0L
          }
          if (used + n > budget && used > 0L) { bin += 1L; used = 0L }
          val off = used
          used += n
          org.apache.spark.sql.Row(r.get(0), sh, n, bin, off)
        }
      }(enc)
  }

  /** The [[packSequences]] core with an optional per-shard STARTING
    * token count (`base`: a `(shard, _gp_base)` frame) added to every
    * prefix sum — the single bin/off formula shared by the batch
    * operator (base = None) and the streaming twin
    * ([[graft.streaming.Streams.pack]] stage, base = the ledger's
    * running totals), so the two cannot drift.
    */
  private[graft] def packSequencesFrom(
      df: DataFrame,
      idCol: String,
      shard: Column,
      order: Column,
      tokens: Column,
      budget: Long,
      base: Option[DataFrame]): DataFrame = {
    require(budget > 0, "budget must be positive")
    val w = Window.partitionBy(col("shard")).orderBy(col("_ord"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val local = df.select(cr(idCol).as(idCol), shard.as("shard"),
        order.as("_ord"), tokens.cast("long").as("n_tokens"))
      .withColumn("prev", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
    val withBase = base match {
      case Some(b) => local.join(b, Seq("shard"), "left")
        .withColumn("prev", col("prev") + coalesce(col("_gp_base"), lit(0L)))
      case None => local
    }
    withBase.select(col(idCol), col("shard"), col("n_tokens"),
      floor(col("prev") / budget).as("bin"),
      (col("prev") % budget).as("off"))
  }

  /** Tokenized bigram-eligible docs `(id, _graft_toks)` behind a pinned
    * hash exchange — the shared trunk for [[ngramLmScore]]'s branches.
    * Same pre-explode repartition discipline as [[gramIndex]]: the
    * exchange parallelizes everything downstream off a few source
    * splits, keeps the tokenizer out of transform lambdas
    * (CollapseProject would inline and re-run it per position), and —
    * because every branch descends from this ONE structurally identical
    * exchange — ReuseExchange runs the scan+tokenize once per side no
    * matter how many model branches read it.
    */
  /** The shared `(id, tokens)` projection behind a pinned `id`
    * repartition — THE structural anchor of every exchange-reuse claim
    * in this file (LM model branches, DSIR model-vs-scoring,
    * duplicate-span totals-vs-classification). All consumers MUST go
    * through this one helper: ReuseExchange requires byte-identical
    * subtrees, and a hand-copied preamble that drifts (a different
    * filter, a different width formula) silently doubles corpus scans.
    * `minTokens` is the LM-bigram floor; `dropNullIds` serves operators
    * whose reinstating outer join would otherwise infer an asymmetric
    * isnotnull into only one consumer branch.
    */
  private def tokensPinned(
      df: DataFrame, textCol: String, idCol: String,
      dropNullIds: Boolean = false): DataFrame = {
    var t = df.select(
      cr(idCol).as("id"), TextFunctions.tokens(cr(textCol)).as("_graft_toks"))
    if (dropNullIds) t = t.filter(col("id").isNotNull)
    t.repartition(
      math.max(df.sparkSession.sparkContext.defaultParallelism,
        df.sparkSession.sessionState.conf.numShufflePartitions),
      col("id"))
  }

  /** [[tokensPinned]] for the LM operators. The historical `>= 2`-token
    * row FILTER is gone (round 21): a plan-level `.filter(size(toks) >=
    * 2)` gets pushed below the pinned repartition where alias
    * substitution RE-INLINES the tokenizer regex into the predicate —
    * every branch's scan paid the tokenizer twice, serialized on the
    * single-split source partition (the gramsOf scaladoc trap, observed
    * live in q125's executed plan as a
    * `Filter size(filter(split(lower(text)...)))>=2` directly over the
    * scan). The floor survives as EXPRESSION branches instead:
    * [[bigramsOf]] and [[ngramBackoffModel]]'s unigram explode guard
    * with `when(size >= 2, ...)`, so sub-2-token docs contribute zero
    * gram rows to every order — row-for-row the results the filter
    * produced ([[gramsOf]] already floors at `size >= k`).
    */
  private def tokFrame(df: DataFrame, textCol: String, idCol: String): DataFrame =
    tokensPinned(df, textCol, idCol)

  /** Ordered consecutive-bigram rows `(id, w1, w2)` over a [[tokFrame]]
    * — unlike [[gramIndex]] these keep MULTIPLICITY and position
    * adjacency (an LM needs every occurrence, a Jaccard set needs
    * distinct grams). The `>= 2`-token floor is an EXPRESSION branch
    * (the [[gramsOf]] posture — see the [[tokFrame]] scaladoc for why a
    * row filter is a pushdown trap); it also keeps the sequence() bound
    * >= 1 (Spark's sequence(1, 0) DESCENDS, it is not empty).
    */
  private def bigramsOf(toks: DataFrame): DataFrame =
    toks
      .select(col("id"), explode(
        when(size(col("_graft_toks")) >= 2,
          transform(sequence(lit(1), size(col("_graft_toks")) - 1), i =>
            struct(
              element_at(col("_graft_toks"), i).as("w1"),
              element_at(col("_graft_toks"), i + 1).as("w2"))))
          .otherwise(array().cast("array<struct<w1:string,w2:string>>"))).as("bg"))
      .select(col("id"), col("bg.w1"), col("bg.w2"))

  /** A trained bigram LM as three DataFrames — never collected, joinable
    * at any scale, and reusable across queries or streaming micro-batches
    * (persist the members for repeated scoring; they are model-sized,
    * orders of magnitude under the corpus).
    */
  final case class LmModel(
      bigrams: DataFrame, // (w1, w2, c)
      contexts: DataFrame, // (w1, ctx)
      vocab: DataFrame) // 1 row (v)

  /** Train [[LmModel]] on `reference` — the shared half of
    * [[ngramLmScore]], exposed so batch queries and streaming
    * micro-batch scoring ([[graft.streaming.Streams.perBatch]])
    * use one identical model.
    */
  def ngramLmModel(
      reference: DataFrame, textCol: String, idCol: String): LmModel = {
    val refToks = tokFrame(reference, textCol, idCol)
    val bigramCounts = bigramsOf(refToks).groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c"))
    // context totals re-aggregate the already-reduced model (not the raw
    // bigram stream): a second tiny shuffle instead of a second pass
    val ctxCounts = bigramCounts.groupBy(col("w1"))
      .agg(sum(col("c")).as("ctx"))
    // V = distinct tokens across the training docs, derived from the
    // MODEL rather than a third corpus branch: every token of a >= 2-
    // token doc occurs as some bigram's w1 (all but the last position)
    // or w2 (all but the first), so distinct(w1 ∪ w2) over the reduced
    // counts is exactly the vocabulary — computed over model-sized
    // input, and the shared exchange underneath is reused, not re-run
    val vocab = bigramCounts.select(col("w1").as("tok"))
      .union(bigramCounts.select(col("w2").as("tok")))
      .agg(countDistinct(col("tok")).as("v"))
    LmModel(bigramCounts, ctxCounts, vocab)
  }

  /** CCNet-style n-gram language-model quality scoring (Wenzek et al.,
    * "CCNet: Extracting High Quality Monolingual Datasets from Web Crawl
    * Data", LREC 2020 — there a KenLM 5-gram; here a bigram LM with
    * add-`k` smoothing, trained and scored entirely inside the engine):
    * train token-bigram counts on `reference`, then score each `docs`
    * row by the average negative log-probability of its bigrams.
    * High perplexity against an in-domain reference model is the
    * standard "this text does not look like my corpus" filter signal.
    *
    * Model: `P(w2|w1) = (C(w1,w2) + k) / (ctx(w1) + k*V)` with
    * `ctx(w1) = Σ_w C(w1,w)` (occurrences of `w1` in bigram-context
    * position) and `V` = distinct tokens across the reference docs the
    * model trains on (the bigram-eligible >= 2-token docs — the LM
    * never sees shorter ones). An unseen
    * context scores `k/(k*V) = 1/V`. Output per scored doc (>= 2
    * tokens; shorter docs have no bigrams and no row):
    *  - `n_bigrams`  — bigram occurrences scored
    *  - `n_unseen`   — occurrences whose bigram never appears in the
    *                   reference (`C = 0`)
    *  - `n_rare`     — occurrences with `P < 1/rareCutoff`, evaluated in
    *                   pure integer arithmetic
    *                   (`rareCutoff*(C+k) < ctx + k*V`) so the count is
    *                   bit-exact across engines — these three integer
    *                   columns are the oracle-gated surface (q121),
    *                   because `ln`/`exp` are not IEEE-correctly-rounded
    *                   and a cross-engine hash on them would be fragile
    *  - `avg_neg_logprob`, `perplexity` — the real LM scores
    *    (spec-verified against a closed-form hand model; see CorpusSpec)
    *
    * Scale shape (100 TB): the model is never driver-materialized — it
    * IS a DataFrame. One tokens projection per side feeds every branch
    * through the pinned repartition exchange (ReuseExchange runs the
    * tokenizer once); counts are partial-aggregated shuffles on gram
    * keys; scoring is two hash joins co-partitioned on `(w1,w2)` and
    * `w1`; `V` is a 1-row aggregate broadcast. Zipf keeps the bigram
    * model ~linear in vocabulary, orders of magnitude under corpus
    * size, and AQE converts the model joins to broadcasts whenever the
    * counts fit.
    */
  def ngramLmScore(
      reference: DataFrame,
      docs: DataFrame,
      textCol: String,
      idCol: String,
      k: Long = 1L,
      rareCutoff: Long = 256L): DataFrame =
    scoreWithLmModel(
      docs, ngramLmModel(reference, textCol, idCol), textCol, idCol,
      k, rareCutoff)

  /** Score `docs` against an already-trained [[LmModel]] — see
    * [[ngramLmScore]] for semantics and column contract.
    */
  def scoreWithLmModel(
      docs: DataFrame,
      model: LmModel,
      textCol: String,
      idCol: String,
      k: Long = 1L,
      rareCutoff: Long = 256L): DataFrame = {
    require(k > 0, "add-k smoothing needs k > 0 (k = 0 breaks unseen bigrams)")
    require(rareCutoff > 1, "rareCutoff must exceed 1")
    val bigramCounts = model.bigrams
    val ctxCounts = model.contexts
    val vocab = model.vocab
    val scored = bigramsOf(tokFrame(docs, textCol, idCol))
      .groupBy(col("id"), col("w1"), col("w2"))
      .agg(count(lit(1)).as("m"))
      .join(bigramCounts, Seq("w1", "w2"), "left")
      .join(ctxCounts, Seq("w1"), "left")
      .crossJoin(broadcast(vocab))
      .select(col("id"), col("m"),
        coalesce(col("c"), lit(0L)).as("c"),
        coalesce(col("ctx"), lit(0L)).as("ctx"), col("v"))
    val p = (col("c") + lit(k)).cast("double") /
      (col("ctx") + lit(k) * col("v")).cast("double")
    scored
      .groupBy(col("id"))
      .agg(
        sum(col("m")).as("n_bigrams"),
        sum(when(col("c") === 0L, col("m")).otherwise(0L)).as("n_unseen"),
        sum(when(lit(rareCutoff) * (col("c") + lit(k)) <
          col("ctx") + lit(k) * col("v"), col("m")).otherwise(0L)).as("n_rare"),
        (sum(col("m") * -log(p)) / sum(col("m"))).as("avg_neg_logprob"))
      .withColumn("perplexity", exp(col("avg_neg_logprob")))
  }

  /** Ordered consecutive k-gram rows `(id, g1..gk)` over a [[tokFrame]]
    * — multiplicity- and adjacency-preserving like [[bigramsOf]].
    *
    * The k-token floor is an EXPRESSION branch (explode of an empty
    * array), NOT a plan-level `.filter(size >= k)`: a filter here gets
    * pushed below [[tokFrame]]'s pinned repartition, making this
    * order's exchange subtree differ from the other orders' — and
    * ReuseExchange then re-scans and re-tokenizes the corpus for it
    * (measured: 4 scans instead of 2 in q123's executed plan before
    * this shape). sequence() itself cannot take the empty case:
    * Spark's sequence(1, 0) DESCENDS, it is not empty.
    */
  private def gramsOf(toks: DataFrame, k: Int): DataFrame = {
    require(k >= 2, "use the unigram branch for k = 1")
    val n = size(col("_graft_toks"))
    val structType =
      (1 to k).map(j => s"g$j:string").mkString("array<struct<", ",", ">>")
    val grams = when(n >= k,
      transform(sequence(lit(1), n - (k - 1)), i =>
        struct((1 to k).map { j =>
          val pos = if (j == 1) i else i + (j - 1)
          element_at(col("_graft_toks"), pos).as(s"g$j")
        }: _*)))
      .otherwise(array().cast(structType))
    toks
      .select(col("id"), explode(grams).as("gr"))
      .select(col("id") +: (1 to k).map(j => col(s"gr.g$j")): _*)
  }

  /** A trained order-`n` backoff LM as `n` count DataFrames plus the
    * token total — the [[LmModel]] posture at any order: never
    * collected, joinable at any scale, reusable across queries and
    * micro-batches. `orders(k - 1)` holds the raw k-gram counts
    * `(g1..gk, c)`; `totals` is one row `(n_tokens)` (the unigram
    * normalizer).
    */
  final case class LmNModel(
      n: Int,
      orders: IndexedSeq[DataFrame],
      totals: DataFrame)

  /** Train [[LmNModel]] on `reference`: per-order raw counts off ONE
    * tokens projection. All `n` gram streams (and the totals
    * aggregate) descend from the same pinned [[tokFrame]] exchange, so
    * ReuseExchange runs the scan + tokenizer once and each order is a
    * partial-aggregated shuffle on its own gram key (runtime-verified:
    * 2 corpus scans total in q123/q125's executed plans — `Inspect
    * scans:`). Counts are RAW per order (a doc's last bigram has no
    * covering trigram), matching stupid backoff's definition — not
    * marginals of the next order up.
    */
  def ngramBackoffModel(
      reference: DataFrame, textCol: String, idCol: String,
      n: Int): LmNModel = {
    require(n >= 2 && n <= 8, "backoff order must be in [2, 8]")
    val refToks = tokFrame(reference, textCol, idCol)
    // The unigram explode wraps its input in a CASE carrying the
    // LM-bigram `>= 2`-token floor (formerly tokFrame's row filter —
    // see its scaladoc for the pushdown trap). The CASE also keeps the
    // branch subtree unified: a BARE attribute explode triggers
    // InferFiltersFromGenerate, whose size>0/isnotnull predicates push
    // below the shared exchange and de-unify this branch's subtree from
    // the gram branches' (which explode computed expressions and get no
    // inference) — measured as a third corpus scan before this shape.
    val unigrams = refToks
      .select(col("id"), explode(
        when(size(col("_graft_toks")) >= 2, col("_graft_toks"))
          .otherwise(array().cast("array<string>"))).as("g1"))
      .groupBy(col("g1")).agg(count(lit(1)).as("c"))
    val higher = (2 to n).map(k => gramsOf(refToks, k)
      .groupBy((1 to k).map(j => col(s"g$j")): _*)
      .agg(count(lit(1)).as("c")))
    // N re-aggregates the reduced unigram model (vocabulary-sized), not
    // the raw token stream — the ctxCounts trick from ngramLmModel.
    val totals = unigrams.agg(sum(col("c")).as("n_tokens"))
    LmNModel(n, unigrams +: higher.toIndexedSeq, totals)
  }

  /** Order-`n` LM scoring with STUPID BACKOFF (Brants et al., "Large
    * Language Models in Machine Translation", EMNLP 2007 — the
    * web-scale scheme that replaces smoothed probabilities with
    * unnormalized scores and a constant backoff factor, chosen there
    * precisely because it trains/scores as pure distributed count
    * joins):
    *
    * {{{
    * S(w | ctx_k) = C(ctx_k w) / C(ctx_k)   if the (k+1)-gram was seen
    *              = α · S(w | ctx_{k-1})     otherwise (drop the oldest
    *                                         context word and recurse)
    * S(w)         = C(w) / N                if C(w) > 0
    *              = 1 / N                    otherwise (OOV floor)
    * }}}
    *
    * with α = 0.4 (the paper's value). CCNet's filter proper scores
    * with a 5-gram model — `n = 5` here reproduces that configuration;
    * `n = 3` is the cheap strong default (q123). Higher order with
    * backoff separates fluent-but-off-domain from degenerate text in a
    * way no single-order model can (a doc of real words in scrambled
    * order backs off on every gram).
    *
    * Output per scored doc (>= n tokens; shorter docs have no n-grams
    * and no row):
    *  - `n_ngrams` — n-gram occurrences scored
    *  - `n_hit_k` for k = n..1 and `n_unseen` — how far each
    *    occurrence backed off: its length-k suffix matched at order k
    *    (all longer suffixes missed), or the final word is OOV. Pure
    *    join-existence counts in exact integer arithmetic — the
    *    oracle-gated surface (q123/q125), transcendental-free by the
    *    same rule as q121's columns.
    *  - `avg_neg_logscore`, `ppl_proxy` — the float scores
    *    (spec-verified against a closed-form hand model; stupid
    *    backoff's S is not a normalized probability, so the exp() is a
    *    perplexity PROXY — standard for this scheme).
    *
    * Scale shape (100 TB): the eval side tokenizes once (pinned
    * [[tokFrame]] exchange), reduces to distinct `(id, g1..gn, m)`
    * rows, then left-joins the model relations on their gram keys —
    * `n` suffix-count joins + `n−1` context-count joins, all keyed
    * hash joins AQE broadcasts whenever the Zipf-bounded counts fit —
    * plus one 1-row totals broadcast. No order ever rescans the
    * corpus; backoff is a CASE over already-joined counts, not a
    * second pass.
    */
  def ngramBackoffScore(
      reference: DataFrame,
      docs: DataFrame,
      textCol: String,
      idCol: String,
      n: Int = 3,
      alpha: Double = 0.4): DataFrame =
    scoreWithLmNModel(
      docs, ngramBackoffModel(reference, textCol, idCol, n), textCol, idCol,
      alpha)

  /** Score `docs` against an already-trained [[LmNModel]] — see
    * [[ngramBackoffScore]] for semantics and column contract.
    */
  def scoreWithLmNModel(
      docs: DataFrame,
      model: LmNModel,
      textCol: String,
      idCol: String,
      alpha: Double = 0.4): DataFrame = {
    require(alpha > 0 && alpha <= 1, "backoff factor must be in (0, 1]")
    val n = model.n
    var scored = gramsOf(tokFrame(docs, textCol, idCol), n)
      .groupBy(col("id") +: (1 to n).map(j => col(s"g$j")): _*)
      .agg(count(lit(1)).as("m"))
    // Suffix-order-k count: the doc n-gram's last k words against the
    // k-gram model table → c_k. The same model table serves as the
    // order-(k+1) context below, so its aggregate exchange is reused.
    for (k <- n to 1 by -1) {
      val mk = model.orders(k - 1).select(
        (1 to k).map(j => col(s"g$j").as(s"k${k}_$j")) :+
          col("c").as(s"c_$k"): _*)
      val cond = (1 to k).map(j => col(s"g${n - k + j}") === col(s"k${k}_$j"))
        .reduce(_ && _)
      scored = scored.join(mk, cond, "left")
    }
    // Context-count for order k >= 2: the (k-1)-gram preceding the last
    // word within the suffix window → ctx_k (k = 1's context is N).
    for (k <- n to 2 by -1) {
      val mk = model.orders(k - 2).select(
        (1 to k - 1).map(j => col(s"g$j").as(s"x${k}_$j")) :+
          col("c").as(s"ctx_$k"): _*)
      val cond = (1 to k - 1).map(j =>
        col(s"g${n - k + j}") === col(s"x${k}_$j")).reduce(_ && _)
      scored = scored.join(mk, cond, "left")
    }
    scored = scored.crossJoin(broadcast(model.totals))
    // Backoff tiers as disjoint predicates over joined counts. A seen
    // k-suffix implies its (k-1)-prefix context was seen (same raw
    // stream), so ctx_k is non-null on the hit-k branch by construction.
    def hitK(k: Int): Column =
      (k + 1 to n).map(j => col(s"c_$j").isNull)
        .foldLeft(col(s"c_$k").isNotNull)(_ && _)
    val allMiss = (1 to n).map(j => col(s"c_$j").isNull).reduce(_ && _)
    def alphaPow(p: Int): Column =
      (1 to p).map(_ => lit(alpha)).foldLeft(lit(1.0): Column)(_ * _)
    val sExpr = {
      val branches = (n to 1 by -1).map { k =>
        val ctx = if (k == 1) col("n_tokens") else col(s"ctx_$k")
        (hitK(k),
          alphaPow(n - k) * col(s"c_$k").cast("double") / ctx.cast("double"))
      }
      val chain = branches.foldLeft(None: Option[Column]) {
        case (None, (p, v)) => Some(when(p, v))
        case (Some(c), (p, v)) => Some(c.when(p, v))
      }.get
      chain.otherwise(alphaPow(n - 1) / col("n_tokens").cast("double"))
    }
    val tierCols = (n to 1 by -1).map(k =>
      sum(when(hitK(k), col("m")).otherwise(0L)).as(s"n_hit_$k")) :+
      sum(when(allMiss, col("m")).otherwise(0L)).as("n_unseen")
    scored
      .groupBy(col("id"))
      .agg(
        sum(col("m")).as("n_ngrams"),
        tierCols :+
          (sum(col("m") * -log(sExpr)) / sum(col("m"))).as("avg_neg_logscore"): _*)
      .withColumn("ppl_proxy", exp(col("avg_neg_logscore")))
  }

  // ------------------------------------------------------------------
  // DSIR — importance resampling toward a target domain
  // ------------------------------------------------------------------

  /** Per-document hashed n-gram feature-bucket multiplicities
    * `(id, bucket, m)` — the DSIR feature space (Xie et al., "Data
    * Selection for Language Models via Importance Resampling", NeurIPS
    * 2023: hashed unigram+bigram bag features). The bucket is the first
    * `hexChars` hex digits of md5(gram) — a STRING key, so the same
    * bucketing runs bit-identically in any engine with md5 (the
    * [[sampleKeep]] portability argument applied to feature hashing;
    * `B = 16^hexChars` buckets).
    *
    * One scan: tokens project → pinned repartition on `id` (the
    * [[gramIndex]] anti-collapse/parallelism exchange) → one explode of
    * unigrams ++ bigram strings → count. No `>= 2`-token floor — a
    * 1-token doc still has its unigram feature ([[tokFrame]]'s floor is
    * an LM-bigram concern, not a bag-of-features one). The bigram array
    * is guarded `when(size >= 2, ...)` because Spark's `sequence(1, 0)`
    * DESCENDS rather than yielding empty.
    */
  private def featureBuckets(
      df: DataFrame, textCol: String, idCol: String,
      hexChars: Int): DataFrame = {
    // dropNullIds: null ids never join back through the reinstating
    // outer join (which emits them with zeros regardless), and the
    // below-exchange filter keeps every consumer subtree identical for
    // ReuseExchange (the duplicateSpans lesson)
    val toks = tokensPinned(df, textCol, idCol, dropNullIds = true)
    val bigrams = when(size(col("_graft_toks")) >= 2,
      transform(sequence(lit(1), size(col("_graft_toks")) - 1), i =>
        concat_ws(" ",
          element_at(col("_graft_toks"), i),
          element_at(col("_graft_toks"), i + 1))))
      .otherwise(array().cast("array<string>"))
    toks
      .select(col("id"),
        explode(concat(col("_graft_toks"), bigrams)).as("gram"))
      .select(col("id"), substring(md5(col("gram")), 1, hexChars).as("bucket"))
      // id-hash partitioning already clusters (id, bucket) — no new
      // exchange here, just a partial+final agg on the existing layout
      .groupBy(col("id"), col("bucket"))
      .agg(count(lit(1)).as("m"))
  }

  /** A fitted DSIR model: hashed-bucket counts under the TARGET
    * distribution and the RAW distribution, plus their 1-row totals —
    * all DataFrames (never driver-materialized), model-sized
    * (`<= 16^hexChars` rows per side regardless of corpus size).
    * Persist the three members before repeated scoring (streaming
    * micro-batches, multiple corpora) — the [[LmModel]] advice.
    */
  final case class DsirModel(
      targetCounts: DataFrame, // (bucket, tc)
      rawCounts: DataFrame, // (bucket, rc)
      totals: DataFrame, // 1 row (t_tot, r_tot)
      hexChars: Int) {
    /** B = 16^hexChars. */
    def buckets: Long = math.pow(16.0, hexChars.toDouble).toLong
  }

  /** Fit a [[DsirModel]] — the shared half of [[dsirWeights]], exposed
    * so batch scoring and streaming micro-batch scoring
    * ([[graft.streaming.Streams.perBatch]]) use one identical
    * model. Both count sides derive from one [[featureBuckets]] pass
    * per corpus; the totals re-aggregate the already-reduced bucket
    * counts (the [[ngramLmModel]] ctx trick), so fitting costs one
    * scan per side.
    */
  def dsirModel(
      raw: DataFrame,
      target: DataFrame,
      textCol: String,
      idCol: String,
      hexChars: Int = 3): DsirModel = {
    require(hexChars >= 1 && hexChars <= 8, "hexChars must be in [1, 8]")
    val tc = featureBuckets(target, textCol, idCol, hexChars)
      .groupBy(col("bucket")).agg(sum(col("m")).as("tc"))
    val rc = featureBuckets(raw, textCol, idCol, hexChars)
      .groupBy(col("bucket")).agg(sum(col("m")).as("rc"))
    // coalesce: sum over ZERO rows is null — an empty target corpus
    // must degrade to the smoothing-only model (p̂_b = 1/B), not null
    // out every weight
    val totals = tc.agg(coalesce(sum(col("tc")), lit(0L)).as("t_tot"))
      .crossJoin(rc.agg(coalesce(sum(col("rc")), lit(0L)).as("r_tot")))
    DsirModel(tc, rc, totals, hexChars)
  }

  /** Score `docs` against an already-fitted [[DsirModel]] — see
    * [[dsirWeights]] for semantics and the column contract. When `docs`
    * IS the model's raw corpus (the batch path), the feature pass here
    * is structurally identical to the model's and ReuseExchange
    * collapses them to one scan; for any other `docs` (a stream
    * micro-batch, a fresh crawl) only the new docs are scanned.
    */
  def scoreWithDsirModel(
      docs: DataFrame,
      model: DsirModel,
      textCol: String,
      idCol: String,
      k: Long = 1L): DataFrame = {
    require(k > 0, "add-k smoothing needs k > 0")
    val b = model.buckets
    val perDoc = featureBuckets(docs, textCol, idCol, model.hexChars)
    val logP = log((col("tc") + lit(k)).cast("double") /
      (col("t_tot") + lit(k) * lit(b)).cast("double"))
    val logQ = log((col("rc") + lit(k)).cast("double") /
      (col("r_tot") + lit(k) * lit(b)).cast("double"))
    val scored = perDoc
      .join(model.targetCounts, Seq("bucket"), "left")
      .join(model.rawCounts, Seq("bucket"), "left")
      .crossJoin(broadcast(model.totals))
      .select(col("id"), col("m"),
        coalesce(col("tc"), lit(0L)).as("tc"),
        coalesce(col("rc"), lit(0L)).as("rc"),
        col("t_tot"), col("r_tot"))
      .groupBy(col("id"))
      .agg(
        sum(col("m")).as("n_feats"),
        sum(col("m") * col("tc")).as("target_mass"),
        sum(col("m") * col("rc")).as("raw_mass"),
        sum(when(col("tc") === 0L, col("m")).otherwise(0L)).as("n_oov_target"),
        sum(col("m").cast("double") * (logP - logQ)).as("log_weight"))
    docs.select(cr(idCol).as("id"))
      .join(scored, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_feats"), lit(0L)).as("n_feats"),
        coalesce(col("target_mass"), lit(0L)).as("target_mass"),
        coalesce(col("raw_mass"), lit(0L)).as("raw_mass"),
        coalesce(col("n_oov_target"), lit(0L)).as("n_oov_target"),
        coalesce(col("log_weight"), lit(0.0)).as("log_weight"))
  }

  /** DSIR importance weighting (Xie et al., NeurIPS 2023): estimate
    * hashed-feature multinomials for the small TARGET domain (p) and
    * the large RAW corpus (q), then weight every raw document by
    * `log w = Σ_b m_b · (log p̂_b − log q̂_b)` with add-`k` smoothed
    * bucket probabilities `p̂_b = (tc_b + k)/(T + kB)`. High-weight
    * documents look like the target domain; [[dsirResample]] draws the
    * Gumbel top-k sample the paper prescribes.
    *
    * Output per RAW doc (every raw row emitted, featureless docs with
    * zeros — filters must be able to account for every input):
    *  - `n_feats`      — unigram+bigram occurrences (BIGINT)
    *  - `target_mass`  — `Σ_b m_b · tc_b` (BIGINT: how much of the
    *                     doc's feature mass the target model has seen)
    *  - `raw_mass`     — `Σ_b m_b · rc_b` (BIGINT)
    *  - `n_oov_target` — occurrences in buckets the target never hit
    * These four integer columns are the oracle surface (q126) — exact
    * sums of exact counts, engine-portable. `log_weight` is the real
    * DSIR score (transcendental → spec-verified against a closed-form
    * hand model, CorpusSpec).
    *
    * Scale shape (100 TB raw, MB-scale target): the raw corpus is
    * tokenized ONCE — the model's `rawCounts` feature pass and the
    * scoring pass run over structurally identical subtrees, so
    * ReuseExchange collapses them at the pinned feature exchange
    * (runtime-audited: one text scan per side plus a column-pruned
    * id-only scan for reinstatement). Both count sides are `<= B` rows
    * — broadcast-sized by construction (AQE turns the bucket joins
    * into broadcasts), and the only full-width shuffle is the feature
    * count on `id`-partitioned data. The target side is a second, much
    * smaller scan.
    */
  def dsirWeights(
      raw: DataFrame,
      target: DataFrame,
      textCol: String,
      idCol: String,
      hexChars: Int = 3,
      k: Long = 1L): DataFrame =
    scoreWithDsirModel(
      raw, dsirModel(raw, target, textCol, idCol, hexChars),
      textCol, idCol, k)

  /** Gumbel top-`n` importance resampling over [[dsirWeights]] output —
    * the DSIR paper's sampling-without-replacement step: draw
    * `g_i ~ Gumbel(0,1)` per doc and keep the `n` largest
    * `log_weight + g`. The Gumbel draw is DETERMINISTIC: the uniform is
    * the first 8 md5 hex digits of `salt ++ id` mapped to (0,1) (the
    * [[sampleKeep]] hash-uniform, offset by +0.5/2^32 so `-ln(-ln u)`
    * never sees 0) — reproducible across runs, partitionings, and
    * engines, re-seedable via `salt`. TakeOrdered keeps the top-n
    * selection distributed (per-partition heaps, no full sort).
    */
  def dsirResample(
      scored: DataFrame, idCol: String, n: Int,
      salt: String = "dsir"): DataFrame = {
    val u = (conv(substring(md5(concat(lit(salt), col(idCol).cast("string"))),
      1, 8), 16, 10).cast("double") + 0.5) / 4294967296.0
    val gumbel = -log(-log(u))
    scored
      .withColumn("gumbel_key", col("log_weight") + gumbel)
      .orderBy(col("gumbel_key").desc, col(idCol))
      .limit(n)
  }

  // ------------------------------------------------------------------
  // Exact duplicate-span detection (Lee et al., ACL 2022)
  // ------------------------------------------------------------------

  /** Cross-document duplicate-span detection — the exact-substring
    * signal of Lee et al., "Deduplicating Training Data Makes Language
    * Models Better" (ACL 2022), §4.1. Their suffix-array finds
    * duplicated substrings of ANY length >= 50 tokens; the
    * shuffle-friendly equivalent here fingerprints every `n`-token
    * window and counts, per document, the window positions whose span
    * text also occurs in AT LEAST ONE OTHER document (a duplicated
    * substring of length >= L contains a duplicated n-window at every
    * offset, so window hits are a complete detector for spans >= n —
    * the standard windowed approximation of the suffix-array method).
    * Within-doc repetition deliberately does NOT count ([[q76]]'s
    * repetition signal owns that); a span flagged here is interesting
    * precisely because another document has it.
    *
    * Output per input doc (every row emitted): `n_spans`
    * (`max(|tokens| - n + 1, 0)`), `n_dup_spans` (window positions
    * whose span occurs in >= 2 docs), `has_dup`. All integer/boolean —
    * the full row is the oracle surface (q127).
    *
    * Scale shape: one tokens scan feeds both the span explode and the
    * `n_spans` projection through the pinned `id`-repartition
    * (ReuseExchange — one tokenize). Spans are hashed to 64-bit
    * ([[exactNgramPairs]]'s xxhash64 posture: joins move slim longs,
    * never 8-word strings); per-doc multiplicities reduce on the
    * existing `id` partitioning; the only new shuffles are the
    * doc-frequency count on the hash and the keyed join back — both
    * partial-aggregated, never all-pairs. A hot span (boilerplate in
    * millions of docs) is one counter cell here, not a join blow-up:
    * the doc-count aggregate reduces it before anything fans out.
    */
  def duplicateSpans(
      df: DataFrame, textCol: String, idCol: String, n: Int = 8): DataFrame = {
    require(n >= 2, "span windows need n >= 2")
    // dropNullIds: null ids can never equi-join back to the
    // reinstating left join (which emits them with zeros regardless),
    // and the below-exchange filter keeps the two consumer subtrees
    // identical — the outer join infers isnotnull(id) into the per-doc
    // branch only, and an asymmetric filter defeats ReuseExchange
    // (measured: 2 corpus tokenizes → 1)
    val base = tokensPinned(df, textCol, idCol, dropNullIds = true)
    val spans = base
      .select(col("id"), explode(
        when(size(col("_graft_toks")) >= n,
          transform(sequence(lit(1), size(col("_graft_toks")) - (n - 1)), i =>
            xxhash64(concat_ws(" ", slice(col("_graft_toks"), i, lit(n))))))
          .otherwise(array().cast("array<long>"))).as("h"))
    val perDoc = spans.groupBy(col("id"), col("h")).agg(count(lit(1)).as("m"))
    // (id, h) is unique after the reduce, so counting per h IS the
    // distinct-doc frequency — derived from the reduced frame, never
    // the raw span stream. count(m) not count(1): m is never null, the
    // tally is identical, but referencing m stops column pruning from
    // rewriting THIS branch's perDoc into a plain distinct — a
    // different subtree that would break exchange reuse with the join
    // branch and tokenize the corpus twice.
    val docFreq = perDoc.groupBy(col("h")).agg(count(col("m")).as("ndocs"))
    // ONE aggregation branch computes both totals: every perDoc row
    // matches exactly one docFreq row (constant fan-in), so n_spans =
    // Σm rides the same join that classifies duplicates. A separate
    // n_spans projection off `base` would sit LEFT of the reinstating
    // outer join while this branch sits right — the join-inferred
    // isnotnull(id) on the right side then breaks subtree reuse and the
    // corpus tokenizes twice (measured: 2 text scans → 1).
    val agg = perDoc
      .join(docFreq, Seq("h"))
      .groupBy(col("id"))
      .agg(
        sum(col("m")).as("n_spans"),
        sum(when(col("ndocs") >= 2, col("m")).otherwise(0L)).as("n_dup_spans"))
    // reinstate span-less docs (< n tokens / empty text) from a slim
    // id-only scan — column pruning keeps the text out of this branch
    df.select(cr(idCol).as("id"))
      .join(agg, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"))
      .withColumn("has_dup", col("n_dup_spans") > 0L)
  }

  /** Cross-document duplicate-span REMOVAL — the ExactSubstr-style
    * complement of [[duplicateSpans]] (Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better":
    * detect substrings shared across documents and cut them OUT,
    * rather than dropping whole near-dup docs). Windows of `n`
    * consecutive whitespace words; a window is duplicated when its
    * content appears in >= 2 DISTINCT documents (the [[duplicateSpans]]
    * definition); every word position covered by ANY duplicated window
    * is removed from EVERY document carrying it (the deterministic
    * all-copies policy — a keep-first variant needs a global document
    * order the corpus doesn't have; documented, not hidden). Emits
    * `(id, clean_text, n_tokens, n_removed_tokens)` with `clean_text`
    * the surviving words joined by single spaces — case and
    * punctuation survive (windows are RAW whitespace words, not the
    * canonicalized token stream); only whitespace is normalized, the
    * unavoidable cost of word-level surgery. Null text cleans to ""
    * with zero counts (the [[c4Clean]] null convention). Null-ID rows
    * PASS THROUGH whitespace-normalized with zero removals: a doc
    * without an identity cannot participate in cross-doc surgery
    * (every internal stage keys on id), and silently blanking its
    * text — the pre-round-13 behavior — lost content without counting
    * it as removed.
    *
    * Scale shape: the word-split feeds its consumers behind a pinned
    * id-partitioned exchange (the [[duplicateSpans]] reuse posture) —
    * runtime-audited at 3 parquet scans total (Inspect: the slim
    * id-only reinstating scan, the exchange source, and ONE cloned
    * span branch whose explode-inferred size predicate pushes below
    * the exchange and escapes ReuseExchange; the double consumption
    * of the span stream by classification AND coverage makes the
    * clone unavoidable without persisting a corpus-token-sized frame,
    * so the bound is one extra corpus scan — dominated by the span
    * shuffle it feeds). Span classification is a hash-keyed distinct
    * + count + semi-join (8-byte xxhash64 keys, never the window
    * strings); coverage explodes ONLY duplicated windows (×n rows on
    * the duplicated fraction); reconstruction is a per-doc ordered
    * aggregate — doc-sized, never corpus-sized.
    */
  def removeDuplicateSpans(
      df: DataFrame, textCol: String, idCol: String, n: Int = 8): DataFrame =
    removeSpansWhere(df, textCol, idCol, n) { spans =>
      spans.select(col("id"), col("h")).distinct()
        .groupBy(col("h")).agg(count(lit(1)).as("ndocs"))
        .filter(col("ndocs") >= 2).select(col("h"))
    }

  /** Span-level surgery core shared by [[removeDuplicateSpans]] and
    * [[decontaminateSpans]]: window the raw whitespace words, classify
    * windows via `hitHashes` (spans `(id, pos, h)` → the `h` frame to
    * cut), remove every covered word position, rebuild. The output
    * shape, null-text/null-id conventions, and the pinned
    * id-partitioned exchange posture are [[removeDuplicateSpans]]'s —
    * see its scaladoc.
    */
  private def removeSpansWhere(
      df: DataFrame, textCol: String, idCol: String, n: Int,
      spanPreFilter: Option[Column => Column] = None)(
      hitHashes: DataFrame => DataFrame): DataFrame = {
    require(n >= 2, "span windows need n >= 2")
    val spark = df.sparkSession
    // cached (round 20): the word-split feeds the span branch, the
    // position-explode branch and the totals branch; the pinned
    // exchange let ReuseExchange share most of them, but the
    // explode-inferred size predicate still cloned one span branch
    // below the exchange (documented in removeDuplicateSpans), and
    // every consumer re-read the shuffle. The cache is doc-sized (one
    // word array per doc — the corpus text, the same scale as
    // semDeDup's cached embedding frame) and operator-owned: caller
    // releases via Caches.release().
    val words = graft.ops.Caches.owned(df
      .select(cr(idCol).as("id"),
        filter(split(coalesce(cr(textCol), lit("")), "\\s+"),
          w => length(w) > 0).as("_graft_words"))
      .filter(col("id").isNotNull)
      .repartition(
        math.max(spark.sparkContext.defaultParallelism,
          spark.sessionState.conf.numShufflePartitions),
        col("id")))
    val spans = words.select(col("id"), explode(
      when(size(col("_graft_words")) >= n,
        transform(sequence(lit(1), size(col("_graft_words")) - (n - 1)), i =>
          struct(i.as("pos"),
            xxhash64(concat_ws(" ", slice(col("_graft_words"), i, lit(n))))
              .as("h"))))
        .otherwise(array().cast("array<struct<pos:int,h:bigint>>"))).as("s"))
      .select(col("id"), col("s.pos").as("pos"), col("s.h").as("h"))
    // spanPreFilter (a per-row probe, e.g. a bloom) thins the
    // corpus-sized span stream BEFORE the exact semi-join; hitHashes
    // always sees the UNfiltered spans (cross-doc counting needs them)
    val probed = spanPreFilter
      .map(f => spans.filter(f(col("h")))).getOrElse(spans)
    val covered = probed.join(hitHashes(spans), Seq("h"), "left_semi")
      .select(col("id"),
        explode(sequence(col("pos"), col("pos") + (n - 1))).as("pos"))
      .distinct()
    val toks = words
      .select(col("id"), posexplode(col("_graft_words")).as(Seq("p0", "tok")))
      .select(col("id"), (col("p0") + 1).as("pos"), col("tok"))
    val keptAgg = toks.join(covered, Seq("id", "pos"), "left_anti")
      .groupBy(col("id"))
      .agg(
        concat_ws(" ",
          transform(array_sort(collect_list(struct(col("pos"), col("tok")))),
            x => x.getField("tok"))).as("clean_text"),
        count(lit(1)).as("n_kept"))
    val totals = words
      .select(col("id"), size(col("_graft_words")).cast("long").as("n_tokens"))
    df.filter(cr(idCol).isNotNull)
      .select(cr(idCol).as("id"))
      .join(totals, Seq("id"), "left")
      .join(keptAgg, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        (coalesce(col("n_tokens"), lit(0L)) -
          coalesce(col("n_kept"), lit(0L))).as("n_removed_tokens"))
      // null-id pass-through (see scaladoc): whitespace-normalized,
      // nothing removed — identity-less docs sit outside the surgery
      .unionByName(df.filter(cr(idCol).isNull)
        .select(cr(idCol).as("id"),
          filter(split(coalesce(cr(textCol), lit("")), "\\s+"),
            w => length(w) > 0).as("_graft_w"))
        .select(col("id"),
          concat_ws(" ", col("_graft_w")).as("clean_text"),
          size(col("_graft_w")).cast("long").as("n_tokens"),
          lit(0L).as("n_removed_tokens")))
  }

  /** The distinct benchmark span-hash frame [[decontaminateSpans]]
    * cuts against — xxhash64 of every raw `n`-consecutive-whitespace-
    * word window in the benchmark corpus, one `h` BIGINT column. The
    * PERSISTABLE unit for repeated surgical decontamination (same
    * role as [[decontaminationGrams]] for the drop-the-doc filter);
    * raw-word windows, NOT canonical tokens, because surgery must map
    * hits back to exact word positions in the original text — the
    * [[removeDuplicateSpans]] convention. `n` must match the
    * [[decontaminateSpans]] call's n: windows of a different order
    * never collide and the surgery silently cuts nothing.
    */
  def decontaminationSpanHashes(
      bench: DataFrame, textCol: String, idCol: String,
      n: Int = 8): DataFrame = {
    require(n >= 2, "span windows need n >= 2")
    bench
      .select(filter(split(coalesce(cr(textCol), lit("")), "\\s+"),
        w => length(w) > 0).as("_graft_words"))
      .select(explode(
        when(size(col("_graft_words")) >= n,
          transform(sequence(lit(1), size(col("_graft_words")) - (n - 1)),
            i => xxhash64(concat_ws(" ",
              slice(col("_graft_words"), i, lit(n))))))
          .otherwise(array().cast("array<bigint>"))).as("h"))
      .distinct()
  }

  /** SURGICAL decontamination — cut benchmark-overlapping spans out of
    * training documents instead of dropping the documents
    * ([[decontaminate]]'s whole-doc policy). A window of `n`
    * consecutive raw whitespace words is contaminated when its content
    * appears ANYWHERE in the benchmark corpus; every word position
    * covered by a contaminated window is removed — the
    * [[removeDuplicateSpans]] surgery with the benchmark span set as
    * the cut rule instead of cross-doc frequency. Keeps the ~whole
    * document's training value when the overlap is one quoted question
    * or answer line; the GPT-3 appendix-C posture of excising overlap
    * windows rather than discarding pages. Output shape and null
    * conventions are [[removeDuplicateSpans]]'s: `(id, clean_text,
    * n_tokens, n_removed_tokens)`, whitespace-normalized.
    *
    * Scale shape: the corpus side is ONE word-split feeding spans and
    * reconstruction behind the pinned id-partitioned exchange; the
    * bench span-hash frame is eval-suite-sized (thousands of docs →
    * millions of 8-byte hashes), so the covered probe is a BROADCAST
    * semi-join — no corpus-sized shuffle joins at all, strictly
    * cheaper than the cross-doc surgery (whose span-frequency count
    * shuffles the corpus span stream).
    */
  def decontaminateSpans(
      train: DataFrame,
      benchSpanHashes: DataFrame,
      textCol: String,
      idCol: String,
      n: Int = 8): DataFrame =
    removeSpansWhere(train, textCol, idCol, n)(_ =>
      benchSpanHashes.select(col("h")))

  /** [[decontaminateSpans]] with a bloom-filter pre-pass — the same
    * 100 TB move [[bloomDecontaminate]] makes for the drop-the-doc
    * filter: when the benchmark span-hash set outgrows comfortable
    * broadcast (tens of millions of 8-byte keys → hundreds of MB as a
    * per-executor hash relation), fold it into one driver-built
    * [[org.apache.spark.util.sketch.BloomFilter]] (~12 MB per 10M keys
    * at 1% fpp), probe it as a codegen'd per-row expression on the
    * corpus span stream, and send only the ~(contaminated + fpp·N)
    * survivors to the exact semi-join that removes false positives.
    * No false negatives + exact verify ⇒ output IDENTICAL to
    * [[decontaminateSpans]] for any `fpp` — the gate asserts that
    * against the same SQL oracle.
    */
  def decontaminateSpansBloom(
      train: DataFrame,
      bench: DataFrame,
      textCol: String,
      idCol: String,
      n: Int = 8,
      fpp: Double = 0.01): DataFrame = {
    require(fpp > 0 && fpp < 1, "fpp in (0,1)")
    val spanH = decontaminationSpanHashes(bench, textCol, idCol, n)
    // one scalar to size the sketch (a sizing decision, not data motion)
    val expected = math.max(spanH.count(), 1L)
    val bloom = spanH.stat.bloomFilter("h", expected, fpp)
    removeSpansWhere(train, textCol, idCol, n,
      spanPreFilter = Some(h =>
        graft.plans.BloomExpressions.mightContainLong(h, bloom)))(_ =>
      spanH.select(col("h")))
  }

  // ------------------------------------------------------------------
  // C4 page/line cleaning (Raffel et al., JMLR 2020 §2.2)
  // ------------------------------------------------------------------

  /** The C4 cleaning rules (Raffel et al., "Exploring the Limits of
    * Transfer Learning with a Unified Text-to-Text Transformer", JMLR
    * 2020, §2.2), as one declarative pass. Line level — a line survives
    * iff it ends in a terminal punctuation mark (`. ! ? "`), contains
    * at least 3 words, and does not mention "javascript"
    * (case-insensitive). Page level — a page is kept iff its RETAINED
    * text carries at least 5 sentence-terminal marks (`. ! ?` — C4
    * counts sentences; terminal-mark count is the declarative proxy,
    * exact on prose where sentences end in exactly one mark), the
    * original page does not contain any `badPhrases` entry
    * (case-insensitive; C4 uses the public "Dirty, Naughty…" blocklist
    * — supply it here; the default bans only `lorem ipsum`, C4's
    * placeholder-text rule), and does not contain a curly bracket.
    *
    * Every page is emitted with its cleaned text and a `kept` flag —
    * dropping is the caller's one-line filter, and audit queries can
    * account for every input page. All columns are strings / exact
    * integers / booleans: the whole row is the oracle surface (q128).
    *
    * Scale shape: pure per-row narrow work — no shuffle at all, so at
    * 100 TB it is scan-bound (the correct cost for a cleaning pass).
    * The line rules run in ONE codegen'd pass per page
    * ([[graft.plans.C4StatsExpr]]): a composed-builtins formulation
    * consumes the filtered-lines lambda four ways, and higher-order
    * functions evaluate interpreted with no common-subexpression
    * elimination — CollapseProject would re-run the whole chain once
    * per consumer (the [[gramIndex]] re-evaluation trap). The page
    * rules stay declarative builtins (cheap `contains` probes on the
    * raw text; CSE dedups them).
    */
  def c4Clean(
      df: DataFrame, textCol: String, idCol: String,
      badPhrases: Seq[String] = Seq("lorem ipsum")): DataFrame = {
    // null pages read as empty: the expression is null-safe, so a bare
    // null text would yield kept = NULL — and a null flag silently
    // drops the row from BOTH filter(kept) and filter(!kept), the
    // audit hole the semanticDecontaminate contract documents. Empty
    // text cleans to "" and fails the sentence floor: kept = false.
    val text = coalesce(cr(textCol), lit(""))
    val st = graft.plans.C4StatsExpr(text)
    val badHit = badPhrases
      .map(p => lower(text).contains(p.toLowerCase(java.util.Locale.ROOT)))
      .foldLeft(lit(false))(_ || _)
    df.select(
      cr(idCol).as("id"),
      st.getField("clean").as("text"),
      st.getField("n_lines").cast("long").as("n_lines"),
      st.getField("n_lines_kept").cast("long").as("n_lines_kept"),
      st.getField("n_sentences").cast("long").as("n_sentences"),
      (st.getField("n_sentences").cast("long") >= 5L &&
        !badHit && !text.contains("{")).as("kept"))
  }

  /** C4's page-level WORD blocklist (Raffel et al. 2020 §2.2: "removed
    * any page that contained any word on the 'List of Dirty, Naughty,
    * Obscene or Otherwise Bad Words'"), with the list's real matching
    * semantics: WORD-BOUNDARY, not substring — `class` must not die for
    * containing `ass`, which is exactly what [[c4Clean]]'s
    * `badPhrases`-as-`contains` would do (that knob models C4's
    * lorem-ipsum PHRASE rule; this operator is the word rule). Terms
    * are canonicalized through the same tokenizer as the page
    * (lowercase, `[^a-z0-9']` boundaries); multi-word terms match as a
    * consecutive canonical-token run.
    *
    * Emits every page: `(id, n_term_hits, phrase_hit, kept)` —
    * n_term_hits counts tokens matching single-word terms (one fused
    * hash-set pass, [[graft.plans.StopwordHits]] — a per-term
    * `array_contains` chain rescans the token array per term),
    * phrase_hit flags any multi-word term, kept = no hit of either
    * kind. Pure narrow scan-bound work, zero shuffle; the blocklist
    * ships inside the expression (hundreds of terms — never a join).
    */
  def blockedWordsFilter(
      df: DataFrame, textCol: String, idCol: String,
      terms: Seq[String]): DataFrame = {
    require(terms.nonEmpty, "terms must be non-empty")
    def canonTerm(t: String): Seq[String] = t.toLowerCase(java.util.Locale.ROOT)
      .split("[^a-z0-9']+").filter(_.nonEmpty).toSeq
    val canon = terms.map(canonTerm).filter(_.nonEmpty).distinct
    require(canon.nonEmpty, "terms must contain at least one word")
    val (multi, single) = canon.partition(_.length > 1)
    val text = coalesce(cr(textCol), lit(""))
    val toks = TextFunctions.tokens(text)
    val hits =
      if (single.isEmpty) lit(0L)
      else element_at(graft.plans.HashExpressions.stopwordHits(
        toks, Seq(single.map(_.head))), 1)
    // multi-word terms: consecutive canonical tokens — matched on the
    // space-joined canonical string with space padding (token
    // boundaries are exact there by construction)
    val joined = concat(lit(" "), array_join(toks, " "), lit(" "))
    val phraseHit = multi
      .map(ws => joined.contains(" " + ws.mkString(" ") + " "))
      .foldLeft(lit(false))(_ || _)
    df.select(
      cr(idCol).as("id"),
      hits.as("n_term_hits"),
      phraseHit.as("phrase_hit"),
      (hits === 0L && !phraseHit).as("kept"))
  }

  // ------------------------------------------------------------------
  // Linear quality classifier (logistic regression over hashed features)
  // ------------------------------------------------------------------

  /** A trained linear quality classifier: per-bucket weights (<= B
    * rows, broadcast-sized forever) plus the bias. Weights live in a
    * DataFrame for scoring joins; `hexChars` fixes the feature space.
    */
  final case class LinearModel(weights: DataFrame /* (bucket, w) */ ,
      bias: Double, hexChars: Int)

  /** Train a logistic-regression quality classifier on hashed
    * unigram+bigram features — the linear fastText-style filter the
    * published pipelines use for page quality (GPT-3 trained LR against
    * WebText as the positive class; CCNet's companion filters are
    * fastText linear models). Positive/negative example sets in,
    * per-bucket weights out; batch gradient descent, `iters` full
    * passes.
    *
    * Features are [[featureBuckets]] multiplicities L1-NORMALIZED per
    * document (`x_b = m_b / Σm` — document length must not be the
    * signal), the same md5-prefix bucket space as [[dsirWeights]].
    * Token-less training docs carry no gradient signal and are
    * excluded from the example count.
    *
    * Distribution contract: the feature frame is computed ONCE and
    * persisted; each iteration is two keyed shuffles over it (per-doc
    * dot products, then per-bucket gradient sums). The weight vector —
    * `<= 16^hexChars` rows by construction — is the ONLY driver
    * round-trip per iteration (a bounded scalar handoff, the IVF
    * sample-cap posture), re-broadcast as a literal frame so the plan
    * lineage stays one iteration deep instead of `iters` joins tall.
    * Gradient sums are floating-point reductions, so weights are
    * deterministic to reduction order (~1e-12), not bit-pinned —
    * which is why this operator's gate is rows-only with a
    * planted-truth spec (training is iterative driver-side control
    * flow, not expressible as one SQL query; CorpusSpec pins the math
    * against a code-independent plain-Scala gradient descent).
    */
  def trainQualityClassifier(
      pos: DataFrame,
      neg: DataFrame,
      textCol: String,
      idCol: String,
      hexChars: Int = 2,
      iters: Int = 30,
      lr: Double = 2.0): LinearModel = {
    require(iters >= 1 && lr > 0)
    val spark = pos.sparkSession
    import spark.implicits._
    // labels ride the id sign-free via a struct: (id, y) with disjoint
    // synthetic ids is unnecessary — tag BEFORE the union instead
    val labeled = featureBuckets(pos, textCol, idCol, hexChars)
      .withColumn("y", lit(1.0))
      .unionByName(
        featureBuckets(neg, textCol, idCol, hexChars).withColumn("y", lit(0.0)))
    // L1-normalize: x_b = m_b / Σ_b m_b (doc length is not the signal)
    val norm = Window.partitionBy(col("y"), col("id"))
    val feats0 = labeled
      .withColumn("x", col("m") / sum(col("m")).over(norm))
      .select(col("y"), col("id"), col("bucket"), col("x"))
      .persist()
    val n = feats0.select(col("y"), col("id")).distinct().count().toDouble
    require(n > 0,
      "trainQualityClassifier: no featured training documents — both " +
        "example sets are empty or token-less (a 0-doc gradient would " +
        "NPE on the null sum and 0/0 the bias step)")
    // Scale-adaptive cache layout (round 20, guide §2.5/§2.2 —
    // partitioning derived from measured size, not the session
    // constant): at the gates' diet training sizes (hundreds of docs)
    // every iteration stage over a shuffle.partitions-wide cached
    // frame schedules one near-empty task wave per stage — measured
    // ~5 stage-jobs × 32 tasks per iteration with ~0.5 ms of real work
    // each. Re-lay the cached features at ~1000 featured docs per
    // partition, capped at defaultParallelism; when the formula lands
    // AT the cap (any realistically large corpus) the repartition is
    // skipped outright, so the scale path pays no extra shuffle.
    val featParts = math.max(1, math.min(
      spark.sparkContext.defaultParallelism, math.ceil(n / 1000.0).toInt))
    val feats =
      if (featParts >= spark.sparkContext.defaultParallelism) feats0
      else {
        val f2 = feats0
          .repartition(featParts, col("y"), col("id")).persist()
        f2.count() // materialize before dropping the wide layout
        feats0.unpersist()
        f2
      }
    var bias = 0.0
    var weights = Map.empty[String, Double]
    // AQE off across the iteration collects when the frame measured
    // tiny (featParts below the cap) — see withStaticPlanning
    withStaticPlanning(spark,
      tiny = featParts < spark.sparkContext.defaultParallelism) {
    for (_ <- 1 to iters) {
      // Round-20 iteration shape (guide §2.4, the trainLangId treatment
      // applied to the binary case): the weight vector rides the plan
      // as a codegen'd hash-lookup expression (weightOf, ≤ 16^hexChars
      // entries by construction), so
      // the per-doc dot is one aggregate over the cached
      // (y,id)-partitioned feature frame — no per-iteration broadcast
      // join. Same math; float reduction order is the documented
      // ~1e-12 non-pin.
      val errs = feats
        .groupBy(col("y"), col("id"))
        .agg(sum(col("x") *
          graft.plans.HashExpressions.weightOf(col("bucket"), weights))
          .as("dot"))
        .select(col("y"), col("id"),
          (lit(1.0) / (lit(1.0) + exp(-(col("dot") + lit(bias)))) - col("y"))
            .as("err"))
        // persisted: two consumers (bucket gradients + bias sentinel)
        .persist()
      // weight + bias gradients ride ONE collect AND one per-bucket
      // aggregation (round 20): the bias contribution enters as
      // sentinel rows (bucket = "__bias__" — impossible as a real
      // bucket, buckets are md5 hex chars — with x = 1) unioned BELOW
      // the shared groupBy instead of a second aggregate branch, so
      // each iteration is exactly one exchange. Training cost at the
      // gate's r19 diet size (hundreds of docs) is ACTION/stage-count
      // dominated — see OPTIMIZATION_r20.md.
      // bounded driver handoff: <= 16^hexChars + 1 rows
      val rows = feats
        .join(errs, Seq("y", "id"))
        .select(col("bucket"), col("x"), col("err"))
        .unionByName(errs.select(
          lit("__bias__").as("bucket"), lit(1.0).as("x"), col("err")))
        .groupBy(col("bucket"))
        .agg((sum(col("x") * col("err")) / n).as("g"))
        .collect()
      errs.unpersist()
      val grads = rows.map(r => r.getString(0) -> r.getDouble(1)).toMap
      val gBias = grads("__bias__")
      val wGrads = grads - "__bias__"
      weights = (weights.keySet ++ wGrads.keySet).map { b =>
        b -> (weights.getOrElse(b, 0.0) - lr * wGrads.getOrElse(b, 0.0))
      }.toMap
      bias -= lr * gBias
    }
    }
    feats.unpersist()
    LinearModel(weights.toSeq.toDF("bucket", "w"), bias, hexChars)
  }

  /** Score documents with a trained [[LinearModel]]: per doc, the
    * sigmoid of the weighted normalized feature sum — `quality` in
    * (0, 1), plus the thresholded `keep` flag. Featureless docs score
    * sigmoid(bias). One feature pass, one broadcast join against the
    * capped weight table, one per-doc reduce — the [[scoreWithDsirModel]]
    * shape, streaming-deployable the same way.
    */
  def scoreWithClassifier(
      docs: DataFrame,
      model: LinearModel,
      textCol: String,
      idCol: String,
      threshold: Double = 0.5): DataFrame = {
    val perDoc = featureBuckets(docs, textCol, idCol, model.hexChars)
    val normW = Window.partitionBy(col("id"))
    // Round 20 (guide §2.4): the bounded weight table (≤ 16^hexChars
    // rows by the model contract) is collected once and rides the plan
    // as a codegen'd hash-lookup expression — the broadcast left join
    // it replaces fanned every feature row through a join for the same
    // lookup. weightOf misses yield 0.0, the old coalesce contract.
    val wMap = model.weights
      .select(col("bucket").cast("string"), col("w").cast("double"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val scored = perDoc
      .withColumn("x", col("m") / sum(col("m")).over(normW))
      .groupBy(col("id"))
      .agg(sum(col("x") *
        graft.plans.HashExpressions.weightOf(col("bucket"), wMap)).as("dot"))
      .select(col("id"),
        (lit(1.0) / (lit(1.0) + exp(-(col("dot") + lit(model.bias)))))
          .as("quality"))
    docs.select(cr(idCol).as("id"))
      .join(scored, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("quality"),
          lit(1.0 / (1.0 + math.exp(-model.bias)))).as("quality"))
      .withColumn("keep", col("quality") >= threshold)
  }

  // ------------------------------------------------------------------
  // Trained language ID (multinomial LR over hashed features)
  // ------------------------------------------------------------------

  /** A trained multinomial language-ID model: per-(lang, bucket)
    * weights (≤ |langs|·16^hexChars rows — broadcast-sized at any
    * realistic language count) plus per-language biases. The trained
    * successor of [[graft.functions.TextFunctions.langId]]'s
    * 5-language stopword heuristic: CCNet-style curation runs 100+
    * languages, and a linear model over hashed token features IS the
    * published recipe (fastText langid = multinomial LR over hashed
    * n-gram features).
    */
  final case class LangIdModel(
      langs: Seq[String],
      weights: DataFrame /* (lang, bucket, w) */,
      biases: Map[String, Double],
      hexChars: Int)

  /** Train multinomial (softmax) logistic regression over the SAME
    * hashed unigram+bigram feature space as the quality classifier
    * ([[trainQualityClassifier]] — md5-prefix buckets, L1-normalized
    * per doc), one weight vector per language, batch gradient descent.
    *
    * Distribution contract (the [[trainQualityClassifier]] posture,
    * widened per class): the labeled feature frame is computed ONCE
    * and persisted; each iteration fans features across languages via
    * ONE broadcast join against the weight table, runs the per-doc
    * softmax in a window over the doc id, and reduces gradients per
    * (lang, bucket). The ONLY driver round-trips are the bounded
    * gradient tables (≤ |langs|·16^hexChars weight rows + |langs|
    * bias rows per iteration) and the one-time language inventory.
    * Token-less docs carry no gradient. Floating-point reductions ⇒
    * weights deterministic to reduction order, not bit-pinned — the
    * gate is rows-only (q161) with the code-independent plain-Scala
    * replica spec pinning the math (the q130 posture).
    */
  def trainLangId(
      labeled: DataFrame,
      textCol: String,
      labelCol: String,
      idCol: String,
      hexChars: Int = 2,
      iters: Int = 30,
      lr: Double = 2.0): LangIdModel = {
    require(iters >= 1 && lr > 0)
    val spark = labeled.sparkSession
    import spark.implicits._
    // bounded collect: the label inventory IS the language set
    val langs = labeled.select(col(labelCol).cast("string").as("lang"))
      .filter(col("lang").isNotNull).distinct()
      .collect().map(_.getString(0)).sorted.toIndexedSeq
    require(langs.size >= 2, "trainLangId: need at least two languages")
    val labels = labeled.select(
      cr(idCol).as("id"), col(labelCol).cast("string").as("y"))
      .filter(col("y").isNotNull)
    val normW = Window.partitionBy(col("id"))
    val f0 = featureBuckets(labeled, textCol, idCol, hexChars)
      .withColumn("x", col("m") / sum(col("m")).over(normW))
      .join(labels, Seq("id"))
      .select(col("id"), col("y"), col("bucket"), col("x"))
      .persist()
    val n = f0.select(col("id")).distinct().count().toDouble
    require(n > 0,
      "trainLangId: no featured training documents — every labeled " +
        "doc is token-less (a 0-doc gradient would 0/0 the updates)")
    // Scale-adaptive cache layout (round 20 — the trainQualityClassifier
    // treatment): ~1000 featured docs per partition, capped at
    // defaultParallelism; at the cap (any real corpus) the repartition
    // is skipped, so the scale path pays no extra shuffle.
    val featParts = math.max(1, math.min(
      spark.sparkContext.defaultParallelism, math.ceil(n / 1000.0).toInt))
    val f =
      if (featParts >= spark.sparkContext.defaultParallelism) f0
      else {
        val f2 = f0.repartition(featParts, col("id")).persist()
        f2.count() // materialize before dropping the wide layout
        f0.unpersist()
        f2
      }
    var biases = langs.map(_ -> 0.0).toMap
    var weights = Map.empty[(String, String), Double] // (lang, bucket) -> w
    // AQE off across the iteration collects when the frame measured
    // tiny (featParts below the cap) — see withStaticPlanning
    withStaticPlanning(spark,
      tiny = featParts < spark.sparkContext.defaultParallelism) {
    for (_ <- 1 to iters) {
      // Round-20 iteration shape (guide §2.4 — remove shuffles outright):
      // the per-language weight vectors ride the plan as codegen'd
      // hash-lookup expressions ([[graft.plans.HashExpressions.weightOf]],
      // bounded ≤ 16^hexChars entries each by construction), so the
      // per-doc dot products are L aggregate columns over the cached
      // id-partitioned feature frame — no per-iteration broadcast join,
      // no (doc × lang) grid crossJoin, and the softmax runs across the
      // L columns of one row instead of two windows over an (id, lang)
      // frame. Same math, same L1-normalized x, same shift-invariant
      // max-subtracted softmax; only float reduction order moves (the
      // documented ~1e-12 non-pin). Measured: the old shape paid ~13
      // AQE stage-jobs per iteration, this one pays ~3 (q161 6.7 →
      // ~4 s, q163 the same shape).
      val wMaps = langs.map { l =>
        weights.iterator.collect {
          case ((l2, b), w) if l2 == l => b -> w
        }.toMap
      }
      val dotCols = langs.indices.map { i =>
        sum(col("x") *
          graft.plans.HashExpressions.weightOf(col("bucket"), wMaps(i)))
          .as(s"_dot_$i")
      }
      val perDoc = f.groupBy(col("id"), col("y"))
        .agg(dotCols.head, dotCols.tail: _*)
      val zCols = langs.indices.map(i =>
        col(s"_dot_$i") + lit(biases(langs(i))))
      // softmax per doc, max-subtracted for numeric stability (exact:
      // softmax is shift-invariant)
      val mx = greatest(zCols: _*)
      val sumExp = zCols.map(z => exp(z - mx)).reduce(_ + _)
      val errCols = langs.indices.map { i =>
        (exp(zCols(i) - mx) / sumExp -
          when(col("y") === langs(i), 1.0).otherwise(0.0)).as(s"_err_$i")
      }
      // persisted: consumed by the weight-gradient join AND the
      // sentinel bias branch below within the one collect action
      val errs = perDoc.select(col("id") +: errCols: _*).persist()
      // bounded driver handoff: ≤ 16^hexChars + 1 rows × |langs| grad
      // columns. Weight and bias gradients ride ONE collect and ONE
      // per-bucket aggregation: bias contributions enter as sentinel
      // rows (bucket = "__bias__", x = 1) unioned below the same
      // groupBy instead of a second aggregate branch.
      val gCols = langs.indices.map(i =>
        (sum(col("x") * col(s"_err_$i")) / n).as(s"_g_$i"))
      val gradRows = f.join(errs, Seq("id"))
        .select(col("bucket") +: col("x") +:
          langs.indices.map(i => col(s"_err_$i")): _*)
        .unionByName(errs.select(
          lit("__bias__").as("bucket") +: lit(1.0).as("x") +:
            langs.indices.map(i => col(s"_err_$i")): _*))
        .groupBy(col("bucket"))
        .agg(gCols.head, gCols.tail: _*)
        .collect()
      errs.unpersist()
      val grads = gradRows.iterator
        .filter(_.getString(0) != "__bias__")
        .flatMap(r => langs.indices.map(i =>
          (langs(i), r.getString(0)) -> r.getDouble(i + 1)))
        .toMap
      val biasGrads = gradRows.find(_.getString(0) == "__bias__")
        .map(r => langs.indices.map(i => langs(i) -> r.getDouble(i + 1)).toMap)
        .getOrElse(Map.empty[String, Double])
      weights = (weights.keySet ++ grads.keySet).map { k =>
        k -> (weights.getOrElse(k, 0.0) - lr * grads.getOrElse(k, 0.0))
      }.toMap
      biases = biases.map { case (l, b) =>
        l -> (b - lr * biasGrads.getOrElse(l, 0.0))
      }
    }
    }
    f.unpersist()
    LangIdModel(
      langs,
      weights.toSeq.map { case ((l, b), w) => (l, b, w) }
        .toDF("lang", "bucket", "w"),
      biases, hexChars)
  }

  /** Identify each doc's language with a trained [[LangIdModel]]:
    * per doc the softmax argmax over languages — `(id, lang, confidence)`
    * with a deterministic tie-break (language ascending). One feature
    * pass, one broadcast join against the capped weight table, one
    * per-doc window — the [[scoreWithClassifier]] shape, streaming-
    * deployable the same way. Token-less docs get the bias-only
    * argmax (the prior), never a dropped row.
    *
    * Scale: no (doc × language) grid ever materializes — the per-doc
    * dots are |langs| aggregate columns over the id-partitioned feature
    * frame, each feature row paying one hash probe per language
    * (round 20; the prior broadcast-join form fanned every feature row
    * |matched langs| ways and ran two per-doc windows on the result).
    * Per-doc cost is |features|·|langs| multiply-adds riding the
    * feature partitioning — compute-parallel, no extra shuffle beyond
    * the per-doc aggregation. A language none of whose (lang, bucket)
    * pairs match a doc (possible only under model/corpus drift —
    * training writes a weight row for every pair it sees) scores its
    * bias-only z and competes in the softmax at the prior, which is
    * also exactly what featureless docs receive.
    */
  def langIdWith(
      docs: DataFrame,
      model: LangIdModel,
      textCol: String,
      idCol: String): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // Round 20 (guide §2.4 — the trainLangId iteration treatment at
    // inference): the bounded weight table (≤ |langs|·16^hexChars rows
    // by the model contract) is collected once and rides the plan as
    // per-language codegen'd hash-lookup expressions; the per-doc
    // softmax/argmax computes across L aggregate columns of one row.
    // This removes the broadcast weight join's (feature-row × lang)
    // fanout, the (id, lang)-keyed aggregation and BOTH per-doc windows
    // — scoring is one aggregation over the id-partitioned feature
    // frame. A language with no matched bucket now scores its bias-only
    // z (= the prior) instead of being omitted from the softmax — the
    // two differ only under model/corpus drift (training writes a
    // weight row for every (lang, bucket) it sees, so its own corpus
    // always matches all languages or none).
    val wRows = model.weights.select(col("lang").cast("string"),
      col("bucket").cast("string"), col("w").cast("double")).collect()
    val wMaps = model.langs.map { l =>
      wRows.iterator.filter(_.getString(0) == l)
        .map(r => r.getString(1) -> r.getDouble(2)).toMap
    }
    val normW = Window.partitionBy(col("id"))
    val dotCols = model.langs.indices.map { i =>
      sum(col("x") *
        graft.plans.HashExpressions.weightOf(col("bucket"), wMaps(i)))
        .as(s"_dot_$i")
    }
    val perDoc = featureBuckets(docs, textCol, idCol, model.hexChars)
      .withColumn("x", col("m") / sum(col("m")).over(normW))
      .groupBy(col("id"))
      .agg(dotCols.head, dotCols.tail: _*)
    val zCols = model.langs.indices.map(i =>
      col(s"_dot_$i") + lit(model.biases(model.langs(i))))
    // softmax (max-subtracted, shift-invariant) across the L columns;
    // the winner's confidence is exp(0)/Σ. Argmax tie-break = language
    // ascending (the documented contract): the WHEN chain probes
    // z == max in ascending-language order, first hit wins.
    val mx = greatest(zCols: _*)
    val sumExp = zCols.map(z => exp(z - mx)).reduce(_ + _)
    val ascending = model.langs.indices.sortBy(model.langs)
    val langChain = ascending.tail
      .foldLeft(when(zCols(ascending.head) === mx,
        lit(model.langs(ascending.head)))) { (acc, i) =>
        acc.when(zCols(i) === mx, lit(model.langs(i)))
      }
    val featured = perDoc.select(col("id"), langChain.as("lang"),
      (lit(1.0) / sumExp).as("confidence"))
    // bias-only prior for docs with NO scored features: one constant
    // (argmax_l bias_l, softmax at the biases), no per-doc grid
    val priorLang = model.langs.minBy(l => (-model.biases(l), l))
    val priorExp = model.langs.map(l => math.exp(model.biases(l) -
      model.langs.map(model.biases).max))
    val priorConf = math.exp(model.biases(priorLang) -
      model.langs.map(model.biases).max) / priorExp.sum
    docs.select(cr(idCol).as("id"))
      .join(featured.select(col("id")), Seq("id"), "left_anti")
      .select(col("id"), lit(priorLang).as("lang"),
        lit(priorConf).as("confidence"))
      .unionByName(featured)
  }

  /** Persist a trained [[LangIdModel]] as ONE versioned snapshot table
    * (the [[saveClassifier]] posture, keyed per language): weight rows
    * `(lang, bucket, w)` plus reserved `__bias__` rows per language
    * and one `__hex_chars__` row — a version is ATOMIC across every
    * language's components. Returns the published version.
    */
  def saveLangIdModel(
      spark: org.apache.spark.sql.SparkSession,
      warehouse: String,
      table: String,
      model: LangIdModel): Int = {
    import spark.implicits._
    val rows = model.weights
      .select(col("lang").cast("string"), col("bucket").cast("string"),
        col("w").cast("double"))
      .unionByName(model.biases.toSeq
        .map { case (l, b) => (l, "__bias__", b) }
        .toDF("lang", "bucket", "w"))
      .unionByName(Seq(("__meta__", "__hex_chars__", model.hexChars.toDouble))
        .toDF("lang", "bucket", "w"))
    graft.sink.Snapshots.publish(spark, warehouse, table, rows)
  }

  /** Load a persisted language-ID model (current version, or pinned)
    * back into the [[LangIdModel]] form [[langIdWith]] consumes. Only
    * the bounded bias/meta rows are collected; the weight frame stays
    * a parquet scan broadcast at score time.
    */
  def loadLangIdModel(
      spark: org.apache.spark.sql.SparkSession,
      warehouse: String,
      table: String,
      version: Int = -1): LangIdModel = {
    val df =
      if (version < 0) graft.sink.Snapshots.current(spark, warehouse, table)
      else graft.sink.Snapshots.version(spark, warehouse, table, version)
    val meta = df.filter(col("bucket").startsWith("__")).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    val hexChars = meta.getOrElse(("__meta__", "__hex_chars__"),
      throw new IllegalStateException(
        s"$table: missing __hex_chars__ row")).toInt
    val biases = meta.collect {
      case ((l, "__bias__"), b) => l -> b
    }
    require(biases.nonEmpty, s"$table: no __bias__ rows found")
    LangIdModel(
      biases.keys.toIndexedSeq.sorted,
      df.filter(!col("bucket").startsWith("__"))
        .select("lang", "bucket", "w"),
      biases, hexChars)
  }

  // ------------------------------------------------------------------
  // Byte-pair encoding (Sennrich et al., ACL 2016)
  // ------------------------------------------------------------------

  /** Train a BPE merge table on a corpus — the reference subword
    * algorithm (Sennrich, Haddow & Birch, ACL 2016), distributed
    * where the data is big and local where the loop is long: ONE
    * corpus scan builds the distinct `(word, freq)` table (`minFreq`
    * prunes the hapax tail, `maxWords` hard-caps it — standard
    * practice, published BPE vocabularies train on pruned word
    * dicts), and when that table fits `localMergeMaxWords` (the
    * bounded-handoff posture of the IVF sample and the classifier
    * gradient) it is collected ONCE and the merge loop runs
    * driver-local with incremental pair-count maintenance — real
    * 32k-merge vocabularies train in seconds instead of one Spark
    * aggregate + argmax collect per merge (~0.3 s/merge ≈ hours at
    * 32k; docs/SCALE.md has the measured row). Above the cap the
    * per-merge distributed loop below remains: (a) one
    * vocabulary-sized pair-count aggregate, (b) a deterministic
    * argmax, (c) one codegen'd
    * [[graft.plans.BpeExpressions.mergePair]] projection, lineage cut
    * with `localCheckpoint` every 8 merges.
    *
    * BOTH paths produce the identical merge sequence: integer pair
    * counts summed by word frequency, argmax by (count desc, left,
    * right) where string order is unsigned UTF-8 byte order — exactly
    * Spark's UTF8String ordering, replicated byte-wise in the local
    * comparator (Java String.compareTo would diverge on
    * supplementary-plane characters). CorpusSpec pins local ≡
    * distributed ≡ a code-independent plain-Scala replica.
    *
    * Scale: a 100 TB corpus contributes one tokenize+count scan; the
    * merge loop is O(vocabulary), which `maxWords` bounds — so train
    * cost is independent of corpus size past the scan, and the loop
    * runs wherever that bound puts it.
    *
    * Returns merges in rank order (first learned = applied first).
    * Training is iterative driver-side control flow — like
    * [[trainQualityClassifier]], gated rows-only with a
    * code-independent plain-Scala replica in CorpusSpec (exact match:
    * BPE is all integer counts, no float anywhere).
    */
  def bpeTrain(
      df: DataFrame,
      textCol: String,
      numMerges: Int,
      minFreq: Long = 1L,
      minPairFreq: Long = 2L,
      maxWords: Option[Int] = None,
      localMergeMaxWords: Int = 1 << 16): Seq[(String, String)] = {
    require(numMerges >= 1)
    val wordsBase = df
      .select(explode(TextFunctions.tokens(cr(textCol))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .filter(col("freq") >= minFreq)
    val capped = maxWords.fold(wordsBase)(n =>
      wordsBase.orderBy(col("freq").desc, col("word")).limit(n))
    if (localMergeMaxWords > 0) {
      // probe with limit+1: if the dict fits the cap, these rows ARE
      // the whole dict and the loop never touches the cluster again
      val probe = capped.select(col("word"), col("freq"))
        .limit(localMergeMaxWords + 1).collect()
      if (probe.length <= localMergeMaxWords)
        return bpeTrainLocal(
          probe.map(r => (r.getString(0), r.getLong(1))),
          numMerges, minPairFreq)
    }
    var words = capped
      .select(
        concat(split(col("word"), ""), array(lit("</w>"))).as("syms"),
        col("freq"))
      .localCheckpoint()
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var done = false
    var rank = 0
    while (rank < numMerges && !done) {
      val top = words
        // fully-merged words (1 symbol) have no pairs; a plan-level
        // filter is safe here — each iteration's aggregate is its own
        // plan, nothing shares a subtree with it
        .filter(size(col("syms")) >= 2)
        .select(explode(
          transform(sequence(lit(1), size(col("syms")) - 1), i =>
            struct(element_at(col("syms"), i).as("l"),
              element_at(col("syms"), i + 1).as("r")))).as("p"),
          col("freq"))
        .groupBy(col("p.l"), col("p.r")).agg(sum(col("freq")).as("c"))
        .orderBy(col("c").desc, col("l"), col("r"))
        .limit(1).collect()
      if (top.isEmpty || top(0).getLong(2) < minPairFreq) done = true
      else {
        val (l, r) = (top(0).getString(0), top(0).getString(1))
        merges += ((l, r))
        words = words.withColumn("syms",
          graft.plans.BpeExpressions.mergePair(col("syms"), l, r))
        rank += 1
        if (rank % 8 == 0) words = words.localCheckpoint()
      }
    }
    merges.toSeq
  }

  /** Unsigned UTF-8 byte comparison — Spark's UTF8String binary order,
    * so local and distributed argmax tie-breaks agree even on
    * supplementary-plane symbols (String.compareTo orders by UTF-16
    * unit and would diverge there).
    */
  private def utf8Lt(a: String, b: String): Boolean = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    val n = math.min(x.length, y.length)
    while (i < n) {
      val d = (x(i) & 0xff) - (y(i) & 0xff)
      if (d != 0) return d < 0
      i += 1
    }
    x.length < y.length
  }

  /** Driver-local BPE merge loop over the collected `(word, freq)`
    * dict — same integer math, same argmax order as the distributed
    * path ([[bpeTrain]] scaladoc). Incremental maintenance: pair
    * counts and a pair→words index are updated only for the words
    * containing the merged pair, so each merge costs O(affected words
    * × word length) plus one O(distinct pairs) argmax scan — ~32k
    * merges over a 64k-word dict in seconds (docs/SCALE.md).
    */
  private def bpeTrainLocal(
      dict: Array[(String, Long)],
      numMerges: Int,
      minPairFreq: Long): Seq[(String, String)] = {
    val syms = dict.map { case (w, _) =>
      val b = scala.collection.mutable.ArrayBuffer.empty[String]
      w.foreach(c => b += String.valueOf(c))
      b += "</w>"
      b
    }
    val freq = dict.map(_._2)
    val counts = new scala.collection.mutable.HashMap[(String, String), Long]
    val where = new scala.collection.mutable.HashMap[
      (String, String), scala.collection.mutable.HashSet[Int]]
    var w = 0
    while (w < syms.length) {
      val s = syms(w)
      var i = 0
      while (i + 1 < s.length) {
        val p = (s(i), s(i + 1))
        counts.update(p, counts.getOrElse(p, 0L) + freq(w))
        where.getOrElseUpdate(
          p, new scala.collection.mutable.HashSet[Int]) += w
        i += 1
      }
      w += 1
    }
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var done = false
    while (merges.size < numMerges && !done) {
      // argmax: max count, then unsigned-UTF-8-lex (l, r) — the exact
      // distributed orderBy(c desc, l, r)
      var best: (String, String) = null
      var bestC = 0L
      counts.foreach { case (p, c) =>
        if (best == null || c > bestC ||
          (c == bestC && (utf8Lt(p._1, best._1) ||
            (p._1 == best._1 && utf8Lt(p._2, best._2))))) {
          best = p; bestC = c
        }
      }
      if (best == null || bestC < minPairFreq) done = true
      else {
        merges += best
        val (l, r) = best
        val affected = where.getOrElse(
          best, new scala.collection.mutable.HashSet[Int]).toArray
        java.util.Arrays.sort(affected)
        affected.foreach { idx =>
          // retract this word's pairs, splice the merge, re-add
          val s = syms(idx)
          var i = 0
          while (i + 1 < s.length) {
            val p = (s(i), s(i + 1))
            val c = counts.getOrElse(p, 0L) - freq(idx)
            if (c <= 0L) { counts.remove(p); where.remove(p) }
            else counts.update(p, c)
            where.get(p).foreach(_ -= idx)
            i += 1
          }
          val out = scala.collection.mutable.ArrayBuffer.empty[String]
          i = 0
          while (i < s.length) {
            if (i + 1 < s.length && s(i) == l && s(i + 1) == r) {
              out += (l + r); i += 2
            } else { out += s(i); i += 1 }
          }
          syms(idx) = out
          i = 0
          while (i + 1 < out.length) {
            val p = (out(i), out(i + 1))
            counts.update(p, counts.getOrElse(p, 0L) + freq(idx))
            where.getOrElseUpdate(
              p, new scala.collection.mutable.HashSet[Int]) += idx
            i += 1
          }
        }
      }
    }
    merges.toSeq
  }

  /** Segment `textCol` with a trained merge table: adds `bpe_tokens`
    * (array of subword strings) and `n_bpe_tokens`. Pure narrow
    * codegen'd work — the REAL token count for [[packSequences]] /
    * [[tokenQuotaPerGroup]] budgets, replacing the whitespace and
    * regex-subword approximations.
    */
  def bpeEncode(
      df: DataFrame, textCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    val toks = graft.plans.BpeExpressions.encode(cr(textCol), merges)
    df.withColumn("bpe_tokens", toks)
      .withColumn("n_bpe_tokens", size(col("bpe_tokens")).cast("long"))
  }

  /** Persist a trained [[LinearModel]] (quality classifier) as a
    * VERSIONED snapshot ([[graft.sink.Snapshots]] posture): GD training
    * is iterative, corpus-sensitive, and float-reduction-ordered, so a
    * per-deployment retrain silently shifts every page's quality score
    * and keep/drop decision — production trains ONCE and every later
    * batch run / streaming scorer LOADS. The bias and feature-space
    * width ride in the same table under reserved `__`-prefixed bucket
    * keys (real buckets are pure hex, so no collision is possible).
    * Returns the published version.
    */
  def saveClassifier(
      spark: org.apache.spark.sql.SparkSession,
      warehouse: String,
      table: String,
      model: LinearModel): Int = {
    val meta = Seq(
      ("__bias__", model.bias),
      ("__hex_chars__", model.hexChars.toDouble))
    import spark.implicits._
    val rows = model.weights
      .select(col("bucket").cast("string"), col("w").cast("double"))
      .unionByName(meta.toDF("bucket", "w"))
    graft.sink.Snapshots.publish(spark, warehouse, table, rows)
  }

  /** Load a persisted classifier (current snapshot version, or a pinned
    * `version` for reproducing an old run's keep/drop decisions) back
    * into the [[LinearModel]] form [[scoreWithClassifier]] and the
    * streaming scorer consume. The weight frame stays a DataFrame (a
    * bounded parquet scan, broadcast at score time) — nothing
    * corpus-sized is collected.
    */
  def loadClassifier(
      spark: org.apache.spark.sql.SparkSession,
      warehouse: String,
      table: String,
      version: Int = -1): LinearModel = {
    val df =
      if (version < 0) graft.sink.Snapshots.current(spark, warehouse, table)
      else graft.sink.Snapshots.version(spark, warehouse, table, version)
    val meta = df.filter(col("bucket").startsWith("__"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val bias = meta.getOrElse("__bias__",
      throw new IllegalStateException(s"$table: missing __bias__ row"))
    val hexChars = meta.getOrElse("__hex_chars__",
      throw new IllegalStateException(
        s"$table: missing __hex_chars__ row")).toInt
    LinearModel(
      df.filter(!col("bucket").startsWith("__")).select("bucket", "w"),
      bias, hexChars)
  }

  /** Persist a fitted [[DsirModel]] as ONE versioned snapshot table
    * ([[graft.sink.Snapshots]] posture): the model's three frames +
    * feature width pack into `(kind, bucket, c)` rows — `t`/`r` rows
    * carry the target/raw bucket counts, reserved `__`-prefixed kinds
    * carry the totals and `hexChars` — so a version is ATOMIC (a
    * multi-table layout could publish components at mismatched
    * versions and silently mix two models' statistics). Reference
    * importance-sampling statistics are corpus-snapshots by nature:
    * fit once against the frozen target, load in every later batch run
    * / streaming scorer; a refit against a moved corpus re-weights
    * every document. Returns the published version.
    */
  def saveDsirModel(
      spark: org.apache.spark.sql.SparkSession,
      warehouse: String,
      table: String,
      model: DsirModel): Int = {
    import spark.implicits._
    val packed = model.targetCounts
      .select(lit("t").as("kind"), col("bucket"), col("tc").cast("long").as("c"))
      .unionByName(model.rawCounts.select(
        lit("r").as("kind"), col("bucket"), col("rc").cast("long").as("c")))
      .unionByName(model.totals.select(
        lit("__t_tot__").as("kind"), lit(null).cast("string").as("bucket"),
        col("t_tot").cast("long").as("c")))
      .unionByName(model.totals.select(
        lit("__r_tot__").as("kind"), lit(null).cast("string").as("bucket"),
        col("r_tot").cast("long").as("c")))
      .unionByName(Seq(("__hex_chars__", null: String, model.hexChars.toLong))
        .toDF("kind", "bucket", "c"))
    graft.sink.Snapshots.publish(spark, warehouse, table, packed)
  }

  /** Load a persisted DSIR model (current version, or pinned) back into
    * the [[DsirModel]] form [[scoreWithDsirModel]] and the streaming
    * scorer consume — frames stay bounded parquet scans, only the two
    * totals and the width are collected.
    */
  def loadDsirModel(
      spark: org.apache.spark.sql.SparkSession,
      warehouse: String,
      table: String,
      version: Int = -1): DsirModel = {
    val df =
      if (version < 0) graft.sink.Snapshots.current(spark, warehouse, table)
      else graft.sink.Snapshots.version(spark, warehouse, table, version)
    val meta = df.filter(col("kind").startsWith("__"))
      .select(col("kind"), col("c")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    def need(k: String): Long = meta.getOrElse(k,
      throw new IllegalStateException(s"$table: missing $k row"))
    DsirModel(
      df.filter(col("kind") === "t").select(col("bucket"), col("c").as("tc")),
      df.filter(col("kind") === "r").select(col("bucket"), col("c").as("rc")),
      df.sparkSession.range(1).select(
        lit(need("__t_tot__")).as("t_tot"), lit(need("__r_tot__")).as("r_tot")),
      need("__hex_chars__").toInt)
  }

  /** Persist a trained [[LmNModel]] (stupid-backoff n-gram LM) as ONE
    * versioned snapshot table: every order's counts pack into
    * `(k, grams, c)` rows — order-k grams as a k-element array, the
    * k = 0 row carrying the total token count — so a version is atomic
    * across all orders (the multi-table alternative can mix two
    * trainings). The reference LM is the canonical load-don't-retrain
    * artifact: CCNet-style scoring depends on the REFERENCE corpus
    * staying fixed while the scored stream moves. Returns the
    * published version.
    */
  def saveLmNModel(
      spark: org.apache.spark.sql.SparkSession,
      warehouse: String,
      table: String,
      model: LmNModel): Int = {
    val packed = (1 to model.n).map { k =>
      model.orders(k - 1).select(
        lit(k).as("k"),
        array((1 to k).map(j => col(s"g$j")): _*).as("grams"),
        col("c").cast("long").as("c"))
    }.reduce(_.unionByName(_))
      .unionByName(model.totals.select(
        lit(0).as("k"),
        array().cast("array<string>").as("grams"),
        col("n_tokens").cast("long").as("c")))
    graft.sink.Snapshots.publish(spark, warehouse, table, packed)
  }

  /** Load a persisted n-gram LM (current version, or pinned) back into
    * the [[LmNModel]] form [[scoreWithLmNModel]] and
    * its [[graft.streaming.Streams.perBatch]] deployment consume. Only the
    * order `n` is collected; every count frame stays a parquet scan.
    */
  def loadLmNModel(
      spark: org.apache.spark.sql.SparkSession,
      warehouse: String,
      table: String,
      version: Int = -1): LmNModel = {
    val df =
      if (version < 0) graft.sink.Snapshots.current(spark, warehouse, table)
      else graft.sink.Snapshots.version(spark, warehouse, table, version)
    // max(k) over an EMPTY snapshot is null — fold that into the
    // friendly error instead of letting getInt throw an NPE
    val maxK = df.agg(max(col("k"))).head()
    val n = if (maxK.isNullAt(0)) 0 else maxK.getInt(0)
    require(n >= 1, s"$table: no order rows found")
    val orders = (1 to n).map { k =>
      df.filter(col("k") === k).select(
        (1 to k).map(j => element_at(col("grams"), j).as(s"g$j")) :+
          col("c"): _*)
    }.toIndexedSeq
    val totals = df.filter(col("k") === 0).select(col("c").as("n_tokens"))
    LmNModel(n, orders, totals)
  }

  /** Persist a trained BPE merge table as a VERSIONED snapshot
    * ([[graft.sink.Snapshots]] posture — staged write, manifest with
    * row count + content hash, atomic pointer flip), so a production
    * deployment trains ONCE and every later batch run / streaming
    * scorer / replica session LOADS the artifact instead of
    * retraining (a [[bpeTrain]] re-run costs a full corpus scan and,
    * worse, a corpus that has since grown yields a DIFFERENT merge
    * sequence — token counts silently shift between runs). Rank is
    * stored explicitly: merges are ordered (first learned = applied
    * first) and parquet row order is not a contract. Returns the
    * published version.
    */
  def saveBpeMerges(
      spark: org.apache.spark.sql.SparkSession,
      warehouse: String,
      table: String,
      merges: Seq[(String, String)]): Int = {
    require(merges.nonEmpty, "refusing to publish an empty merge table")
    import scala.jdk.CollectionConverters._
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("rank",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("left",
        org.apache.spark.sql.types.StringType, nullable = false),
      org.apache.spark.sql.types.StructField("right",
        org.apache.spark.sql.types.StringType, nullable = false)))
    val rows: java.util.List[org.apache.spark.sql.Row] =
      merges.zipWithIndex.map { case ((l, r), i) =>
        org.apache.spark.sql.Row(i, l, r): org.apache.spark.sql.Row
      }.asJava
    graft.sink.Snapshots.publish(
      spark, warehouse, table, spark.createDataFrame(rows, schema))
  }

  /** Load a persisted BPE merge table (the current snapshot version,
    * or a pinned `version` for reproducible re-tokenization of an old
    * training run) back into the rank-ordered form [[bpeEncode]] and
    * the streaming scorers consume. The collect is bounded by the
    * vocabulary's merge count (32k rows for published tokenizers),
    * never corpus-sized.
    */
  def loadBpeMerges(
      spark: org.apache.spark.sql.SparkSession,
      warehouse: String,
      table: String,
      version: Int = -1): Seq[(String, String)] = {
    val df =
      if (version < 0) graft.sink.Snapshots.current(spark, warehouse, table)
      else graft.sink.Snapshots.version(spark, warehouse, table, version)
    df.orderBy(col("rank"))
      .select(col("left"), col("right"))
      .collect()
      .map(r => (r.getString(0), r.getString(1)))
      .toSeq
  }

  /** The Gopher document-quality rules (Rae et al. 2021, Appendix
    * A1.1 — the non-repetition family; [[q76]]'s repetition signals are
    * the other half), as one declarative pass over the fused
    * [[graft.plans.GopherStatsExpr]] counts. Every published threshold
    * is applied as a PURE INTEGER comparison (mean-word-length 3..10
    * becomes `3n <= Σlen <= 10n`, ratio rules cross-multiply), so the
    * whole row — nine counts plus the `kept` flag — is oracle-exact
    * (q132). Thresholds, per the paper: 50..100,000 words; mean word
    * length 3..10 chars; symbol-to-word ratio <= 0.1 for `#` and for
    * ellipses; <= 90% of lines bullet-started; <= 30% ellipsis-ended;
    * >= 80% of words with an alphabetic char; >= 2 of the 8 stop
    * words. Pure narrow scan-bound work, like [[c4Clean]].
    */
  def gopherQuality(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    // null pages read as empty (the c4Clean null-flag rationale): all
    // counts 0, kept = false via the 50-word floor — never NULL
    val st = graft.plans.GopherStatsExpr(coalesce(cr(textCol), lit("")))
    def f(name: String) = st.getField(name)
    df.select(
      cr(idCol).as("id"),
      f("n_words").as("n_words"),
      f("sum_word_len").as("sum_word_len"),
      f("n_alpha_words").as("n_alpha_words"),
      f("n_hash").as("n_hash"),
      f("n_ellipsis").as("n_ellipsis"),
      f("n_lines").as("n_lines"),
      f("n_bullet_lines").as("n_bullet_lines"),
      f("n_ellipsis_lines").as("n_ellipsis_lines"),
      f("n_stop_hits").as("n_stop_hits"),
      qualityKept(f).as("kept"))
  }

  /** The 10 non-repetition thresholds as one integer-only predicate
    * over the [[graft.plans.GopherStatsExpr]] fields (shared by
    * [[gopherQuality]] and [[gopherFlags]] — one source of truth for
    * the published rule set, like [[repetitionKept]] for its half).
    */
  private def qualityKept(f: String => Column): Column =
    f("n_words") >= 50L && f("n_words") <= 100000L &&
      lit(3L) * f("n_words") <= f("sum_word_len") &&
      f("sum_word_len") <= lit(10L) * f("n_words") &&
      lit(10L) * f("n_hash") <= f("n_words") &&
      lit(10L) * f("n_ellipsis") <= f("n_words") &&
      lit(10L) * f("n_bullet_lines") <= lit(9L) * f("n_lines") &&
      lit(10L) * f("n_ellipsis_lines") <= lit(3L) * f("n_lines") &&
      lit(5L) * f("n_alpha_words") >= lit(4L) * f("n_words") &&
      f("n_stop_hits") >= 2L

  /** The Gopher REPETITION rules (Rae et al. 2021, Appendix A1.1 —
    * the other half of [[gopherQuality]]): duplicate-line and
    * duplicate-paragraph fractions, their character fractions, the
    * top 2-/3-/4-gram character fractions, and the duplicate
    * 5–10-gram character fractions, all from the fused one-pass
    * [[graft.plans.GopherRepStatsExpr]] counts. Every published
    * threshold cross-multiplies to a PURE INTEGER comparison (the
    * [[gopherQuality]] discipline), so the whole row — sixteen counts
    * plus `kept` — is oracle-exact (q134). Thresholds, per the
    * paper's Table A1: duplicate line fraction <= 0.30, duplicate
    * paragraph fraction <= 0.30, duplicate line character fraction
    * <= 0.20, duplicate paragraph character fraction <= 0.20, top
    * 2-/3-/4-gram character fraction <= 0.20/0.18/0.16, duplicate
    * 5-..10-gram character fraction <= 0.15/0.14/0.13/0.12/0.11/0.10.
    * Counting conventions (occurrences-beyond-the-first for
    * lines/paragraphs, all-occurrences for duplicate n-grams,
    * longest-argmax tie-break for the top gram) are pinned in the
    * expression's scaladoc. Pure narrow scan-bound work — zero
    * shuffle, like [[c4Clean]].
    */
  def gopherRepetition(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val st = graft.plans.GopherRepStatsExpr(coalesce(cr(textCol), lit("")))
    def f(name: String) = st.getField(name)
    df.select(
      (Seq(cr(idCol).as("id")) ++
        graft.plans.GopherRepStatsExpr.schema.fieldNames.toSeq
          .map(n => f(n).as(n)) ++
        Seq(repetitionKept(f).as("kept"))): _*)
  }

  /** The 13 repetition thresholds as one integer-only predicate over
    * the [[graft.plans.GopherRepStatsExpr]] fields (shared by
    * [[gopherRepetition]] and [[gopherQualityFull]]).
    */
  private def repetitionKept(f: String => Column): Column =
    lit(10L) * f("dup_lines") <= lit(3L) * f("n_lines") &&
      lit(10L) * f("dup_paras") <= lit(3L) * f("n_paras") &&
      lit(5L) * f("dup_line_chars") <= f("text_chars") &&
      lit(5L) * f("dup_para_chars") <= f("text_chars") &&
      lit(5L) * f("top2_chars") <= f("text_chars") &&
      lit(50L) * f("top3_chars") <= lit(9L) * f("text_chars") &&
      lit(25L) * f("top4_chars") <= lit(4L) * f("text_chars") &&
      lit(20L) * f("dup5_chars") <= lit(3L) * f("text_chars") &&
      lit(50L) * f("dup6_chars") <= lit(7L) * f("text_chars") &&
      lit(100L) * f("dup7_chars") <= lit(13L) * f("text_chars") &&
      lit(25L) * f("dup8_chars") <= lit(3L) * f("text_chars") &&
      lit(100L) * f("dup9_chars") <= lit(11L) * f("text_chars") &&
      lit(10L) * f("dup10_chars") <= f("text_chars")

  /** The COMPLETE published Gopher document filter — both A1.1
    * halves ([[gopherQuality]]'s document/word/symbol rules AND
    * [[gopherRepetition]]'s repetition rules) in one projection:
    * two fused one-pass expressions over the same text, still zero
    * shuffle. Emits both half-flags for auditability plus the
    * combined `kept`; a user running "the Gopher rules" gets the
    * actual published filter, not half of it.
    */
  def gopherQualityFull(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val (qualityKept, repKept) = gopherFlags(coalesce(cr(textCol), lit("")))
    df.select(
      cr(idCol).as("id"),
      qualityKept.as("quality_kept"),
      repKept.as("repetition_kept"),
      (qualityKept && repKept).as("kept"))
  }

  /** The two Gopher half-filter predicates over a text column —
    * (quality half, repetition half), each a pure integer-compared
    * projection over its fused stats expression. Shared by
    * [[gopherQualityFull]] and [[curatePages]].
    */
  private def gopherFlags(text: Column): (Column, Column) = {
    val q = graft.plans.GopherStatsExpr(text)
    val r = graft.plans.GopherRepStatsExpr(text)
    (qualityKept(q.getField), repetitionKept(r.getField))
  }

  /** The full quality-SIGNAL frame — RedPajama-v2's "signals, not
    * decisions" design (Together AI, 2023: ship every per-document
    * quality measurement; let the consumer pick thresholds): ONE
    * zero-shuffle projection emitting, per doc, the complete integer
    * signal surface of every heuristic family the engine implements —
    * the C4 line/page counts ([[c4Clean]]'s fields, `c4_`-prefixed),
    * both Gopher A1.1 halves' raw counts ([[gopherQuality]]'s nine and
    * [[gopherRepetition]]'s sixteen; the repetition line count lands
    * as `rep_n_lines` — trimmed NON-EMPTY lines, a different
    * convention from the quality half's raw split), the language guess
    * and whitespace token count — plus the three published half-flags
    * (`c4_kept`/`quality_kept`/`repetition_kept`; the conjunction is
    * the caller's one-liner, deliberately NOT decided here). Filters
    * become audits: the same frame answers "what would C4 alone have
    * dropped" and "how close is this page to the Gopher floor"
    * without re-running anything.
    *
    * Scale shape: three fused one-pass expressions plus two scalar
    * text functions over the same text column in one projection —
    * narrow, codegen'd, zero shuffle, zero joins (the [[c4Clean]] /
    * [[gopherQualityFull]] posture; at 100 TB this is scan-bound by
    * construction).
    */
  def qualitySignals(
      df: DataFrame, textCol: String, idCol: String,
      badPhrases: Seq[String] = Seq("lorem ipsum")): DataFrame = {
    val t = coalesce(cr(textCol), lit(""))
    val c4 = graft.plans.C4StatsExpr(t)
    val q = graft.plans.GopherStatsExpr(t)
    val r = graft.plans.GopherRepStatsExpr(t)
    val badHit = badPhrases
      .map(p => lower(t).contains(p.toLowerCase(java.util.Locale.ROOT)))
      .foldLeft(lit(false))(_ || _)
    df.select((Seq(
      cr(idCol).as("id"),
      c4.getField("n_lines").cast("long").as("c4_n_lines"),
      c4.getField("n_lines_kept").cast("long").as("c4_n_lines_kept"),
      c4.getField("n_sentences").cast("long").as("c4_n_sentences"),
      (c4.getField("n_sentences").cast("long") >= 5L &&
        !badHit && !t.contains("{")).as("c4_kept")) ++
      graft.plans.GopherStatsExpr.schema.fieldNames.toSeq
        .map(n => q.getField(n).as(n)) ++
      Seq(qualityKept(q.getField).as("quality_kept")) ++
      graft.plans.GopherRepStatsExpr.schema.fieldNames.toSeq
        .map(n => r.getField(n)
          .as(if (n == "n_lines") "rep_n_lines" else n)) ++
      Seq(
        repetitionKept(r.getField).as("repetition_kept"),
        TextFunctions.langId(t).as("lang"),
        TextFunctions.tokenCount(t).cast("long").as("n_tokens"))): _*)
  }

  /** The STATELESS prefix of the published curation pipeline — C4
    * line/page cleaning then the complete Gopher filter (both A1.1
    * halves) over the cleaned text — as one narrow per-doc transform:
    * emits `(id, clean, c4_kept, quality_kept, repetition_kept, kept)`
    * with `kept` the conjunction. Zero shuffle, zero state — so the
    * SAME function deploys unchanged on a STREAMING DataFrame
    * (`readStream → curatePages → sink`; StreamsSpec pins streaming ≡
    * batch), the production crawl-ingest shape where per-page
    * filtering runs on arrival and only the stateful stages (dedup,
    * decontamination) run against stores. The q135 gate proves the
    * batch composition against an independent SQL recomputation.
    */
  def curatePages(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val c4 = c4Clean(df, textCol, idCol)
      .select(col("id"), col("text").as("clean"), col("kept").as("c4_kept"))
    val (qualityKept, repKept) = gopherFlags(coalesce(col("clean"), lit("")))
    c4.select(
      col("id"), col("clean"), col("c4_kept"),
      qualityKept.as("quality_kept"),
      repKept.as("repetition_kept"),
      (col("c4_kept") && qualityKept && repKept).as("kept"))
  }

  /** URL-keyed exact dedup — the first dedup stage of every published
    * web pipeline (C4 and RefinedWeb both dedup fetched pages by URL
    * before any content hashing): canonicalize each row's URL
    * ([[TextFunctions.canonicalizeUrl]] — RFC 3986 normalization +
    * tracker stripping) and keep the minimum-`id` row per canonical
    * key. Every input row is emitted with its `canonical_url` and a
    * `keep` flag (audit-transparent, like [[c4Clean]]); non-URL values
    * pass through canonicalization unchanged and dedup as their own
    * keys.
    *
    * Scale shape: keep-first is min-aggregation + an equi-join back —
    * both partial-aggregated keyed shuffles on the canonical key —
    * NOT a per-group sort window: a hot canonical key (a crawl
    * frontier re-fetching one page millions of times) reduces to one
    * min cell map-side instead of serializing a single partition sort.
    * Null-URL rows never enter the join at all: their `keep` flag is
    * constant `true` (a null URL is not dedupable content), so they
    * split off BEFORE the shuffle and union back — at crawl scale a
    * meaningful missing-URL fraction would otherwise funnel every
    * null row through one planted hot key on both join sides.
    */
  /** RefinedWeb-style URL blocklist filtering (Penedo et al. 2023
    * §3.1 filter a crawl against a 4.6M-entry adult/fraud DOMAIN
    * blocklist — the UT1 lists — before any content runs): a page is
    * blocked when its host or ANY parent domain is listed
    * (`ads.bad.example` is blocked by a `bad.example` entry — the UT1
    * matching convention). The blocklist is a DataFrame, because at
    * its real size it is corpus-joinable data, not an expression:
    * each page's host expands to its last-`maxLevels` label suffixes
    * and LEFT SEMI joins the list — Catalyst broadcasts a small list
    * and falls back to the keyed shuffle at 4.6M (both correct; the
    * suffix explode is ≤ maxLevels rows per page, narrow).
    *
    * Emits every row: `(id, host, blocked, kept)` — null / non-URL
    * values have an empty host and are never blocked (a missing URL
    * is not evidence of a bad domain; drop-if-unknown is one
    * `filter(col("host") =!= "")` away).
    */
  def blockedUrlFilter(
      df: DataFrame, urlCol: String, idCol: String,
      domains: DataFrame, maxLevels: Int = 5): DataFrame = {
    require(maxLevels >= 1, "maxLevels >= 1")
    // coalesce: a NULL url must surface as the documented empty host,
    // not a null that vanishes from both filter(kept) and filter(!kept)
    val host = lower(TextFunctions.urlParts(
      coalesce(cr(urlCol), lit(""))).getField("host"))
    val withHost = df.select(cr(idCol).as("id"),
      regexp_replace(host, ":[0-9]+$", "").as("host"))
    val labels = split(col("host"), "\\.")
    val sufs = withHost.filter(col("host") =!= "")
      .select(col("id"), explode(transform(
        sequence(lit(1), least(size(labels), lit(maxLevels))),
        k => array_join(slice(labels, -k, k), "."))).as("_gbu_suffix"))
    val dom = domains.select(
      lower(domains.columns.headOption.map(col)
        .getOrElse(col("domain"))).as("_gbu_domain"))
    val hits = sufs
      .join(dom, col("_gbu_suffix") === col("_gbu_domain"), "left_semi")
      .select(col("id")).distinct()
      .withColumn("_gbu_blk", lit(true))
    withHost.join(hits, Seq("id"), "left")
      .select(col("id"), col("host"),
        coalesce(col("_gbu_blk"), lit(false)).as("blocked"),
        (!coalesce(col("_gbu_blk"), lit(false))).as("kept"))
  }

  def dedupByUrl(df: DataFrame, urlCol: String, idCol: String): DataFrame = {
    // the split predicate tests the RAW column (canonicalizeUrl is
    // null in ⟺ null out), so the null branch pays no regex chain and
    // an IS NULL on a source column pushes to the scan — the branches
    // partition the input instead of re-deriving it
    val nonNull = df.filter(cr(urlCol).isNotNull)
      .select(cr(idCol).as("id"),
        TextFunctions.canonicalizeUrl(cr(urlCol)).as("canonical_url"))
    // min-id per key as an UNORDERED window over the canonical-url
    // partitioning (round 21, guide §2.4): the previous groupBy +
    // self-join consumed `nonNull` twice, re-running the
    // canonicalization regex chain per consumer (q129's executed plan
    // showed 3 parquet scans, 0 reused exchanges) and paying a second
    // join exchange. One shuffle on canonical_url now serves both the
    // min and the flag; keep/rows/columns are identical (same min-id
    // rule). The window partitions by the dedup key — the same
    // hot-key exposure the join on canonical_url had.
    nonNull
      .withColumn("keep", col("id") === min(col("id")).over(
        Window.partitionBy(col("canonical_url"))))
      // "every input row is emitted": null-URL rows rejoin here with
      // their constant flag — a plain projection, no join, no hot key
      .unionByName(df.filter(cr(urlCol).isNull)
        .select(cr(idCol).as("id"),
          lit(null).cast("string").as("canonical_url"),
          lit(true).as("keep")))
  }
}
